package graft.perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a call the benchmark made into the engine. */
final case class SpanRec(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** Spans kept in memory and written out when the run ends. Each span's id
  * rides the SparkContext local property [[Tracer.SpanProp]], so the
  * listener can hand a job with no phase label to the span that enclosed
  * it. A disabled tracer runs the body and records nothing. */
final class Tracer(private var sc: SparkContext) {
  var enabled: Boolean = false

  /** Keep recording across a session restart. */
  def rebind(c: SparkContext): Unit = sc = c
  private val recs = mutable.ArrayBuffer.empty[SpanRec]
  private val names = mutable.Map.empty[Int, String]
  private var stack: List[Int] = Nil
  private var nextId = 1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      names(id) = name
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        recs += SpanRec(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp, stack.headOption.map(_.toString).orNull)
      }
    }

  def spans: Seq[SpanRec] = recs.toSeq
  def nameOf(id: Int): String = names.getOrElse(id, "")

  /** A finished span and every span below it. */
  def subtree(root: Int): Set[Int] = {
    val kids = recs.groupBy(_.parent)
    def go(id: Int): Set[Int] = kids.getOrElse(id, Nil).flatMap(s => go(s.id)).toSet + id
    go(root)
  }

  def last(name: String): SpanRec = recs.filter(_.name == name).last
}

object Tracer {
  val SpanProp = "perfbench.span"
}

final case class TaskRec(runMs: Long, gcMs: Long, shuffleWriteBytes: Long, spillBytes: Long)

final class StageRec(val span: Int, val label: String) {
  val tasks: mutable.ArrayBuffer[TaskRec] = mutable.ArrayBuffer.empty
}

final class JobRec(val id: Int, val span: Int, val label: String, val startMs: Long) {
  @volatile var endMs: Long = -1
}

/** Records every job and task with the phase label (`spark.job.description`)
  * and the benchmark span that were set when Spark submitted it. */
final class PhaseListener extends SparkListener {
  private val jobMap = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageMap = mutable.LinkedHashMap.empty[Int, StageRec]

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(q => Option(q.getProperty(Tracer.SpanProp))).map(_.toInt).getOrElse(0)
  private def labelOf(p: java.util.Properties): String =
    Option(p).flatMap(q => Option(q.getProperty("spark.job.description"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobMap(e.jobId) = new JobRec(e.jobId, spanOf(e.properties), labelOf(e.properties), e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobMap.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    if (!stageMap.contains(id))
      stageMap(id) = new StageRec(spanOf(e.properties), labelOf(e.properties))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageMap.get(e.stageId).foreach(_.tasks += TaskRec(m.executorRunTime,
      m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled))
  }

  def jobs: Seq[JobRec] = synchronized(jobMap.values.toSeq)
  def stages: Seq[StageRec] = synchronized(stageMap.values.toSeq)
}

/** Per-phase counters of the jobs inside a set of spans. */
final case class PhaseStats(jobs: Double, tasks: Double, taskS: Double, gcS: Double,
                            shuffleWriteMb: Double, spillMb: Double, taskSkew: Double,
                            wallS: Double) {
  def fields: Seq[(String, Double)] = Seq("jobs" -> jobs, "tasks" -> tasks, "task_s" -> taskS,
    "gc_s" -> gcS, "shuffle_write_mb" -> shuffleWriteMb, "spill_mb" -> spillMb,
    "task_skew" -> taskSkew, "wall_s" -> wallS)
}

object Ledger {

  val Phases: Seq[String] = Seq("extract", "dedup", "dedup_components", "dedup_write",
    "index_build", "index_sync", "search", "pipeline")

  val Zero: PhaseStats = PhaseStats(0, 0, 0, 0, 0, 0, 0, 0)

  /** The engine's phase labels; a job without one belongs to the span that
    * enclosed it (a pipeline call's unlabelled jobs form phase `pipeline`). */
  def phaseOf(label: String, spanName: String): String = label match {
    case "pipeline:extract" => "extract"
    case "pipeline:dedup" => "dedup"
    case "dedup:components" => "dedup_components"
    case "pipeline:dedup-dropped-write" => "dedup_write"
    case "pipeline:index-build" => "index_build"
    case "pipeline:index-sync" => "index_sync"
    case _ => spanName match {
      case "build" | "noop" | "refresh" => "pipeline"
      case other => other
    }
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Length of the union of [start, end] intervals. */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > hi) { if (hi > lo) total += hi - lo; lo = s; hi = e }
      else hi = math.max(hi, e)
    }
    if (hi > lo) total += hi - lo
    total
  }

  def stats(jobs: Seq[JobRec], stages: Seq[StageRec]): PhaseStats = {
    val tasks = stages.flatMap(_.tasks)
    val heaviest = stages.filter(_.tasks.nonEmpty).sortBy(s => -s.tasks.map(_.runMs).sum).headOption
    val skew = heaviest.map { s =>
      val m = median(s.tasks.map(_.runMs.toDouble).toSeq)
      s.tasks.map(_.runMs).max / math.max(m, 1.0)
    }.getOrElse(0.0)
    PhaseStats(jobs.size, tasks.size, tasks.map(_.runMs).sum / 1e3, tasks.map(_.gcMs).sum / 1e3,
      tasks.map(_.shuffleWriteBytes).sum / 1e6, tasks.map(_.spillBytes).sum / 1e6, skew,
      unionMs(jobs.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs))) / 1e3)
  }

  /** Phase → counters over the jobs whose span is in `spans`. */
  def of(l: PhaseListener, t: Tracer, spans: Set[Int]): Map[String, PhaseStats] = {
    val jobs = l.jobs.filter(j => spans(j.span)).groupBy(j => phaseOf(j.label, t.nameOf(j.span)))
    val stages = l.stages.filter(s => spans(s.span)).groupBy(s => phaseOf(s.label, t.nameOf(s.span)))
    (jobs.keySet ++ stages.keySet).map(p =>
      p -> stats(jobs.getOrElse(p, Nil), stages.getOrElse(p, Nil))).toMap
  }

  /** Field-wise median of several per-rep ledgers (deterministic counters
    * are equal in every rep, so their median is that value). */
  def medianOf(reps: Seq[Map[String, PhaseStats]]): Map[String, PhaseStats] =
    reps.flatMap(_.keySet).distinct.map { p =>
      val xs = reps.map(_.getOrElse(p, Zero))
      def m(f: PhaseStats => Double) = median(xs.map(f))
      p -> PhaseStats(m(_.jobs), m(_.tasks), m(_.taskS), m(_.gcS), m(_.shuffleWriteMb),
        m(_.spillMb), m(_.taskSkew), m(_.wallS))
    }.toMap
}
