package graft.tools

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Optimization-round measurement harness (guide §1: measure first) —
  * NOT part of the frozen driver contract (Bench.scala is; this main
  * exists precisely so the frozen harness never needs touching).
  *
  * Times a subset of SparkEntry queries with the same session config and
  * the same action (`df.count()`) as Bench's sweep, min of `--passes N`
  * (default 2), and optionally dumps the EXECUTED adaptive plan
  * (`.explain("formatted")`, isFinalPlan=true) per query for the
  * plans/r06 evidence files.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.tools.BenchExtra [--plans outDir] [--suffix s] \
  *          [--passes n] [q_a q_b ... | all]"
  */
object BenchExtra {

  private def newSession(cores: Int): SparkSession =
    graft.SparkSessions(s"graft-benchextra-$cores", Some(cores),
      graft.SparkSessions.tuned ++ sys.env.get("BENCHEXTRA_SHUFFLE")
        .map(n => "spark.sql.shuffle.partitions" -> n.toInt.toString))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    if (!sys.props.contains("graft.scratch") && !sys.env.contains("SPARK_GRAFT_SCRATCH"))
      sys.props("graft.scratch") = "/dev/shm/graft-scratch"

    var plansDir: Option[String] = None
    var suffix = ""
    var passes = 2
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--plans" => plansDir = Some(args(i + 1)); i += 2
        case "--suffix" => suffix = args(i + 1); i += 2
        case "--passes" => passes = args(i + 1).toInt; i += 2
        case q => names += q; i += 1
      }
    }
    val all = graft.SparkEntry.queries
    val sel: Seq[String] =
      if (names.isEmpty || names.contains("all")) all.keys.toSeq.sorted
      else names.toSeq
    sel.filterNot(all.contains).foreach(q => sys.error(s"unknown query $q"))

    val spark = newSession(cpus)
    // structural listener: job/stage/task counts and shuffle bytes are
    // DETERMINISTIC per query (unlike wall time under host weather) — the
    // A/B currency for plan-shape optimizations
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val shufR = new java.util.concurrent.atomic.AtomicLong
    val shufW = new java.util.concurrent.atomic.AtomicLong
    val jobLog = sys.env.contains("BENCHEXTRA_JOBLOG")
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (jobLog) jobStart.put(j.jobId, (System.nanoTime(),
          Option(j.properties).map(_.getProperty("spark.job.description", ""))
              .filter(_.nonEmpty).map(_.take(40) + " | ").getOrElse("") +
            j.stageInfos.headOption.map(s => s.name.take(60)).getOrElse("?")))
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (jobLog) Option(jobStart.remove(j.jobId)).foreach { case (t0, site) =>
          println(f"JOB ${j.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%7.3f  $site")
        }
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        if (jobLog) {
          val i = s.stageInfo
          val rt = Option(i.taskMetrics).map(_.executorRunTime).getOrElse(0L)
          val wall = (for { a <- i.submissionTime; b <- i.completionTime }
            yield (b - a) / 1000.0).getOrElse(-1.0)
          println(f"STAGE ${i.stageId}%4d wall=$wall%7.3f tasks=${i.numTasks}%4d " +
            f"runSec=${rt / 1000.0}%7.1f  ${i.name.take(70)}")
        }
      }
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          taskMs.addAndGet(m.executorRunTime)
          shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    // optional: dump EVERY query execution's final plan (writes included —
    // the per-query --plans flag only sees the returned DataFrame)
    sys.env.get("BENCHEXTRA_EXECDUMP").foreach { dir =>
      Files.createDirectories(Paths.get(dir))
      val n = new java.util.concurrent.atomic.AtomicInteger
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
          val i = n.incrementAndGet()
          val desc = Option(spark.sparkContext.getLocalProperty("spark.job.description")).getOrElse("")
          val txt = f"== $funcName $desc ${durationNs / 1e9}%.3fs ==%n" +
            qe.explainString(ExplainMode.fromString("formatted"))
          Files.write(Paths.get(f"$dir/exec$i%03d.txt"), txt.getBytes(UTF_8))
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      })
    }
    def memGBs(): Double = {
      val n = 16 * 1024 * 1024
      val a = Array.tabulate(n)(_.toLong)
      val t0 = System.nanoTime(); var s = 0L; var j = 0
      while (j < n) { s += a(j); j += 1 }
      val sec = (System.nanoTime() - t0) / 1e9
      if (s == Long.MinValue) 0.0 else n * 8.0 / sec / 1e9
    }
    val results = sel.map { name =>
      val fn = all(name)
      spark.sparkContext.setJobDescription(name)
      val probe = memGBs()
      val stats = (1 to passes).map { _ =>
        val j0 = jobs.get; val s0 = stages.get; val t0n = tasks.get
        val tm0 = taskMs.get; val r0 = shufR.get; val w0 = shufW.get
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count() catch { case e: Throwable =>
          System.err.println(s"$name FAILED: $e"); -1L }
        val wall = (System.nanoTime() - t0) / 1e9
        (wall, jobs.get - j0, stages.get - s0, tasks.get - t0n,
          taskMs.get - tm0, shufR.get - r0, shufW.get - w0)
      }
      val ts = stats.map(_._1)
      println(f"TIMES $name ${ts.map(t => f"$t%.3f").mkString(" ")}")
      stats.zipWithIndex.foreach { case ((w, j, st, tk, tm, r, wr), i) =>
        println(f"STRUCT $name p${i + 1} wall=$w%.3f jobs=$j stages=$st tasks=$tk " +
          f"taskSec=${tm / 1000.0}%.1f shufR=${r / 1048576.0}%.1f shufW=${wr / 1048576.0}%.1fMB " +
          f"probeGBs=$probe%.1f")
      }
      plansDir.foreach { pd =>
        Files.createDirectories(Paths.get(pd))
        val df = fn(spark, sfDir)
        try df.collect() catch { case _: Throwable => }
        val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
          .linesIterator.map(l => if (l.length > 300) l.take(300) + " …" else l)
          .mkString("\n")
        Files.write(Paths.get(s"$pd/${name}$suffix.txt"), txt.getBytes(UTF_8))
      }
      name -> ts.min
    }
    spark.stop()
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    println(s"""{"benchextra":true,"sf":"$sfDir","passes":$passes,"queries":$qs}""")
  }
}
