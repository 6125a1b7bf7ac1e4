package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable
import graft.extract.Extract
import graft.jobs.IndexJob

/** The benchmark of the production path. One run:
  *
  *  1. starts a `local[nproc]` session and echoes nproc, heap and Spark conf;
  *  2. sets up `setups` times (input parquet, Spark-free reference) and
  *     reports the median as `setup_s`;
  *  3. warms up with one untimed headline step;
  *  4. repeats the measured headline step until `--seconds` have passed and
  *     at least `minReps` times (with `--trace 1`, reps alternate untraced
  *     and traced);
  *  5. with `--trace 1`, runs the workload's follow-up steps, the
  *     closed-loop search client (`queries` back-to-back `IndexJob.search`
  *     calls) and the no-Spark layer costs;
  *  6. runs the correctness checks and prints the result as the last line.
  *
  * `--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer ones,
  * and writes the spans and jobs to `<work>/traces/`.
  */
object PerfBench {

  final case class Metric(name: String, value: Double, unit: String)

  /** End-to-end metric names and units, in output order. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "docs_per_s" -> "docs/s",
    "cpu_ms_per_doc" -> "ms", "stored_bytes_per_input_byte" -> "ratio", "retained_heap_mb" -> "MB")

  def main(argv: Array[String]): Unit = {
    val args = try Args.parse(argv) catch {
      case e: IllegalArgumentException => System.err.println(e.getMessage); sys.exit(2)
    }
    val wl = try Workload(args.workload) catch {
      case e: IllegalArgumentException => System.err.println(e.getMessage); sys.exit(2)
    }
    val out = run(args, wl)
    println(out)
  }

  def run(args: Args, wl: Workload): String = {
    val r = new Run(args, Runtime.getRuntime.availableProcessors)
    try {
      println(r.envJson)
      val metrics = measure(r, wl)
      if (r.failures.nonEmpty) r.failures.foreach(f => System.err.println(s"FAILED: $f"))
      val body = metrics.map(m =>
        s"${Json.str(m.name)}:{\"value\":${Json.num(m.value)},\"unit\":${Json.str(m.unit)}}").mkString(",")
      s"""{"correct":${r.failed == 0},"attempted":${r.attempted},"failed":${r.failed},"metrics":{$body}}"""
    } finally {
      r.close()
      Stats.deleteTree(r.dir)
    }
  }

  private def measure(r: Run, wl: Workload): Seq[Metric] = {
    val args = r.args
    val setupS = (1 to args.setups).map { k =>
      val (_, s) = Stats.seconds(wl.setup(r, r.dir.resolve(s"setup-$k")))
      r.log(f"setup $k: $s%.2f s")
      if (k > 1) Stats.deleteTree(r.dir.resolve(s"setup-${k - 1}"))
      s
    }
    // warm-up: one full headline step whose time is not counted (JIT,
    // codegen and class loading would otherwise land in the first rep)
    val (warm, warmS) = Stats.seconds(wl.rep(r, 0))
    r.log(f"warm-up: $warmS%.2f s")
    Stats.deleteTree(warm.root)
    r.heap.collect()

    // a traced run makes at least untraced, traced, untraced: the first rep
    // after the warm-up is still a little slower, so the tracing overhead
    // compares the traced reps with the later untraced ones
    val minReps = if (args.trace) math.max(wl.minReps, 3) else wl.minReps
    val reps = mutable.ArrayBuffer.empty[(Rep, Boolean)]
    val t0 = System.nanoTime()
    while (reps.size < minReps || (System.nanoTime() - t0) / 1e9 < args.seconds) {
      val traced = args.trace && reps.size % 2 == 1
      r.tracing(traced)
      val gcs = r.heap.inStep.size
      val rep = r.heap.during(wl.rep(r, reps.size + 1))
      r.tracing(false)
      r.heap.collect()
      r.log(f"rep ${reps.size + 1}${if (traced) " (traced)" else ""}: ${rep.workS}%.2f s, " +
        s"${r.heap.inStep.size - gcs} collections")
      if (reps.nonEmpty) Stats.deleteTree(reps.last._1.root)
      reps += rep -> traced
    }
    val untraced = reps.filterNot(_._2).map(_._1).toSeq
    val workS = Stats.median(untraced.map(_.workS))

    // traced runs make the workload's follow-up steps. crawl_build's delta
    // rerun syncs the index (an appended segment and tombstones), so its
    // search client and top-k check come after them; pdf_skew's end at
    // local[1], so its search comes first
    def followUps(): Seq[Metric] = {
      r.tracing(true)
      try wl.lifecycle(r, reps.last._1, workS) finally r.tracing(false)
    }
    val lifeFirst = if (args.trace && wl.searchesAfterFollowUps) followUps() else Nil

    // the closed-loop search client runs in traced runs; the top-k check in
    // every run of a workload that builds an index
    val root = if (wl.buildsIndex || args.trace) Some(wl.searchRoot(r, reps.last._1)) else None
    val queries = Queries.list(args.seed, args.queries)
    val latMs = if (!args.trace) Nil else {
      IndexJob.search(r.spark, root.get, queries.head, 10).collect() // warms the search path
      r.tracing(true)
      val lat = queries.map { q =>
        Stats.seconds(r.op("search")(r.tracer.span("search")(IndexJob.search(r.spark, root.get, q, 10).collect())))._2 * 1e3
      }
      r.tracing(false)
      r.log(f"search: ${lat.size} queries, p50 ${Stats.median(lat)}%.1f ms")
      lat
    }
    // search() orders by the raw score and rounds after its cut, topkSearch
    // orders by the rounded score: the engine's stated equivalence
    // (IndexMaxScoreSpec) is topkSearch(k) == search()'s full ranking
    // re-sorted by (rounded score desc, doc) and cut at k
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(x => (x.getString(0), x.getDouble(1))).toSeq
    for (ix <- root; q <- queries.take(2))
      r.check(s"topkSearch top-k equals search()'s rounded top-k for '$q'") {
        rows(IndexJob.topkSearch(r.spark, ix, q, 10)) ==
          rows(IndexJob.search(r.spark, ix, q, Int.MaxValue)).sortBy { case (d, s) => (-s, d) }.take(10)
      }
    wl.expectations(r).foreach { case (p, text) =>
      r.check(s"extractOne text of ${p.url} equals the generator's") {
        Extract.extractOne(p.url, p.html).text == text
      }
    }

    if (!args.trace) {
      val (idx, _) = wl.corpus(r)
      Seq(
        Metric("setup_s", Stats.median(setupS), "s"),
        Metric("docs_per_s", idx.length / workS, "docs/s"),
        Metric("cpu_ms_per_doc", Stats.median(untraced.map(_.cpuS)) * 1e3 / idx.length, "ms"),
        Metric("stored_bytes_per_input_byte", Stats.median(untraced.map(_.storedRatio)), "ratio"),
        Metric("retained_heap_mb", r.heap.retainedMb, "MB"))
    } else {
      val traced = reps.filter(_._2).map(_._1).toSeq
      val phases = Ledger.medianOf(traced.map(rep =>
        Ledger.of(r.listener, r.tracer, r.tracer.subtree(rep.workSpan.get))))
      val searchSpans = r.tracer.spans.filter(_.name == "search").map(_.id).toSet
      val search = Ledger.of(r.listener, r.tracer, searchSpans).getOrElse("search", Ledger.Zero)
      val overhead = Stats.median(traced.map(_.workS)) / Stats.median(untraced.drop(1).map(_.workS))
      val rep0 = untraced.head
      val (idx, row) = wl.corpus(r)
      val layers = Layers.measure(Workload.spread(idx.toIndexedSeq, 150).map(row), 0.15)
        .map { case (k, v) => Metric(k, v, if (k.endsWith("_ns")) "ns" else "us") }
      val life = if (wl.searchesAfterFollowUps) lifeFirst else followUps()
      writeTrace(r)
      val given = life.map(m => m.name -> m).toMap
      val phaseMetrics = for {
        p <- Ledger.Phases
        (k, v) <- (if (p == "search") search else phases.getOrElse(p, Ledger.Zero)).fields
      } yield Metric(s"$p.$k", v, unitOf(k))
      val all = phaseMetrics ++ layers ++ Seq(
        Metric("extract.ok_ratio", rep0.okDocs / math.max(rep0.docs, 1), "ratio"),
        Metric("chunk.chunks", rep0.chunks, "count"),
        Metric("chunk.chunks_per_doc", rep0.chunks / math.max(rep0.okDocs, 1), "ratio"),
        Metric("dedup.dropped_ratio", rep0.dropped / math.max(rep0.chunks, 1), "ratio"),
        Metric("search.p50_ms", Stats.quantile(latMs, 0.5), "ms"),
        Metric("search.p75_ms", Stats.quantile(latMs, 0.75), "ms"),
        Metric("search.jobs_per_query", search.jobs / queries.size, "count"),
        Metric("search.tasks_per_query", search.tasks / queries.size, "count"),
        Metric("tracing_overhead_ratio", overhead, "ratio"),
        Metric("failed_op_ratio", r.failed.toDouble / math.max(r.attempted, 1), "ratio"),
        Metric("session_start_s", r.sessionStartS, "s"),
        Metric("warmup_s", warmS, "s"),
        Metric("heap.peak_after_gc_mb", r.heap.peakAfterGcMb, "MB"))
      // a metric the workload measured replaces the zero default
      PerLayer.names.map(n => given.getOrElse(n, all.find(_.name == n).getOrElse(
        Metric(n, 0, PerLayer.unit(n)))))
    }
  }

  /** Per-layer metric names and units, in output order. */
  object PerLayer {
    val extra: Seq[(String, String)] = Seq(
      "layer.sniff_ns" -> "ns", "layer.html_us" -> "us", "layer.pdf_us" -> "us",
      "layer.chunk_us" -> "us", "layer.sha256_us" -> "us", "layer.minhash_us" -> "us",
      "layer.tokenize_us" -> "us",
      "extract.ok_ratio" -> "ratio", "chunk.chunks" -> "count", "chunk.chunks_per_doc" -> "ratio",
      "dedup.dropped_ratio" -> "ratio",
      "noop.wall_s" -> "s", "noop.reextracted_docs" -> "count", "noop.jobs" -> "count", "noop.task_s" -> "s",
      "refresh.wall_s" -> "s", "refresh.reextracted_per_changed" -> "ratio",
      "refresh.tombstoned" -> "count", "refresh.appended" -> "count",
      "search.p50_ms" -> "ms", "search.p75_ms" -> "ms", "search.jobs_per_query" -> "count",
      "search.tasks_per_query" -> "count",
      "extract.scaling_eff" -> "ratio", "tracing_overhead_ratio" -> "ratio",
      "failed_op_ratio" -> "ratio", "session_start_s" -> "s", "warmup_s" -> "s",
      "heap.peak_after_gc_mb" -> "MB")
    val all: Seq[(String, String)] =
      (for (p <- Ledger.Phases; (k, _) <- Ledger.Zero.fields) yield s"$p.$k" -> unitOf(k)) ++ extra
    val names: Seq[String] = all.map(_._1)
    def unit(n: String): String = all.find(_._1 == n).map(_._2).getOrElse("")
  }

  def unitOf(field: String): String = field match {
    case "jobs" | "tasks" => "count"
    case "task_skew" => "ratio"
    case f if f.endsWith("_mb") => "MB"
    case _ => "s"
  }

  /** Spans and the listener's jobs as JSON lines, under `<work>/traces/`. */
  private def writeTrace(r: Run): Unit = {
    val dir = r.args.work.resolve("traces")
    Files.createDirectories(dir)
    val t = r.tracer
    val origin = t.spans.map(_.startNs).minOption.getOrElse(0L)
    val spans = t.spans.map(s =>
      s"""{"span":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ms":${Json.num((s.startNs - origin) / 1e6)},"dur_ms":${Json.num((s.endNs - s.startNs) / 1e6)}}""")
    val jobs = r.listener.jobs.map(j =>
      s"""{"job":${j.id},"span":${j.span},"label":${Json.str(j.label)},""" +
        s""""phase":${Json.str(Ledger.phaseOf(j.label, t.nameOf(j.span)))},"dur_ms":${j.endMs - j.startMs}}""")
    Files.write(dir.resolve(s"${r.args.workload}-s${r.args.seed}.jsonl"),
      (spans ++ jobs).mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
