package graft.perfbench

import java.io.{OutputStream, PrintStream}
import java.nio.file.{Path, Paths}
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.PageRow
import graft.corpus.PageGen
import graft.jobs.{ExtractJob, IndexJob, PipelineJob}
import graft.lake.LakeTable

/** What one measured rep left behind: the headline step's wall (the cold
  * build or the extraction), its outputs' size ratio and counts, and its
  * span when the rep was traced. */
final case class Rep(root: Path, workS: Double, cpuS: Double, storedRatio: Double, docs: Double,
                     okDocs: Double, chunks: Double, dropped: Double, workSpan: Option[Int])

/** One benchmark workload: seeded inputs, a setup, and the measured rep. */
abstract class Workload(val name: String) {
  def defaultPages: Int
  /** Measured reps a run makes at the least, however long they take. */
  def minReps: Int
  def seed(r: Run): Long = r.args.seed
  def pages(r: Run): Int = r.args.pages.getOrElse(defaultPages)

  /** Indexes and row generator of the corpus the headline step reads. */
  def corpus(r: Run): (Array[Long], Long => PageRow)
  /** Write the inputs and build the Spark-free reference. */
  def setup(r: Run, dir: Path): Unit
  def rep(r: Run, i: Int): Rep
  /** Whether the headline step leaves an index behind. */
  def buildsIndex: Boolean
  /** Whether a traced run searches after the follow-up steps, on the index
    * they left, rather than before them. */
  def searchesAfterFollowUps: Boolean
  /** Index root to search after the reps (built here when the workload has none). */
  def searchRoot(r: Run, last: Rep): String
  /** Traced runs only: the steps after the last rep, as per-layer metrics
    * (`workS` is the median untraced headline wall). */
  def lifecycle(r: Run, last: Rep, workS: Double): Seq[PerfBench.Metric]
  /** Pages with a known expected text, for the byte-identity check. */
  def expectations(r: Run): Seq[(PageRow, String)]

  protected def spanId(r: Run, name: String): Option[Int] =
    if (r.tracer.enabled) Some(r.tracer.last(name).id) else None
}

object Workload {
  val all: Seq[Workload] = Seq(CrawlBuild, PdfSkew)

  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$name'; one of ${all.map(_.name).mkString(", ")}"))

  private val devNull = new PrintStream(OutputStream.nullOutputStream())

  /** Run a CLI command without its one-line JSON reaching the benchmark's stdout. */
  def quiet[A](body: => A): A = Console.withOut(devNull)(body)

  def writePages(spark: SparkSession, idx: Array[Long], row: Long => PageRow, dir: String,
                 parts: Int): Unit = {
    import spark.implicits._
    spark.sparkContext.parallelize(idx.toSeq, parts).toDS().map(i => row(i))
      .write.mode("overwrite").parquet(dir)
  }

  def readPages(spark: SparkSession, dir: String): Dataset[PageRow] = {
    import spark.implicits._
    spark.read.parquet(dir).as[PageRow]
  }

  /** Evenly spaced elements of `xs`, at most `n`. */
  def spread[A](xs: IndexedSeq[A], n: Int): IndexedSeq[A] =
    if (xs.size <= n) xs else (0 until n).map(k => xs(k * xs.size / n))

  def extractMetrics(root: String, v: Int): Map[String, Double] = {
    val lake = new LakeTable(s"$root/extract")
    if (v < 1 || v > lake.currentVersion) Map.empty else lake.readManifest(v).metrics
  }

  def extractVersion(root: String): Int = new LakeTable(s"$root/extract").currentVersion
}

import Workload._
import PerfBench.Metric

/** A cold `graft.Main pipeline` run on a fresh root with the CLI's default
  * arguments, over PageGen's default mix. Traced runs then rerun the
  * pipeline on identical input and on a seeded re-crawl delta, and search
  * the multi-segment index the delta rerun synced. */
object CrawlBuild extends Workload("crawl_build") {
  val defaultPages = 100
  val minReps = 2
  val buildsIndex = true
  val searchesAfterFollowUps = true
  private var pagesDir = ""
  private var reference = ChunkDigest.Empty

  def corpus(r: Run): (Array[Long], Long => PageRow) = {
    val s = seed(r)
    (Corpus.crawlIndexes(s, pages(r)), (i: Long) => PageGen.row(s, i))
  }

  def setup(r: Run, dir: Path): Unit = {
    val (idx, row) = corpus(r)
    pagesDir = dir.resolve("pages").toString
    writePages(r.spark, idx, row, pagesDir, r.cores)
    reference = Reference.of(idx, row, r.cores)
  }

  private def cli(root: String) = List("pipeline", pagesDir, root)

  def rep(r: Run, i: Int): Rep = {
    val root = r.path(s"rep-$i")
    val ((_, build), cpu) = Stats.cpuSeconds(Stats.seconds(
      r.op("build")(r.tracer.span("build")(quiet(graft.Main.run(r.spark, cli(root)))))))
    val span = spanId(r, "build")
    val stored = Stats.bytesUnder(Paths.get(root)).toDouble / Stats.bytesUnder(Paths.get(pagesDir))
    r.check(s"crawl_build rep $i: chunk table equals the Spark-free reference") {
      ChunkDigest.of(ExtractJob.readChunks(r.spark, s"$root/extract")) == reference
    }
    val m = extractMetrics(root, 1)
    val dropped = new LakeTable(s"$root/pipeline").readManifest(1).metrics("dropped")
    Rep(Paths.get(root), build, cpu, stored, m("docs"), m("docs") - m("errs"), m("chunks"), dropped, span)
  }

  def searchRoot(r: Run, last: Rep): String = s"${last.root}/index"

  /** Identical-input rerun, then the re-crawl delta (5% of urls re-fetched
    * as `PageGen.row(seed + 1, idx)`, plus 1% new urls). */
  def lifecycle(r: Run, last: Rep, workS: Double): Seq[Metric] = {
    val root = last.root.toString
    val v0 = extractVersion(root)
    val (_, noop) = Stats.seconds(r.op("noop")(r.tracer.span("noop")(quiet(graft.Main.run(r.spark, cli(root))))))
    val noopSpan = spanId(r, "noop").get
    val v1 = extractVersion(root)
    val noopDocs = if (v1 > v0) extractMetrics(root, v1)("docs") else 0.0

    val (s, base) = (seed(r), corpus(r)._1)
    val deltaIdx = Corpus.deltaIndexes(base)
    val lastBase = base.last
    val deltaRow = (i: Long) => Corpus.deltaRow(s, lastBase, i)
    val deltaDir = r.path("delta-pages")
    writePages(r.spark, deltaIdx, deltaRow, deltaDir, r.cores)
    val deltaRef = Reference.of(deltaIdx, deltaRow, r.cores)
    val (res, refresh) = Stats.seconds(r.op("refresh")(r.tracer.span("refresh")(
      PipelineJob.run(r.spark, readPages(r.spark, deltaDir), root, 64, 0.8))))
    val refreshSpan = spanId(r, "refresh").get
    r.check("crawl_build refresh: chunk table equals the delta corpus's reference") {
      ChunkDigest.of(ExtractJob.readChunks(r.spark, s"$root/extract")) == deltaRef
    }
    r.check("crawl_build refresh: the delta run synced the index, not resumed") {
      !res.resumed && res.extractVersion > v1
    }
    r.drain()
    def ledger(span: Int) = Ledger.of(r.listener, r.tracer, r.tracer.subtree(span))
    val noopLedger = ledger(noopSpan).values
    val sync = ledger(refreshSpan).getOrElse("index_sync", Ledger.Zero)
    val reextracted = extractMetrics(root, res.extractVersion).getOrElse("docs", 0.0)
    Seq(
      Metric("noop.wall_s", noop, "s"),
      Metric("noop.reextracted_docs", noopDocs, "count"),
      Metric("noop.jobs", noopLedger.map(_.jobs).sum, "count"),
      Metric("noop.task_s", noopLedger.map(_.taskS).sum, "s"),
      Metric("refresh.wall_s", refresh, "s"),
      Metric("refresh.reextracted_per_changed", reextracted / Corpus.changedPages(s, base), "ratio"),
      Metric("refresh.tombstoned", res.tombstoned.toDouble, "count"),
      Metric("refresh.appended", res.appended.toDouble, "count")) ++
      sync.fields.map { case (k, v) => Metric(s"index_sync.$k", v, PerfBench.unitOf(k)) }
  }

  def expectations(r: Run): Seq[(PageRow, String)] = {
    val s = seed(r)
    spread(corpus(r)._1.toIndexedSeq.filter(i => PageGen.expectedText(s, i).isDefined), 24)
      .map(i => PageGen.row(s, i) -> PageGen.expectedText(s, i).get)
  }
}

/** `ExtractJob.run` alone on a fresh table root over a PDF-only corpus with
  * a seeded 1-in-200 giant PDF. Traced runs then rerun it on identical
  * input and time it again at `local[1]` for the scaling efficiency. */
object PdfSkew extends Workload("pdf_skew") {
  val defaultPages = 600
  val minReps = 2
  val buildsIndex = false
  val searchesAfterFollowUps = false
  private var pagesDir = ""
  private var reference = ChunkDigest.Empty

  def corpus(r: Run): (Array[Long], Long => PageRow) = {
    val (s, g) = (seed(r), Corpus.giants(seed(r), pages(r)))
    (Corpus.pdfIndexes(s, pages(r)), (i: Long) => Corpus.pdfRow(s, i, g(i)))
  }

  def setup(r: Run, dir: Path): Unit = {
    val (idx, row) = corpus(r)
    pagesDir = dir.resolve("pages").toString
    writePages(r.spark, idx, row, pagesDir, r.cores)
    reference = Reference.of(idx, row, r.cores)
  }

  private def extract(r: Run, root: String, span: String): (ExtractJob.Result, Double) =
    Stats.seconds(r.op(span)(r.tracer.span(span)(ExtractJob.run(r.spark, readPages(r.spark, pagesDir), root))))

  def rep(r: Run, i: Int): Rep = {
    val root = r.path(s"rep-$i")
    val ((res, t), cpu) = Stats.cpuSeconds(extract(r, root, "extract"))
    val span = spanId(r, "extract")
    val stored = Stats.bytesUnder(Paths.get(root)).toDouble / Stats.bytesUnder(Paths.get(pagesDir))
    r.check(s"pdf_skew rep $i: chunk table equals the Spark-free reference") {
      res.chunks == reference.chunks && ChunkDigest.of(ExtractJob.readChunks(r.spark, root)) == reference
    }
    Rep(Paths.get(root), t, cpu, stored, res.docs, res.docs - res.errs, res.chunks, 0, span)
  }

  /** Extraction builds no index: index the last rep's chunks (untimed) so
    * the search client has a PDF-only index to query. */
  def searchRoot(r: Run, last: Rep): String = {
    val root = s"${last.root}/index"
    r.tracer.span("index")(IndexJob.build(r.spark, ExtractJob.readChunks(r.spark, last.root.toString), root))
    root
  }

  def lifecycle(r: Run, last: Rep, workS: Double): Seq[Metric] = {
    val (again, noop) = extract(r, last.root.toString, "noop")
    r.drain()
    val noopLedger = Ledger.of(r.listener, r.tracer, r.tracer.subtree(r.tracer.last("noop").id)).values
    r.restart(1)
    val (_, t1) = extract(r, r.path("scaling-1"), "extract")
    Seq(
      Metric("noop.wall_s", noop, "s"),
      Metric("noop.reextracted_docs", again.docs.toDouble, "count"),
      Metric("noop.jobs", noopLedger.map(_.jobs).sum, "count"),
      Metric("noop.task_s", noopLedger.map(_.taskS).sum, "s"),
      Metric("extract.scaling_eff", t1 / (workS * r.cores), "ratio"))
  }

  def expectations(r: Run): Seq[(PageRow, String)] = {
    val (s, g) = (seed(r), Corpus.giants(seed(r), pages(r)))
    val known = corpus(r)._1.toIndexedSeq.filter(i => Corpus.pdfExpectedText(s, i, g(i)).isDefined)
    (g.toIndexedSeq.sorted ++ spread(known, 20)).distinct
      .map(i => Corpus.pdfRow(s, i, g(i)) -> Corpus.pdfExpectedText(s, i, g(i)).get)
  }
}
