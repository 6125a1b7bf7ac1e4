package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.chunk.Chunker
import graft.corpus.PageGen
import graft.extract.Extract
import graft.jobs.ExtractJob
import org.apache.spark.sql.functions._

/** The chunk layout ExtractJob.run writes: the bucket-aligned extraction
  * shuffle keeps each url-hash bucket on few tasks, so the partitionBy
  * write makes about one part file per bucket, never one per task × bucket,
  * and the chunk rows stay exactly the Spark-free reference's. */
class ExtractLayoutSpec extends SparkSuiteBase {
  import spark.implicits._

  private lazy val P = spark.sparkContext.defaultParallelism
  private val N = 800
  private lazy val pages = spark.range(N).map(i => PageGen.row(42L, i))

  /** The Extract.extractOne + Chunker chunk set of the suite's corpus. */
  private lazy val reference: Set[(String, String, Int, String)] =
    (0L until N).iterator.map(PageGen.row(42L, _)).flatMap { p =>
      val d = Extract.extractOne(p.url, p.html)
      if (d.err.isEmpty && d.text.nonEmpty)
        Chunker.chunkDocument(d.url, Hashing.sha256Hex(d.text), d.text)
          .map(c => (c.id, c.url, c.chunk_index, c.chunk_hash))
      else Nil
    }.toSet

  private val PartTask = "part-(\\d+)-.*\\.parquet".r

  /** Runs a cold extraction into a fresh root, checks its chunks against the
    * reference and returns (root, bucket → task ids of its part files). */
  private def extract(nBuckets: Int): (String, Map[Int, Seq[Int]]) = {
    val root = Files.createTempDirectory("graft-layout").toString
    val r = ExtractJob.run(spark, pages, root, nBuckets = nBuckets)
    assert(r.version == 1 && r.docs == N)
    val got = ExtractJob.readChunks(spark, root)
      .select("id", "url", "chunk_index", "chunk_hash").as[(String, String, Int, String)]
      .collect()
    assert(got.length == reference.size && got.toSet == reference)
    def list(d: Path): Seq[Path] = {
      val s = Files.list(d)
      try s.iterator.asScala.toSeq finally s.close()
    }
    val layout = list(Paths.get(root, "data", "v1", "chunks"))
      .filter(d => Files.isDirectory(d) && d.getFileName.toString.startsWith("bucket="))
      .map { d =>
        d.getFileName.toString.stripPrefix("bucket=").toInt ->
          list(d).map(_.getFileName.toString).collect { case PartTask(t) => t.toInt }
      }.toMap
    (root, layout)
  }

  /** Documents with chunks per extraction task, from part-file provenance. */
  private def docsPerTask(root: String): Map[Int, Long] =
    ExtractJob.readChunks(spark, root)
      .select(regexp_extract(input_file_name(), "part-(\\d+)-", 1).cast("int").as("task"),
        col("url"))
      .groupBy("task").agg(countDistinct("url").as("n"))
      .as[(Int, Long)].collect().toMap

  private def assertBalanced(perTask: Map[Int, Long]): Unit = {
    assert(perTask.keySet == (0 until P).toSet, s"empty partitions: $perTask")
    val expected = perTask.values.sum.toDouble / P
    perTask.values.foreach(n =>
      assert(math.abs(n - expected) / expected < 0.35, s"skewed: $perTask"))
  }

  test("P divides nBuckets: one part file per bucket, balanced tasks") {
    val b = 2 * P
    val (root, layout) = extract(b)
    assert(layout.size == b)
    layout.foreach { case (bucket, tasks) => assert(tasks.size == 1, s"bucket $bucket: $tasks") }
    assertBalanced(docsPerTask(root))
  }

  test("P below nBuckets, not dividing it: at most two part files per bucket") {
    val b = 2 * P + 1
    val (root, layout) = extract(b)
    assert(layout.size == b)
    layout.foreach { case (bucket, tasks) => assert(tasks.size <= 2, s"bucket $bucket: $tasks") }
    assert(layout.values.map(_.size).sum <= b + P - 1)
    assertBalanced(docsPerTask(root))
  }

  test("P above nBuckets: each bucket is salted over at most ⌈P/B⌉+1 tasks, all used") {
    assume(P > 2, s"needs more than 2 cores, has $P")
    val b = 2
    val (root, layout) = extract(b)
    assert(layout.size == b)
    val cap = (P + b - 1) / b + 1
    layout.foreach { case (bucket, tasks) => assert(tasks.size <= cap, s"bucket $bucket: $tasks") }
    assert(layout.values.flatten.toSet == (0 until P).toSet)
    assertBalanced(docsPerTask(root))
  }
}
