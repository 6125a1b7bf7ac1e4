package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built: every entry point (Main, Verify,
  * Bench, the tools and the test suites) takes its session from here, so
  * the settings they share cannot drift apart. */
object SparkSessions {

  /** Bench's tuned set, for the measurement harnesses (Bench, BenchExtra). */
  val tuned: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    // size scan splits so the binary-heavy pages scan parallelizes to the
    // core count instead of packing into a handful of 128MB splits
    // (SURVEY.md §4)
    "spark.sql.files.maxPartitionBytes" -> s"${8 * 1024 * 1024}",
    "spark.sql.files.openCostInBytes" -> s"${1024 * 1024}",
    // shuffle spill dir on tmpfs: the salting exchange must not measure
    // the bench host's disk — on a real cluster shuffle lands on local NVMe
    "spark.local.dir" -> "/dev/shm/graft-spark",
    // zstd shuffle blocks: fewer bytes through the shared memory subsystem
    // per shuffled page (A/B'd vs lz4: faster and more stable on the bench
    // host; also the common production choice)
    "spark.io.compression.codec" -> "zstd",
    // execution memory off-heap: stage profiling showed on-heap
    // sort/shuffle buffers turning young GC into 28-46% of task time at
    // local[32]; off-heap removes them from the GC heap entirely
    "spark.memory.offHeap.enabled" -> "true",
    "spark.memory.offHeap.size" -> "16g")

  /** Session named `app` with the UTC session time zone. With `cores` it
    * runs `local[cores]` with `cores` shuffle partitions and the UI off;
    * without, master and resources come from spark-submit. `conf` is
    * applied last, so it may override any of these. */
  def apply(app: String, cores: Option[Int], conf: Map[String, String] = Map.empty,
            logLevel: String = "ERROR"): SparkSession = {
    val local = cores.fold(Map.empty[String, String])(n => Map(
      "spark.master" -> s"local[$n]",
      "spark.sql.shuffle.partitions" -> n.toString,
      "spark.ui.enabled" -> "false"))
    val s = SparkSession.builder().appName(app)
      .config("spark.sql.session.timeZone", "UTC")
      .config(local ++ conf)
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
