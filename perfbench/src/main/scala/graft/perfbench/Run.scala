package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** A run's arguments. `pages`, `queries` and `setups` are fixed for the
  * benchmark's workloads; only the benchmark's own tests shrink them. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: Path, pages: Option[Int] = None, queries: Int = 40, setups: Int = 5)

object Args {
  val usage: String =
    "usage: graft.perfbench.PerfBench --workload <crawl_build|pdf_skew> " +
      "--seed <n> --seconds <s> --trace <0|1> [--work <dir>]"

  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, usage)
    val m = argv.grouped(2).map(kv => kv(0).stripPrefix("--") -> kv(1)).toMap
    val unknown = m.keySet -- Set("workload", "seed", "seconds", "trace", "work")
    require(unknown.isEmpty, s"unknown option(s) ${unknown.mkString(", ")}\n$usage")
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k\n$usage"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      },
      Paths.get(m.getOrElse("work", ".bench_build/perfbench")).toAbsolutePath.normalize)
  }
}

/** The session the benchmark owns: the CLI's defaults (`local[nproc]`,
  * shuffle partitions = nproc) with Spark's scratch inside the work dir. */
object Session {
  def start(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Per-run state: the session, tracing, the heap probe and the tally of
  * operations attempted and failed. */
final class Run(val args: Args, val cores: Int) {
  val dir: Path = args.work.resolve(s"${args.workload}-s${args.seed}-p${ProcessHandle.current.pid}")
  Files.createDirectories(dir)
  private val t0 = System.nanoTime()
  var spark: SparkSession = Session.start(cores, dir)
  val sessionStartS: Double = (System.nanoTime() - t0) / 1e9
  val tracer = new Tracer(spark.sparkContext)
  val listener = new PhaseListener
  val heap = new Heap
  var attempted = 0L
  var failed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def path(name: String): String = dir.resolve(name).toString

  /** Progress on stderr, stamped with seconds since the session started. */
  def log(msg: String): Unit = System.err.println(f"perfbench ${(System.nanoTime() - t0) / 1e9}%8.2f s  $msg")

  /** Count one operation; a throw is a failed operation and is rethrown. */
  def op[A](what: String)(body: => A): A = {
    attempted += 1
    try body
    catch { case NonFatal(e) => failed += 1; failures += s"$what: $e"; throw e }
  }

  /** Count one correctness check; false or a throw is a failure. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch { case NonFatal(e) => failures += s"$what: $e"; false }
    if (!pass) { failed += 1; failures += what }
  }

  /** Listener on + spans on, or both off (an untraced step pays nothing). */
  def tracing(on: Boolean): Unit = if (on != tracer.enabled) {
    if (on) spark.sparkContext.addSparkListener(listener)
    else { org.apache.spark.ListenerDrain(spark.sparkContext); spark.sparkContext.removeSparkListener(listener) }
    tracer.enabled = on
  }

  def drain(): Unit = org.apache.spark.ListenerDrain(spark.sparkContext)

  /** Restart the session at another parallelism (tracing off). */
  def restart(newCores: Int): Unit = {
    tracing(false)
    spark.stop()
    spark = Session.start(newCores, dir)
    tracer.rebind(spark.sparkContext)
  }

  def envJson: String = {
    val conf = spark.sparkContext.getConf.getAll.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString(",")
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("-Xm") || a.startsWith("-XX:")).map(Json.str).mkString(",")
    s"""{"perfbench_env":{"nproc":$cores,"max_heap_mb":${Runtime.getRuntime.maxMemory / 1048576},""" +
      s""""jvm":[$jvm],"spark_conf":{$conf}}}"""
  }

  def close(): Unit = {
    tracing(false)
    heap.close()
    spark.stop()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds the whole process (every thread) spent in `body`. */
  def cpuSeconds[A](body: => A): (A, Double) = {
    val c0 = os.getProcessCpuTime
    val a = body
    (a, (os.getProcessCpuTime - c0) / 1e9)
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }
}
