package graft.perfbench

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Phase attribution and a tiny smoke run of each workload. Runs one
  * session at a time (each run starts and stops its own). */
class BenchSpec extends AnyFunSuite {

  private def args(workload: String, trace: Boolean) = Args(workload, 1L, 0.0, trace,
    Files.createTempDirectory(Files.createDirectories(Paths.get("target")), "perfbench-spec"),
    Some(40), queries = 3, setups = 1)

  test("crawl_build: phases sum to the listener's task-seconds, with no unattributed jobs") {
    val r = new Run(args("crawl_build", trace = true), 2)
    try {
      val (idx, row) = CrawlBuild.corpus(r)
      val pages = r.path("pages")
      Workload.writePages(r.spark, idx, row, pages, 2)
      r.tracing(true)
      r.tracer.span("build")(Workload.quiet(graft.Main.run(r.spark, List("pipeline", pages, r.path("root")))))
      r.tracing(false)
      val build = r.tracer.last("build").id
      val jobs = r.listener.jobs
      assert(jobs.nonEmpty)
      assert(jobs.forall(_.span == build), "every job ran inside the build span")
      val phases = jobs.map(j => Ledger.phaseOf(j.label, r.tracer.nameOf(j.span))).toSet
      assert(phases.subsetOf(Ledger.Phases.toSet), phases)
      assert(Set("extract", "dedup", "index_build").subsetOf(phases), phases)
      val ledger = Ledger.of(r.listener, r.tracer, Set(build))
      val total = r.listener.stages.flatMap(_.tasks).map(_.runMs).sum / 1e3
      assert(math.abs(ledger.values.map(_.taskS).sum - total) < 1e-9)
      assert(ledger.values.map(_.jobs).sum == jobs.size)
    } finally { r.close(); Stats.deleteTree(r.dir) }
  }

  private def smoke(workload: String, trace: Boolean): Map[String, (Double, String)] = {
    val out = PerfBench.run(args(workload, trace), Workload(workload))
    val m = "\"correct\":true,\"attempted\":(\\d+),\"failed\":0".r.findFirstMatchIn(out)
    assert(m.isDefined, out)
    "\"([^\"]+)\":\\{\"value\":([-0-9.Ee]+),\"unit\":\"([^\"]*)\"\\}".r.findAllMatchIn(out)
      .map(x => x.group(1) -> (x.group(2).toDouble, x.group(3))).toMap
  }

  for (w <- Workload.all.map(_.name); trace <- Seq(false, true))
    test(s"$w passes a tiny smoke run with --trace ${if (trace) 1 else 0}") {
      val metrics = smoke(w, trace)
      val expected = if (trace) PerfBench.PerLayer.all else PerfBench.EndToEnd
      assert(metrics.keySet == expected.map(_._1).toSet)
      expected.foreach { case (n, unit) => assert(metrics(n)._2 == unit, n) }
      if (!trace) assert(metrics.values.forall(_._1 > 0), metrics)
    }
}
