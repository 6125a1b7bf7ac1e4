package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Ad-hoc plan audit for one SparkEntry query: executes it (AQE final
  * plan), prints the formatted plan plus the scan/exchange tallies the
  * CLAUDE.md plan-audit discipline asks for.
  * Usage: `sbt "runMain graft.tools.Audit <query> [sfDir]"`. */
object Audit {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: Audit <query> [sfDir]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = graft.SparkSessions("graft-audit", Some(4))
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    println(plan)
    // Tally the FINAL adaptive tree only: the formatted output also prints
    // the "== Initial Plan ==" tree, whose forked scans AQE dedups at
    // runtime — counting across both sections over-reports (q_ql read 5
    // scans where the executed plan has 1 + 4 ReusedExchange). Tree lines
    // put the id AFTER the node name (`+- Scan parquet (1)`); the per-node
    // detail blocks put it before (`(1) Scan parquet`) and cover BOTH
    // trees, so only name-then-id matches in the final segment count.
    // Remove each Initial-Plan TREE (it runs until the next detail block
    // `(N) Node`, a `===== Subqueries =====` header, or EOF) rather than
    // truncating at the first marker — truncation would also drop
    // subquery plans printed after it, under-counting their scans.
    val fin = "(?s)== Initial Plan ==.*?(?=\\n=====|\\n\\(\\d+\\)|\\z)".r
      .replaceAllIn(plan, "")
    // \b keeps bare "Exchange" from matching inside Reused/BroadcastExchange
    def ids(p: String) = s"\\b$p\\s*\\((\\d+)\\)".r.findAllMatchIn(fin).map(_.group(1)).toSet.size
    println(s"AUDIT $name: scans=${ids("Scan parquet")} " +
      s"exchanges=${ids("Exchange")} reused=${ids("ReusedExchange")} " +
      s"windowGroupLimits=${ids("WindowGroupLimit")} " +
      // formatted explain marks codegen as "[codegen id : N]" annotations,
      // never the literal node name — count distinct ids (whole output:
      // codegen ids are global and the detail section names them uniquely)
      s"codegenSpans=${"\\[codegen id : (\\d+)\\]".r.findAllMatchIn(plan).map(_.group(1)).toSet.size}")
  }
}
