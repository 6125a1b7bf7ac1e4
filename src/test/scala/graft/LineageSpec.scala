package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

class LineageSpec extends SparkSuiteBase {

  test("dropCheckpoint releases only the Dataset's own checkpoint, never an upstream one") {
    val a = spark.range(100).select((col("id") * 2).as("v")).localCheckpoint()
    val id = a.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id
    assert(spark.sparkContext.getPersistentRDDs.contains(id))

    Lineage.dropCheckpoint(a.select((col("v") + 1).as("w")))
    assert(spark.sparkContext.getPersistentRDDs.contains(id),
      "releasing a derived Dataset released its upstream checkpoint")
    assert(a.count() == 100)

    Lineage.dropCheckpoint(a)
    assert(!spark.sparkContext.getPersistentRDDs.contains(id))
  }
}
