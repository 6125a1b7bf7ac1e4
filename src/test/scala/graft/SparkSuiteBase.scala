package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for suites (one per JVM; Test/fork gives the
  * JDK17 add-opens). */
trait SparkSuiteBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuiteBase.session
  override def afterAll(): Unit = {} // shared session; never stop per-suite
}

object SparkSuiteBase {
  lazy val session: SparkSession = SparkSessions("graft-test", Some(4))
}
