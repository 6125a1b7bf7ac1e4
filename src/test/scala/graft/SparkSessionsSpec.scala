package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

class SparkSessionsSpec extends AnyFunSuite {

  test("every session is built by SparkSessions: no other source calls the builder") {
    val builder = Seq("SparkSession", "builder").mkString(".")
    val home = Paths.get("src/main/scala/graft/SparkSessions.scala")
    def sources(dir: String): Seq[Path] = {
      val walk = Files.walk(Paths.get(dir))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val callers = (sources("src/main/scala") ++ sources("src/test/scala"))
      .filter(p => Files.readString(p).contains(builder))
    assert(callers == Seq(home))
  }
}
