package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One mechanism per concern: the session factory (Harness) holds the
  * only SparkSession builder in the main tree, and the only entry points
  * are the correctness and benchmark mains (Verify, Bench) plus the one
  * probe main. A new copied builder or one-off `main` fails here instead
  * of accreting. */
class HarnessGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  /** Main-tree files (relative to src/main/scala) whose text contains `s`. */
  private def filesWith(s: String): Set[String] = {
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(s))
      .map((p: Path) => root.relativize(p).toString).toSet
    finally walk.close()
  }

  test("SparkSession.builder appears only in the session factory") {
    assert(filesWith("SparkSession.builder") == Set("graft/Harness.scala"))
  }

  test("def main( appears only in Bench, Verify and Probe") {
    assert(filesWith("def main(") == Set("graft/Bench.scala",
      "graft/Verify.scala", "graft/tools/Probe.scala"))
  }
}
