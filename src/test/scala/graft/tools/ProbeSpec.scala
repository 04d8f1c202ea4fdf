package graft.tools

import java.nio.file.Files

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.{Harness, SparkEntry, SparkSpec}

/** The probe main's subcommands, run as methods on the shared session:
  * dispatch, the minibench JSON contract, the no-sample rule for a
  * failing key, the plan dump, and the session shape they all run on. */
class ProbeSpec extends SparkSpec {
  private val cheap = Seq("q01_pricing_summary", "d04_mongo_filter")

  /** (exit code, stdout lines) of `f`. */
  private def captured(f: => Int): (Int, Seq[String]) = {
    val out = new java.io.ByteArrayOutputStream()
    val rc = Console.withOut(new java.io.PrintStream(out, true, "UTF-8"))(f)
    (rc, out.toString("UTF-8").linesIterator.toSeq)
  }

  private def lastJson(lines: Seq[String]): JsonNode =
    new ObjectMapper().readTree(lines.last)

  test("an unknown or missing subcommand, or a wrong argument count, " +
      "prints usage and returns 2") {
    for (args <- Seq(Nil, Seq("nope"), Seq("minibench", sfDir),
        Seq("scaleup", "a", "b"))) {
      val (rc, lines) = captured(Probe.run(spark, args))
      assert(rc == 2, args)
      assert(lines.headOption.exists(_.startsWith("usage:")), lines)
    }
  }

  test("minibench reports every key and ends with BENCH_FULL-shaped JSON") {
    val (rc, lines) =
      captured(Probe.run(spark, Seq("minibench", sfDir, cheap.mkString(","))))
    assert(rc == 0, lines.mkString("\n"))
    val j = lastJson(lines)
    for (field <- Seq("queries", "queries_p50"); k <- cheap)
      assert(j.get(field).get(k).asDouble > 0, s"$field.$k in ${lines.last}")
    assert(j.get("rounds").asInt == Probe.Rounds)
    assert(j.get("sf").asText == sfDir && j.get("data_fp").asText.nonEmpty)
    cheap.foreach { k =>
      assert(lines.exists(l => l.startsWith(k) && l.contains(s"n=${Probe.Rounds}") &&
        l.contains("construct") && l.contains("exec")), k)
    }
  }

  test("a key that throws adds no sample and is reported as failed") {
    val queries = SparkEntry.queries + ("boom" ->
      ((s: org.apache.spark.sql.SparkSession, _: String) =>
        s.range(1).selectExpr("raise_error('boom')")))
    val (rc, lines) = captured(Probe.minibench(spark, sfDir,
      Seq("q01_pricing_summary", "boom"), queries))
    assert(rc == 1)
    val j = lastJson(lines)
    assert(j.get("queries").get("boom").asDouble == -1.0)
    assert(j.get("queries_p50").get("boom").asDouble == -1.0)
    assert(j.get("queries").get("q01_pricing_summary").asDouble > 0)
    assert(lines.count(_.startsWith("FAIL boom round")) == Probe.Rounds)
    assert(lines.exists(l => l.startsWith("boom") && l.contains("FAILED")))
  }

  test("explain writes one non-empty final-plan file per key") {
    val out = Files.createTempDirectory("probe_explain")
    val (rc, lines) = captured(Probe.run(spark,
      Seq("explain", sfDir, cheap.mkString(","), out.toString, "spec")))
    assert(rc == 0, lines.mkString("\n"))
    cheap.foreach { k =>
      val f = out.resolve(s"${k}_spec.txt")
      assert(Files.isRegularFile(f), s"missing $f")
      val txt = Files.readString(f)
      assert(txt.nonEmpty && txt.contains("isFinalPlan=true"), s"$k: $txt")
    }
    assert(Files.list(out).count() == cheap.size)
  }

  test("the session conf follows SPARK_GRAFT_CPUS: partitions, UTC, no UI") {
    val c = Harness.conf(Map("SPARK_GRAFT_CPUS" -> "3"))
    assert(c.get("spark.master") == "local[3]")
    assert(c.get("spark.sql.shuffle.partitions") == "3")
    assert(c.get("spark.sql.session.timeZone") == "UTC")
    assert(c.get("spark.ui.enabled") == "false")
    val d = Harness.conf(Map.empty)
    assert(d.get("spark.master") == "local[4]")
    assert(d.get("spark.sql.shuffle.partitions") == "4")
  }
}
