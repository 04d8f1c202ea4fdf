import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.perfbench.{Op, PerfBench}

/** Test-only run of the real loop with two failing probe ops mixed into
  * a docstore_sql plan's sequence: one throws, one returns different rows
  * after the warm-up pass. Arguments: <plan.json> <work dir> <seconds>
  * <nproc> <out.json>. */
object ProbeRun {
  def main(args: Array[String]): Unit = {
    val Array(planPath, work, seconds, nproc, outPath) = args
    val mapper = new ObjectMapper()
    val plan = mapper.readTree(Paths.get(planPath).toFile).asInstanceOf[ObjectNode]
    val seq = mapper.createArrayNode()
    plan.get("sequence").elements().forEachRemaining { id =>
      seq.add(id)
      if (seq.size % 4 == 0) seq.add("probe_throws")
      if (seq.size % 7 == 0) seq.add("probe_wrong")
    }
    plan.set("sequence", seq)
    var calls = 0
    val probes = (spark: org.apache.spark.sql.SparkSession) => Map(
      "probe_throws" -> Op("probe_throws", "probe", write = false,
        () => throw new IllegalStateException("probe op fails by design")),
      "probe_wrong" -> Op("probe_wrong", "probe", write = false, () => {
        calls += 1
        spark.range(if (calls == 1) 3 else 4).toDF()
      }))
    val out = new PerfBench(plan, Paths.get(work), seconds.toDouble, traced = false,
      nproc.toInt, extraOps = probes).run()
    Files.writeString(Paths.get(outPath), mapper.writeValueAsString(out))
  }
}
