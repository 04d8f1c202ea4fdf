package graft.perfbench

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.functions.{text, vectors}

/** Node counts of one executed plan (subqueries and AQE stages included). */
final case class PlanCounts(exchanges: Int, broadcasts: Int, scans: Int)

object PlanCounts extends AdaptiveSparkPlanHelper {
  private def names(p: SparkPlan): Seq[String] =
    collectWithSubqueries(p) { case n => n.getClass.getSimpleName }

  def apply(p: SparkPlan): PlanCounts = {
    val ns = names(p)
    PlanCounts(ns.count(_.contains("ShuffleExchange")),
      ns.count(_.contains("BroadcastExchange")),
      ns.count(n => n.contains("Scan") && n.endsWith("Exec")))
  }

  /** Rows the data-source scans of an executed plan produced. */
  def scanRows(p: SparkPlan): Long =
    collectWithSubqueries(p) {
      case n if n.getClass.getSimpleName.contains("BatchScan") =>
        n.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
}

/** `functions.<kernel>.ns_per_row`: each public kernel over a fixed
  * in-memory frame, minus an identity projection of its input column.
  * The input is the same in every workload and seed. */
object Kernels {
  private val Rows = 60000
  private val Reps = 3
  private val Words = ("data spark query table value row column scan join merge " +
    "batch stream window filter group order sort key hash part line agg small " +
    "big fast slow vector index cache plan node task stage shuffle frame").split(' ')

  def nsPerRow(spark: SparkSession): Seq[(String, Double)] = {
    val words = typedLit(Words.toSeq)
    val base = spark.range(Rows)
      .withColumn("text", concat_ws(" ", transform(sequence(lit(1), pmod(col("id"), lit(40)) + 20),
        i => element_at(words, (pmod(xxhash64(col("id"), i), lit(Words.length.toLong)) + 1).cast("int")))))
      .withColumn("v", transform(sequence(lit(1), lit(64)), i => sin(col("id") * 64 + i).cast("float")))
      .withColumn("q", transform(sequence(lit(1), lit(64)), i => cos(i).cast("float")))
      .withColumn("sig", text.minhash_sig(col("text")))
      .withColumn("ids", text.bpe_token_ids(col("text")))
      .withColumn("toks", split(col("text"), " "))
      .repartition(spark.sparkContext.defaultParallelism)
      .cache()
    try {
      base.count()
      def time(cs: Seq[Column]): Double = {
        val t0 = System.nanoTime()
        base.select(cs: _*).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0).toDouble
      }
      val t = col("text")
      val kernels: Seq[(String, Seq[String], Column)] = Seq(
        ("text.minhash_sig", Seq("text"), text.minhash_sig(t)),
        ("text.simhash64", Seq("text"), text.simhash64(t)),
        ("text.rolling_fingerprint", Seq("text"), text.rolling_fingerprint(t)),
        ("text.band_hash", Seq("sig"), text.band_hash(col("sig"), 0, 4)),
        ("text.shingle_hashes", Seq("text"), text.shingle_hashes(t)),
        ("text.strip_accents", Seq("text"), text.strip_accents(t)),
        ("text.nibble_quant", Seq("text"), text.nibble_quant(t)),
        ("text.dct_sign_hash", Seq("text"), text.dct_sign_hash(t)),
        ("text.bpe_token_ids", Seq("text"), text.bpe_token_ids(t)),
        ("text.bpe_decode", Seq("ids"), text.bpe_decode(col("ids"))),
        ("text.char_count_values", Seq("text"), text.char_count_values(t)),
        ("text.gram_stats", Seq("toks"), text.gram_stats(col("toks"), 2)),
        ("vectors.cosine_sim", Seq("v", "q"), vectors.cosine_sim(col("v"), col("q"))),
        ("vectors.hyperplane_bucket", Seq("v"), vectors.hyperplane_bucket(col("v"))))
      // kernel and identity projection alternate, so drift in the host's
      // speed hits both; the median of the paired differences is reported
      kernels.map { case (name, in, k) =>
        val diffs = (0 to Reps).map(_ => time(Seq(k)) - time(in.map(col))).tail.sorted
        name -> diffs(diffs.size / 2) / Rows
      }
    } finally base.unpersist()
  }
}
