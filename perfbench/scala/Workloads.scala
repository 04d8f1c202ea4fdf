package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Graft

/** One operation. `construct` is the call that builds the DataFrame (for
  * a write, its source); `execute` performs a write. A read op has no
  * `execute`: the loop materializes it with a noop write that also
  * computes the output fingerprint. */
final case class Op(id: String, kind: String, write: Boolean,
    construct: () => DataFrame, execute: DataFrame => Unit = null,
    expect: Option[(Long, Double)] = None, countOnly: Boolean = false)

/** A workload: its ops, built from the generated plan, and the set-up
  * work that belongs to `setup_s`. */
abstract class Workload(val plan: JsonNode, val work: Path) {
  def name: String = plan.get("workload").asText
  def ops(spark: SparkSession): Map[String, Op]
  /** Catalog root attached as `bench` in the set-up. */
  def catalogRoot: String
  /** Set-up work beyond session start and attach, from a cold state. */
  def prepare(spark: SparkSession): Unit = ()
  /** Untimed round boundary ("reset:<v>" sequence entries). */
  def untimed(spark: SparkSession, entry: String): Unit = ()
  /** Ops of the untimed warm-up pass, in order. */
  def warmup: Seq[String]
  /** Collection `sources.open_ms` opens, and its mongo filter / pipeline
    * for the compile probes. */
  def openPath: String
  def probeFilter: String = """{"event_type":"click","value":{"$gte":10}}"""
  def probePipeline: String =
    """[{"$match":{"value":{"$gt":1}}},{"$group":{"_id":"$event_type","n":{"$sum":1}}}]"""
  /** Artifact roots whose `_GRAFT_COMPLETE` markers count as builds. */
  def artifactRoots: Seq[Path] = Nil
  /** Input bytes the artifacts derive from. */
  def artifactInputBytes: Long = 0L

  protected def opSpecs: Seq[JsonNode] = plan.get("ops").elements().asScala.toSeq
  protected def param(o: JsonNode, k: String): String = o.get("params").get(k).asText
  protected def intParam(o: JsonNode, k: String): Int = o.get("params").get(k).asInt
  protected def dblParam(o: JsonNode, k: String): Double = o.get("params").get(k).asDouble
  protected def input(k: String): String = plan.get("inputs").get(k).asText
}

object Workload {
  def apply(plan: JsonNode, work: Path): Workload =
    plan.get("workload").asText match {
      case "docstore_sql" => new DocstoreSql(plan, work)
      case "docstore_ingest" => new DocstoreIngest(plan, work)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

/** The paper's path: SQL and Mongo queries over a chunked JSONL
  * collection through `mongo_scan` and its pushdown. */
final class DocstoreSql(plan: JsonNode, work: Path) extends Workload(plan, work) {
  private val coll = input("collection")
  def catalogRoot: String = input("root")
  def openPath: String = coll
  def warmup: Seq[String] = opSpecs.map(_.get("id").asText)
  override def probeFilter: String =
    opSpecs.find(_.get("kind").asText == "eq_range").map(param(_, "filter"))
      .getOrElse(super.probeFilter)

  def ops(spark: SparkSession): Map[String, Op] = opSpecs.map { o =>
    val id = o.get("id").asText
    val kind = o.get("kind").asText
    def scan(): DataFrame = Graft.mongoScan(spark, coll)
    val build: () => DataFrame = kind match {
      case "full_scan" => () => scan()
      case "projection" =>
        val cs = o.get("params").get("cols").elements().asScala.map(_.asText).toSeq
        () => scan().select(cs.map(col): _*)
      case "eq_range" | "in_exists" | "oid_point" =>
        val f = param(o, "filter"); () => Graft.mongoScan(spark, coll, f)
      case "prefix" =>
        val f = param(o, "filter"); () => scan().filter(Graft.mongoFilter(f))
      case "group_agg" | "pipeline" | "unwind_group" =>
        val p = param(o, "pipeline"); () => Graft.aggregate(scan(), p)
      case "orderby_limit" =>
        val n = intParam(o, "n"); () => scan().orderBy(col("_id")).limit(n)
      case "limit" => val n = intParam(o, "n"); () => scan().limit(n)
      case "catalog_sql" => val q = param(o, "sql"); () => spark.sql(q)
    }
    id -> Op(id, kind, write = false, build, countOnly = kind == "limit")
  }.toMap
}

/** The write path: append, `$merge` upsert and one AvailableNow stream
  * batch into a docstore collection, each followed by reads that must
  * see every committed write. */
final class DocstoreIngest(plan: JsonNode, work: Path) extends Workload(plan, work) {
  private val root = work.resolve("ingest_root")
  private val coll = root.resolve("bench").resolve("events.jsonl")
  private val basePath = input("base")
  private val variants =
    plan.get("inputs").get("variants").elements().asScala.map(_.asText).toIndexedSeq
  private val artRoot = work.resolve("artifacts")
  private var base: Path = _
  private var round = 0
  def catalogRoot: String = root.toString
  def openPath: String = coll.toString
  override def artifactRoots: Seq[Path] = Seq(artRoot)
  override def artifactInputBytes: Long = Files.size(Paths.get(basePath))

  /** The first round's ops, one of each kind. */
  def warmup: Seq[String] = {
    val seq = plan.get("sequence").elements().asScala.map(_.asText).toSeq
    val kinds = opSpecs.map(o => o.get("id").asText -> o.get("kind").asText).toMap
    seq.head +: seq.tail.takeWhile(!_.startsWith("reset:")).distinctBy(kinds)
  }

  /** The set-up builds the base collection (seeded parquet → chunked
    * JSONL) from a cold artifact root through the engine's artifact
    * cache; every round starts from a copy of it. */
  override def prepare(spark: SparkSession): Unit = {
    Workload.deleteTree(artRoot)
    Files.createDirectories(artRoot)
    base = Paths.get(Graft.ensureArtifact(artRoot.toString, "ingest_base",
        graft.Tables.shortFp(s"$basePath:${Files.size(Paths.get(basePath))}")) { p =>
      spark.read.parquet(basePath).repartition(4)
        .write.format("docstore").mode("overwrite").save(p)
    })
    reset()
  }

  override def untimed(spark: SparkSession, entry: String): Unit = reset()

  /** Fresh copy of the base collection; stream checkpoints go with it. */
  private def reset(): Unit = {
    Workload.deleteTree(root)
    Files.createDirectories(coll)
    val s = Files.list(base)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".jsonl"))
      .toSeq.sorted.foreach(f => Files.copy(f, coll.resolve(f.getFileName)))
    finally s.close()
    round += 1
  }

  def ops(spark: SparkSession): Map[String, Op] = opSpecs.map { o =>
    val id = o.get("id").asText
    val kind = o.get("kind").asText
    val agg = Seq(count(lit(1)).as("n"), sum(col("value")).as("s"))
    val op = kind match {
      case "append" =>
        val src = s"${variants(intParam(o, "variant"))}/append.parquet"
        Op(id, kind, write = true, () => spark.read.parquet(src),
          df => df.write.format("docstore").mode("append").save(coll.toString))
      case "merge" =>
        val src = s"${variants(intParam(o, "variant"))}/merge.parquet"
        val p = s"""[{"$$merge":{"into":"$coll","on":"event_id",""" +
          """"whenMatched":"replace","whenNotMatched":"insert"}}]"""
        Op(id, kind, write = true, () => spark.read.parquet(src),
          df => Graft.aggregate(df, p))
      case "stream" =>
        val landing = s"${variants(intParam(o, "variant"))}/landing"
        Op(id, kind, write = true,
          () => spark.readStream.format("docstore").option("path", landing).load(),
          df => df.writeStream.format("docstore")
            .option("path", coll.toString)
            .option("checkpointLocation", root.resolve(s".ckpt-$round").toString)
            .trigger(Trigger.AvailableNow()).start().awaitTermination())
      case _ =>
        val et = param(o, "event_type")
        val e = o.get("expect")
        val expect = Some((e.get("count").asLong, e.get("sum").asDouble))
        val build: () => DataFrame = kind match {
          case "scan_count" => () => Graft.mongoScan(spark, coll.toString).agg(agg.head, agg.tail: _*)
          case "scan_filter" => () =>
            Graft.mongoScan(spark, coll.toString, s"""{"event_type":"$et"}""")
              .agg(agg.head, agg.tail: _*)
          case "catalog_count" => () =>
            Graft.clearCache(spark, "bench")
            spark.sql("SELECT count(*) AS n, sum(value) AS s FROM bench.bench.events")
          case "catalog_filter" => () =>
            Graft.clearCache(spark, "bench")
            spark.sql("SELECT count(*) AS n, sum(value) AS s FROM bench.bench.events " +
              s"WHERE event_type = '$et'")
        }
        Op(id, kind, write = false, build, expect = expect)
    }
    id -> op
  }.toMap
}
