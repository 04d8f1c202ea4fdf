package graft.tools

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Harness, SparkEntry, Tables}

/** The one probe main, on the Harness session (`SPARK_GRAFT_CPUS` sizes
  * it): `runMain graft.tools.Probe <subcommand> <args...>`.
  *
  *  - `minibench <sfDir> <k1,k2,...>`: Bench's methodology on a key
  *    subset, with each key's construction/execution split and stage CPU
  *    by call site; the last stdout line is BENCH_FULL-shaped JSON that
  *    tools/decade_bands.py reads.
  *  - `explain <sfDir> <k1,...> <outDir> <tag>`: execute each key, then
  *    write its formatted final (post-AQE) plan to `<outDir>/<key>_<tag>.txt`.
  *  - `scaleup <src> <dst> <factor>`: synthesize a larger SF ([[ScaleUp]]).
  *  - `plansweep [sfDir]`: the suite-wide plan gate ([[PlanSweep]]).
  *
  * Each subcommand takes the session and returns the exit code; only
  * `main` builds and stops a session. Unknown subcommands and wrong
  * argument counts print usage and return 2.
  */
object Probe {
  /** Interleaved timed rounds per minibench key, after one warm run. */
  val Rounds = 3

  private case class Sub(args: String, arity: Range,
      run: (SparkSession, Seq[String]) => Int)

  private val subs = Seq(
    "minibench" -> Sub("<sfDir> <k1,k2,...>", 2 to 2,
      (s, a) => minibench(s, a(0), a(1).split(",").toSeq)),
    "explain" -> Sub("<sfDir> <k1,...> <outDir> <tag>", 4 to 4,
      (s, a) => explain(s, a(0), a(1).split(",").toSeq, a(2), a(3))),
    "scaleup" -> Sub("<src> <dst> <factor>", 3 to 3,
      (s, a) => { ScaleUp(s, a(0), a(1), a(2).toInt); 0 }),
    "plansweep" -> Sub("[sfDir]", 0 to 1, PlanSweep(_, _)))

  private def parse(args: Seq[String]): Option[(Sub, Seq[String])] =
    args.headOption.flatMap(n => subs.find(_._1 == n)).map(_._2)
      .filter(_.arity.contains(args.size - 1)).map(_ -> args.tail)

  private def usage(): Int = {
    println("usage: Probe <subcommand> <args...>")
    subs.foreach { case (n, s) => println(s"  $n ${s.args}") }
    2
  }

  /** Run the subcommand `args` names on `spark`; its exit code. */
  def run(spark: SparkSession, args: Seq[String]): Int =
    parse(args).fold(usage()) { case (sub, rest) => sub.run(spark, rest) }

  def main(args: Array[String]): Unit =
    sys.exit(parse(args.toSeq).fold(usage()) { case (sub, rest) =>
      val spark = Harness.session()
      try sub.run(spark, rest) finally spark.stop()
    })

  /** Warm prelude, one warm run per key, then `Rounds` interleaved timed
    * rounds (construction + execution, the Bench rule: a failed round
    * adds no sample). Per key: min, p50 and n; the construction vs
    * execution wall and job/stage split of the fastest round; the top
    * stage-CPU call sites over all rounds. Exit 1 when a key never
    * succeeded (it publishes -1.0, Bench's failure sentinel). */
  def minibench(spark: SparkSession, sfDir: String, keys: Seq[String],
      queries: Map[String, (SparkSession, String) => DataFrame] =
        SparkEntry.queries): Int = {
    val sc = spark.sparkContext
    Harness.warm(spark, sfDir)
    keys.foreach { k =>
      try Harness.noop(queries(k)(spark, sfDir))
      catch { case e: Throwable => println(s"WARM FAIL $k: $e") }
    }
    case class Split(construct: Double, execute: Double,
        constructJobs: (Int, Int), executeJobs: (Int, Int))
    val splits = mutable.Map[String, List[Split]]().withDefaultValue(Nil)
    val stageCpu = mutable.Map[String, mutable.Map[String, Array[Long]]]()
    var last = (0.0, 0.0)
    val meter = new Harness.Meter(spark)
    val samples = try Harness.rounds(Rounds, keys,
      run = k => try {
        val t0 = System.nanoTime()
        sc.setLocalProperty(Harness.Meter.Phase, "construct")
        val df = queries(k)(spark, sfDir)
        val t1 = System.nanoTime()
        sc.setLocalProperty(Harness.Meter.Phase, "execute")
        Harness.noop(df)
        last = ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
      } finally sc.setLocalProperty(Harness.Meter.Phase, null),
      failed = (k, r, e) => println(s"FAIL $k round $r: " +
        s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
          .take(300)),
      before = _ => { Harness.drain(spark); meter.reset() },
      after = k => {
        Harness.drain(spark)
        splits(k) ::= Split(last._1, last._2,
          meter.jobsIn("construct"), meter.jobsIn("execute"))
        val acc = stageCpu.getOrElseUpdate(k, mutable.Map())
        meter.stageCpu.asScala.foreach { case (site, a) =>
          val t = acc.getOrElseUpdate(site, Array(0L, 0L, 0L))
          (0 to 2).foreach(i => t(i) += a(i))
        }
      })
    finally meter.close()
    val mins = keys.map(k => k -> samples(k).minOption.getOrElse(-1.0))
    val p50s = keys.map(k => k -> Harness.p50(samples(k)))
    keys.foreach { k =>
      val ss = samples(k)
      if (ss.isEmpty) println(f"$k%-28s FAILED (0/$Rounds rounds)")
      else {
        val b = splits(k).minBy(s => s.construct + s.execute)
        println(f"$k%-28s min ${ss.min}%6.3f  p50 ${Harness.p50(ss)}%6.3f  " +
          f"n=${ss.size}  construct ${b.construct}%6.2fs (jobs " +
          f"${b.constructJobs._1}%3d stages ${b.constructJobs._2}%4d)  exec " +
          f"${b.execute}%6.2fs (jobs ${b.executeJobs._1}%3d stages " +
          f"${b.executeJobs._2}%4d)")
        stageCpu(k).toSeq.sortBy(-_._2(0)).take(8).foreach { case (site, a) =>
          println(f"    cpu ${a(0) / 1e9}%7.2fs run ${a(1)}%8dms " +
            f"x${a(2)}%-3d $site")
        }
      }
    }
    // same attributability stamp as Bench: a timing is only comparable
    // to another timing taken against the same testdata bytes
    val fp = Tables.shortFp(Tables.testdataFingerprint(sfDir))
    println(s"""{"metric":"total","queries":${Harness.qjson(mins)},""" +
      s""""queries_p50":${Harness.qjson(p50s)},"rounds":$Rounds,""" +
      s""""data_fp":"$fp","sf":"$sfDir"}""")
    if (mins.exists(_._2 < 0)) 1 else 0
  }

  /** Execute each key through the official noop write, then write the
    * formatted final (post-AQE) plan of that write to
    * `<outDir>/<key>_<tag>.txt`. Exit 1 when any key failed. */
  def explain(spark: SparkSession, sfDir: String, keys: Seq[String],
      outDir: String, tag: String): Int = {
    graft.operators.DocstoreOps.ensureEventDocs(spark, sfDir)
    Files.createDirectories(Paths.get(outDir))
    // the noop write plans its own QueryExecution; the listener hands it
    // over once the bus is drained
    @volatile var written: Option[QueryExecution] = None
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        written = Some(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val failed = try keys.filterNot { k =>
      try {
        written = None
        Harness.noop(SparkEntry.queries(k)(spark, sfDir))
        Harness.drain(spark)
        val out = Paths.get(outDir, s"${k}_$tag.txt")
        Files.writeString(out, written.get.explainString(FormattedMode))
        println(s"WROTE $out")
        true
      } catch { case e: Throwable =>
        println(s"FAIL $k: ${e.getClass.getSimpleName}: ${e.getMessage}")
        false
      }
    } finally spark.listenerManager.unregister(listener)
    if (failed.isEmpty) 0 else 1
  }
}
