package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkConf
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session factory and measurement kit behind every main
  * (Bench, Verify, tools.Probe): session shape, warm-up prelude, the
  * official execution, the host-load stamp and the timing loop. */
object Harness {

  /** Session conf: `local[$SPARK_GRAFT_CPUS]` (default 4) with as many
    * shuffle partitions, UTC, no UI. Separate from `session()` so the
    * shape is checkable without starting a context; system properties
    * still apply, because the builder layers this over its own conf. */
  def conf(env: collection.Map[String, String] = sys.env): SparkConf = {
    val cpus = env.getOrElse("SPARK_GRAFT_CPUS", "4")
    new SparkConf(false)
      .setMaster(s"local[$cpus]")
      .set("spark.sql.shuffle.partitions", cpus)
      // measured A/B (2026-08-12): forcing post-shuffle coalescing costs
      // ~8% on idle cores (tiny tasks are free, coalescing serializes);
      // a saturated cluster flips that — tune per deployment.
      .set("spark.sql.session.timeZone", "UTC")
      .set("spark.ui.enabled", "false")
  }

  /** The session every main runs on. Benign AQE late-accumulator ERRORs
    * are filtered out of the captured log tail; real stage-failure
    * narrative keeps flowing (tools.LogFilters, spec-pinned). */
  def session(logLevel: String = "ERROR"): SparkSession = {
    val spark = SparkSession.builder().config(conf()).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    tools.LogFilters.installAccumulatorFilter()
    spark
  }

  /** Untimed warm-up: JVM/JIT/codegen spin-up, parquet footer reads and
    * the one-time docstore test-collection generation — data prep, not
    * query time. */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.all.foreach(n => Tables(spark, sfDir, n).count())
    operators.DocstoreOps.ensureEventDocs(spark, sfDir)
  }

  /** Official execution (VERDICT r10 #1): a noop-format WRITE — full
    * materialization of every output column. count()'s Aggregate wrapper
    * lets Catalyst prune columns and ELIMINATE unique-key joins whose
    * output isn't projected (the round-10b A/B measured 1.28× of the
    * suite's work, including t14's entire final join, invisible under
    * count). */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** 1/5/15-minute load averages, "" where /proc is unavailable. */
  def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split(" ").take(3).mkString(" ")
    catch { case _: Throwable => "" }

  /** `n` INTERLEAVED rounds over `keys` (noise spikes hit whole windows,
    * so a key's samples land minutes apart). A successful `run` adds its
    * wall seconds to the key's samples; a run that throws goes to
    * `failed` and adds NO sample — its near-zero time would publish as a
    * bogus fast min. `before` runs untimed ahead of each run, `after`
    * untimed after each success. A key whose rounds all failed maps to Nil. */
  def rounds(n: Int, keys: Seq[String], run: String => Unit,
      failed: (String, Int, Throwable) => Unit,
      before: String => Unit = _ => (),
      after: String => Unit = _ => ()): collection.Map[String, List[Double]] = {
    val samples = collection.mutable.LinkedHashMap[String, List[Double]]()
    keys.foreach(samples(_) = Nil)
    for (r <- 1 to n; k <- keys) {
      before(k)
      val t0 = System.nanoTime()
      try {
        run(k)
        samples(k) = (System.nanoTime() - t0) / 1e9 :: samples(k)
        after(k)
      } catch { case e: Throwable => failed(k, r, e) }
    }
    samples
  }

  /** Median of `ss`; -1.0 (the failure sentinel) when empty. */
  def p50(ss: Seq[Double]): Double =
    if (ss.isEmpty) -1.0 else ss.sorted.apply(ss.size / 2)

  /** `{"key":seconds,...}` in the BENCH_FULL per-query shape. */
  def qjson(rs: Seq[(String, Double)]): String =
    rs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  /** Wait until the async listener bus has delivered every posted event.
    * Without it, a run's task-end tail posts after the run returns and
    * lands on the next one (review r10). waitUntilEmpty is
    * private[spark], which compiles to a public JVM method — reflected,
    * with a no-wait fallback that only costs smear, never correctness. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      try bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      catch { case _: Throwable =>
        bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
          .invoke(bus, java.lang.Long.valueOf(5000L))
      }
    } catch { case _: Throwable => () }
  }

  /** Listener counters for runs that go one at a time: executor CPU, jobs
    * and stages per `Meter.Phase` (the local property at submission, which
    * Par threads inherit), and stage CPU by call site. `Harness.drain`
    * before reading, `reset()` between runs. */
  final class Meter(spark: SparkSession) extends SparkListener {
    val cpuNs = new AtomicLong
    /** phase → (jobs, stages) */
    val jobs = new ConcurrentHashMap[String, Array[Int]]()
    /** call site → (cpu ns, run ms, stages) */
    val stageCpu = new ConcurrentHashMap[String, Array[Long]]()
    spark.sparkContext.addSparkListener(this)

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskMetrics != null) cpuNs.addAndGet(t.taskMetrics.executorCpuTime)

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val phase = Option(j.properties)
        .flatMap(p => Option(p.getProperty(Meter.Phase))).getOrElse("")
      jobs.compute(phase, (_, v) => {
        val a = if (v == null) Array(0, 0) else v
        a(0) += 1; a(1) += j.stageInfos.size; a
      })
    }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val info = s.stageInfo
      stageCpu.compute(info.name.split("\n")(0).take(110), (_, v) => {
        val a = if (v == null) Array(0L, 0L, 0L) else v
        a(0) += info.taskMetrics.executorCpuTime
        a(1) += info.taskMetrics.executorRunTime
        a(2) += 1; a
      })
    }

    def reset(): Unit = { cpuNs.set(0); jobs.clear(); stageCpu.clear() }

    def close(): Unit = spark.sparkContext.removeSparkListener(this)

    /** (jobs, stages) submitted under `phase`. */
    def jobsIn(phase: String): (Int, Int) =
      Option(jobs.get(phase)).map(a => (a(0), a(1))).getOrElse((0, 0))
  }

  object Meter {
    /** Local property naming the phase a job belongs to. */
    val Phase = "graft.phase"
  }
}
