package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Graft

/** Output fingerprint of one materialization: row count, the sum of the
  * 64-bit row hashes over the non-floating columns, and per-column sums
  * of the numeric columns. Computed by `observe` inside the op's own job,
  * so checking every op adds no job. */
final case class Fp(n: Long, h: java.math.BigDecimal, sums: Seq[Any]) {
  def matches(o: Fp, countOnly: Boolean): Boolean =
    n == o.n && (countOnly || (h == o.h && sums.size == o.sums.size &&
      sums.zip(o.sums).forall {
        case (a: Double, b: Double) => Fp.close(a, b)
        case (a, b) => a == b
      }))
}

object Fp {
  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  private def floating(t: DataType) = t == DoubleType || t == FloatType

  def columns(df: DataFrame): Seq[Column] = {
    val fs = df.schema.fields.toSeq
    def c(f: StructField) = col(s"`${f.name.replace("`", "``")}`")
    val hashed = fs.filterNot(f => floating(f.dataType)).map(c)
    val h = if (hashed.isEmpty) lit(0L) else xxhash64(hashed: _*)
    Seq(count(lit(1)).as("n"), sum(h.cast(DecimalType(38, 0))).as("h")) ++
      fs.zipWithIndex.collect {
        case (f, i) if floating(f.dataType) => sum(c(f).cast(DoubleType)).as(s"s$i")
        case (f, i) if Seq(ByteType, ShortType, IntegerType, LongType).contains(f.dataType) =>
          sum(c(f).cast(DecimalType(38, 0))).as(s"s$i")
      }
  }

  def of(o: Observation): Fp = {
    val m = o.get
    val sums = m.keys.filter(_.startsWith("s")).toSeq.sortBy(_.drop(1).toInt).map { k =>
      m(k) match {
        case null => null
        case d: java.math.BigDecimal => d.longValue: Any
        case d: Double => d
        case x => x
      }
    }
    Fp(m("n").asInstanceOf[Long],
      Option(m("h").asInstanceOf[java.math.BigDecimal]).getOrElse(java.math.BigDecimal.ZERO),
      sums)
  }
}

/** One timed op as the loop saw it. */
final case class Sample(id: String, kind: String, write: Boolean, latS: Double,
    ok: Boolean, err: String, constructS: Double, planS: Double, rows: Long)

/** The benchmark's JVM side: the set-up, the closed loop, checks and the
  * per-layer readings. Arguments: <plan.json> <work dir> <seconds>
  * <trace 0|1> <nproc> <out.json>. */
object PerfBench {
  private val mapper = new ObjectMapper()
  /** After one pass op latency still falls by a quarter across the
    * window that follows, as the JIT warms; a second pass halves that. */
  val WarmupPasses = 2

  def main(args: Array[String]): Unit = {
    val Array(planPath, workDir, secondsS, traceS, nprocS, outPath) = args
    val plan = mapper.readTree(Paths.get(planPath).toFile)
    val work = Paths.get(workDir)
    val run = new PerfBench(plan, work, secondsS.toDouble, traceS == "1", nprocS.toInt)
    val out = run.run()
    Files.writeString(Paths.get(outPath), mapper.writeValueAsString(out))
  }

  def session(work: Path, nproc: Int): SparkSession =
    SparkSession.builder().master(s"local[$nproc]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()

  /** JSON-able value of one result cell (timestamps as UTC text). */
  def jsonValue(v: Any): Any = v match {
    case null => null
    case t: java.sql.Timestamp =>
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
        .withZone(java.time.ZoneOffset.UTC).format(t.toInstant)
    case d: java.sql.Date => d.toString
    case d: java.math.BigDecimal => d.doubleValue
    case s: scala.collection.Seq[_] => new JList[Any](s.map(jsonValue).asJava)
    case r: Row => new JList[Any](r.toSeq.map(jsonValue).asJava)
    case f: Float => f.toDouble
    case x => x
  }
}

/** `extraOps` adds ops to the workload's own (tests inject failing probes
  * through it); their ids join the warm-up pass. */
final class PerfBench(plan: JsonNode, work: Path, seconds: Double, traced: Boolean,
    nproc: Int,
    extraOps: SparkSession => Map[String, Op] = _ => Map.empty) {
  import PerfBench._

  private val wl = Workload(plan, work)
  private val sequence = plan.get("sequence").elements().asScala.map(_.asText).toIndexedSeq
  private val planSpecs = plan.get("ops").elements().asScala.map(o => o.get("id").asText -> o).toMap
  private var spark: SparkSession = _
  private var counters: SparkCounters = _
  private val streams = new StreamCounters
  private val tracer = if (traced) new Tracer else null
  private val refs = mutable.LinkedHashMap.empty[String, Fp]
  private val refRows = new JMap[String, Any]()
  private val warmupFailures = new JMap[String, String]()
  private val scanRows = new java.util.concurrent.atomic.AtomicLong
  private val layer = new JMap[String, Any]()
  private val bases = new JMap[String, Any]()

  private def newSession(): Unit = {
    spark = session(work, nproc)
    spark.sparkContext.setLogLevel("ERROR")
    counters = new SparkCounters(traced)
    spark.sparkContext.addSparkListener(counters)
    spark.streams.addListener(streams)
    if (traced) spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = scanRows.addAndGet(PlanCounts.scanRows(qe.executedPlan))
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    })
  }

  private def timeS[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Materialize a read through a noop write, fingerprinting its rows. */
  private def noop(df: DataFrame): Fp = {
    val o = new Observation()
    val cs = Fp.columns(df)
    df.observe(o, cs.head, cs.tail: _*).write.format("noop").mode("overwrite").save()
    Fp.of(o)
  }

  private def checkRead(op: Op, fp: Fp): Option[String] = op.expect match {
    case Some((n, s)) =>
      val got = (fp.sums.headOption.orNull, fp.sums.lift(1).orNull)
      got match {
        case (gn: Long, gs: Double) if gn == n && Fp.close(gs, s) => None
        case _ => Some(s"expected count=$n sum=$s, got ${fp.sums.mkString(",")}")
      }
    case None => refs.get(op.id) match {
      case Some(r) if r.matches(fp, op.countOnly) => None
      case Some(r) => Some(s"fingerprint $fp differs from reference $r")
      case None => Some("no reference result")
    }
  }

  /** The set-up, timed from JVM start: session start, workload prepare,
    * attach and the warm-up. The warm-up's first pass collects each op's
    * reference result and fingerprint; the later passes must reproduce
    * them. */
  private def setup(): Double = {
    val t0Ms = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = timeS(newSession())._2
    val prepareS = timeS(wl.prepare(spark))._2
    val (_, attachS) = timeS(Graft.attach(spark, "bench", wl.catalogRoot))
    layer.put("sources.catalog_attach_ms", attachS * 1000)
    val extra = extraOps(spark)
    val ops = wl.ops(spark) ++ extra
    val w0 = System.nanoTime()
    for (pass <- 0 until WarmupPasses; id <- wl.warmup ++ extra.keys.toSeq.sorted) {
      if (id.startsWith("reset:")) wl.untimed(spark, id)
      else {
        val op = ops(id)
        try {
          val df = op.construct()
          if (op.write) op.execute(df)
          else if (pass > 0 || op.expect.isDefined)
            checkRead(op, noop(df)).foreach(e => warmupFailures.putIfAbsent(id, e))
          else {
            val o = new Observation()
            val cs = Fp.columns(df)
            val rows = df.observe(o, cs.head, cs.tail: _*).collect()
            refs(id) = Fp.of(o)
            val t = new JMap[String, Any]()
            t.put("columns", new JList[Any](df.columns.toSeq.asJava))
            t.put("rows", new JList[Any](rows.toSeq.map(r => jsonValue(r)).asJava))
            refRows.put(id, t)
          }
        } catch { case NonFatal(e) =>
          warmupFailures.putIfAbsent(id, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
        }
      }
    }
    val total = (System.currentTimeMillis() - t0Ms) / 1000.0
    val phases = new JMap[String, Any]()
    phases.put("total_s", total); phases.put("session_s", sessionS)
    phases.put("prepare_s", prepareS); phases.put("attach_s", attachS)
    phases.put("warmup_s", (System.nanoTime() - w0) / 1e9)
    setupPhases = phases
    total
  }
  private var setupPhases: JMap[String, Any] = _

  def run(): JMap[String, Any] = {
    val out = new JMap[String, Any]()
    val loadBefore = Driver.loadavg()
    val setupS = setup()
    val ops = wl.ops(spark) ++ extraOps(spark)
    val sc = spark.sparkContext

    // ---------------------------------------------------------- window
    counters.drain(sc); counters.reset(); streams.reset(); scanRows.set(0)
    val gc0 = Driver.gcMs()
    windowStartMs = System.currentTimeMillis()
    val samples = mutable.ArrayBuffer.empty[Sample]
    val planCounts = mutable.ArrayBuffer.empty[PlanCounts]
    val w0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - w0) / 1e9 < seconds && i < sequence.size) {
      val id = sequence(i)
      if (id.startsWith("reset:")) wl.untimed(spark, id)
      else {
        val op = ops(id)
        val g = s"${wl.name}/$i/"
        val opStart = if (traced) tracer.nowMs() else 0.0
        var cS, pS = 0.0
        var rows = 0L
        var err: String = null
        val t0 = System.nanoTime()
        try {
          sc.setJobGroup(g + "construct", id)
          val (df, c) = timeS(op.construct()); cS = c
          if (traced && !op.write) {
            sc.setJobGroup(g + "plan", id)
            val (pc, p) = timeS(PlanCounts(df.queryExecution.executedPlan)); pS = p
            planCounts += pc
          }
          sc.setJobGroup(g + "execute", id)
          if (op.write) op.execute(df)
          else {
            val fp = noop(df)
            rows = fp.n
            err = checkRead(op, fp).orNull
          }
        } catch { case NonFatal(e) =>
          err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        } finally sc.clearJobGroup()
        val lat = (System.nanoTime() - t0) / 1e9
        samples += Sample(id, op.kind, op.write, lat, err == null, err, cS, pS, rows)
        if (traced) {
          val end = tracer.nowMs()
          val opSpan = tracer.span(0, i, "op", id, opStart, end)
          val cEnd = opStart + cS * 1000
          val pEnd = cEnd + pS * 1000
          tracer.phase(g + "construct", tracer.span(opSpan, i, "construct", id, opStart, cEnd), i)
          if (pS > 0) tracer.phase(g + "plan", tracer.span(opSpan, i, "plan", id, cEnd, pEnd), i)
          tracer.phase(g + "execute", tracer.span(opSpan, i, "execute", id, pEnd, end), i)
        }
      }
      i += 1
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    counters.drain(sc)
    windowScanRows = scanRows.get
    val gcS = (Driver.gcMs() - gc0) / 1000.0

    // ------------------------------------------------------- results
    val js = new JList[Any]()
    samples.foreach { s =>
      val m = new JMap[String, Any]()
      m.put("id", s.id); m.put("kind", s.kind); m.put("write", s.write)
      m.put("lat", s.latS); m.put("ok", s.ok); m.put("err", s.err)
      js.add(m)
    }
    out.put("samples", js)
    out.put("refs", refRows)
    out.put("warmup_failures", warmupFailures)
    out.put("setup_s", setupS)
    out.put("setup_phases", setupPhases)
    out.put("window_s", windowS)
    out.put("executor_cpu_s", counters.cpuNs.get / 1e9)
    out.put("rss_mb", Driver.vmHwmMb())
    if (traced) {
      out.put("per_layer", perLayer(samples.toSeq, planCounts.toSeq, windowS, gcS))
      out.put("bases", bases)
      tracer.attach(counters)
      val st = new JMap[String, Any]()
      tracer.selfTimes().toSeq.sortBy(_._1).foreach { case (k, v) => st.put(k, v) }
      out.put("self_time_s", st)
      val spans = new JList[Any]()
      tracer.spans.foreach { s =>
        spans.add(new JList[Any](Seq[Any](s.id, s.parent, s.op, s.layer, s.name, s.start, s.end).asJava))
      }
      out.put("spans", spans)
    }
    val stamp = new JMap[String, Any]()
    stamp.put("spark_version", spark.version)
    stamp.put("master", sc.master)
    stamp.put("shuffle_partitions", spark.conf.get("spark.sql.shuffle.partitions"))
    stamp.put("xmx_mb", Runtime.getRuntime.maxMemory / 1048576)
    stamp.put("testdata_fingerprint",
      graft.Tables.testdataFingerprint(plan.get("inputs").get("dir").asText))
    stamp.put("loadavg_before", loadBefore)
    stamp.put("loadavg_after", Driver.loadavg())
    out.put("stamp", stamp)
    spark.stop()
    out
  }

  /** Per-layer readings of the traced run; each name matches a
    * `per_layer` entry of BENCHMARK.json. */
  private def perLayer(samples: Seq[Sample], plans: Seq[PlanCounts], windowS: Double,
      gcS: Double): JMap[String, Any] = {
    val c = counters
    val n = math.max(1, samples.size).toDouble
    val reads = samples.filterNot(_.write)
    val latSum = samples.map(_.latS).sum
    val m = layer
    def put(k: String, v: Double): Unit = m.put(k, v)
    val constructSum = samples.map(_.constructS).sum
    bases.put("per-op means", s"over ${samples.size} ops (${reads.size} reads) in a ${windowS} s window")
    bases.put("operators.construct_share", s"construct $constructSum s / op latency $latSum s")
    bases.put("scheduler.core_busy_frac",
      s"task run ${c.runMs.get / 1000.0} s / (window $windowS s x $nproc cores)")
    put("operators.construct_s", samples.map(_.constructS).sum / n)
    put("operators.construct_jobs", c.constructJobs.get / n)
    put("operators.construct_share", if (latSum > 0) constructSum / latSum else 0)
    val pn = math.max(1, plans.size).toDouble
    put("plans.plan_s", reads.map(_.planS).sum / math.max(1, reads.size))
    put("plans.exchanges", plans.map(_.exchanges).sum / pn)
    put("plans.broadcasts", plans.map(_.broadcasts).sum / pn)
    put("plans.scans", plans.map(_.scans).sum / pn)
    put("scheduler.jobs", c.jobs.get / n)
    put("scheduler.stages", c.stages.get / n)
    put("scheduler.tasks", c.tasks.get / n)
    put("scheduler.task_delay_s", c.schedDelayMs.get / 1000.0 / math.max(1L, c.tasks.get))
    put("scheduler.core_busy_frac", c.runMs.get / 1000.0 / (windowS * nproc))
    put("executor.cpu_s", c.cpuNs.get / 1e9 / n)
    put("executor.run_s", c.runMs.get / 1000.0 / n)
    put("executor.gc_s", c.gcMs.get / 1000.0 / n)
    put("shuffle.write_mb", c.shuffleWrite.get / 1048576.0 / n)
    put("shuffle.read_mb", c.shuffleRead.get / 1048576.0 / n)
    put("shuffle.fetch_wait_s", c.fetchWaitMs.get / 1000.0 / n)
    put("shuffle.spill_mb", c.spill.get / 1048576.0 / n)
    put("shuffle.peak_exec_mb", c.peakExec.get / 1048576.0)
    Kernels.nsPerRow(spark).foreach { case (k, v) => put(s"functions.$k.ns_per_row", v) }
    sourceProbes(samples).foreach { case (k, v) => put(k, v) }
    put("streaming.batches", streams.batches.get.toDouble)
    put("streaming.batch_s", streams.batchMs.get / 1000.0 / math.max(1L, streams.batches.get))
    put("streaming.rows_per_s",
      if (streams.batchMs.get > 0) streams.rows.get / (streams.batchMs.get / 1000.0) else 0)
    val artBytes = wl.artifactRoots.map(Workload.treeBytes).sum
    bases.put("artifact.bytes_per_input_byte", s"artifact $artBytes B / input ${wl.artifactInputBytes} B")
    bases.put("streaming.rows_per_s", s"${streams.rows.get} rows / ${streams.batchMs.get / 1000.0} s in batches")
    put("artifact.mb", artBytes / 1048576.0)
    put("artifact.bytes_per_input_byte",
      if (wl.artifactInputBytes > 0) artBytes.toDouble / wl.artifactInputBytes else 0)
    put("driver.warmup_s", setupPhases.get("warmup_s").asInstanceOf[Double])
    put("driver.gc_s", gcS)
    put("driver.heap_peak_mb", Driver.heapPeakMb())
    m
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; if (s.isEmpty) 0.0 else s(s.size / 2)
  }

  /** `sources.*`: open / compile probes plus scan and write rates. */
  private def sourceProbes(samples: Seq[Sample]): Seq[(String, Double)] = {
    val open = median((1 to 9).map(_ => timeS(Graft.mongoScan(spark, wl.openPath))._2 * 1000))
    val filt = median((1 to 9).map(_ => timeS((1 to 200).foreach(_ =>
      Graft.mongoFilter(wl.probeFilter)))._2 * 1e6 / 200))
    val base = Graft.mongoScan(spark, wl.openPath)
    val pipe = median((1 to 9).map(_ => timeS(Graft.aggregate(base, wl.probePipeline))._2 * 1000))
    def listAll(): Unit = spark.sql("SHOW NAMESPACES IN bench").collect().foreach(r =>
      spark.sql(s"SHOW TABLES IN bench.`${r.getString(0)}`").collect())
    val list = median((1 to 5).map(_ => timeS(listAll())._2 * 1000))
    val reads = samples.filter(s => !s.write && s.ok)
    val returned = reads.map(_.rows).sum
    val full = samples.filter(s => s.kind == "full_scan" && s.ok).map(_.latS)
    val fullRows = planSpecs.get("full_scan").flatMap(_ => refs.get("full_scan")).map(_.n).getOrElse(0L)
    val writes = samples.filter(s => s.write && s.ok)
    val written = writes.map(s => planSpecs(s.id).get("params").get("rows").asDouble).sum
    val files = {
      val p = Paths.get(wl.openPath)
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try s.iterator().asScala.count(f => f.getFileName.toString.endsWith(".jsonl")) finally s.close()
      } else 1
    }
    val markers = wl.artifactRoots.map { r =>
      if (!Files.exists(r)) 0L
      else {
        val s = Files.walk(r)
        try s.iterator().asScala.count(p =>
          p.getFileName.toString == "_GRAFT_COMPLETE" &&
            Files.getLastModifiedTime(p).toMillis > windowStartMs).toLong
        finally s.close()
      }
    }.sum
    bases.put("sources.read_amplification", s"scan rows $windowScanRows / rows returned $returned")
    bases.put("sources.scan_docs_per_s", s"$fullRows docs / median full-scan latency ${median(full)} s")
    bases.put("sources.write_docs_per_s", s"$written docs / write latency ${writes.map(_.latS).sum} s")
    Seq(
      "sources.open_ms" -> open,
      "sources.filter_compile_us" -> filt,
      "sources.pipeline_compile_ms" -> pipe,
      "sources.catalog_list_ms" -> list,
      "sources.rows_read" -> windowScanRows.toDouble / math.max(1, reads.size),
      "sources.read_amplification" ->
        (if (returned > 0) windowScanRows.toDouble / returned else 0.0),
      "sources.scan_docs_per_s" -> (if (full.nonEmpty) fullRows / median(full) else 0.0),
      "sources.write_docs_per_s" ->
        (if (writes.nonEmpty) written / writes.map(_.latS).sum else 0.0),
      "sources.write_latency_p50_s" -> median(writes.map(_.latS)),
      "sources.collection_files" -> files.toDouble,
      "artifact.builds_in_window" -> markers.toDouble)
  }

  private var windowStartMs = 0L
  private var windowScanRows = 0L
}
