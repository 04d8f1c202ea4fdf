package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // ERROR: keep stdout clean for the driver's one-line JSON parse (the
    // benign single-partition WindowExec WARN from q21's ~25-row
    // post-aggregate frame would otherwise interleave with it)
    val spark = Harness.session("ERROR")
    // Warmup (untimed): the shared prelude, then a full pass at the
    // smallest SF warms every kernel's JIT and codegen cache
    // (steady-state benchmarking); queries then run in sorted key order
    // so per-query timings are stable run-to-run.
    Harness.warm(spark, sfDir)
    val queries = SparkEntry.queries
    val keys = queries.keys.toSeq.sorted
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir) {
      operators.DocstoreOps.ensureEventDocs(spark, warmDir)
      // warm the OFFICIAL noop-write plans themselves, so no first-round
      // codegen compile lands in the min
      keys.foreach { k =>
        try Harness.noop(queries(k)(spark, warmDir)) catch { case _: Throwable => () }
      }
    }
    // min AND p50 over 5 INTERLEAVED rounds per query: steady-state
    // throughput, not GC / page-cache / co-tenant luck. Observed noise
    // spikes last seconds and hit whole windows, so back-to-back repeats
    // share the spike — full-list rounds put a query's samples minutes
    // apart. The minimum is the honest repeatable-latency estimator; the
    // median is published alongside so round-over-round deltas are not
    // hostage to one lucky/unlucky window.
    // Executor CPU-time per query (VERDICT r9 #7): task-metrics CPU sums
    // are stable under the host's co-tenant wall-clock band, so
    // round-over-round regressions stay attributable when wall swings.
    // Queries run sequentially, so a counter reset before each run and a
    // drained read after it attribute cleanly — an undrained task-end
    // tail would double-attribute to the next key, and min-of-5 would
    // then systematically pick the most-undercounted sample (review r10).
    val meter = new Harness.Meter(spark)
    var samples: collection.Map[String, List[Double]] = Map.empty
    val cpuSamples = scala.collection.mutable.LinkedHashMap[String, List[Double]]()
    def measurePass(): (String, String) = {
      cpuSamples.clear()
      keys.foreach(cpuSamples(_) = Nil)
      val lb = Harness.loadavg()
      // a failed round is VISIBLE (stderr — stdout stays the JSON line)
      samples = Harness.rounds(5, keys,
        run = k => Harness.noop(queries(k)(spark, sfDir)),
        failed = (name, r, e) => System.err.println(
          s"[bench] $name round $r FAILED: " +
            s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
              .take(300)),
        before = _ => { Harness.drain(spark); meter.reset() },
        after = name => {
          Harness.drain(spark)
          cpuSamples(name) = meter.cpuNs.get() / 1e9 :: cpuSamples(name)
        })
      (lb, Harness.loadavg())
    }
    // WINDOW GATE (VERDICT r14 #1): two rounds running, the official
    // artifact was recorded under co-tenant load that swamped every
    // per-key ratio (r13/r14 — canary 1.5×, load 3.5→9.8). The frozen
    // s01 canary (untouched codegen kernel since round 8) has a
    // committed clean-window reference (tools/bench_canary.json); when
    // the measured canary lands > max_ratio off it, or the pass STARTS
    // under load > max_load_before, the window is junk — RETRY the
    // measurement pass, and if it never clears, refuse to publish
    // (value −1.0, no BENCH_FULL.json) rather than stamp plausible
    // noise as an official number. Gate is armed only at the SF the
    // reference was recorded at; SPARK_GRAFT_BENCH_GATE=off disarms.
    case class CanaryGate(key: String, ref: Double, maxRatio: Double,
        maxLoad: Double)
    def jnum(src: String, field: String): Option[Double] =
      ("\"" + field + "\"\\s*:\\s*([0-9.eE+-]+)").r
        .findFirstMatchIn(src).map(_.group(1).toDouble)
    def jstr(src: String, field: String): Option[String] =
      ("\"" + field + "\"\\s*:\\s*\"([^\"]*)\"").r
        .findFirstMatchIn(src).map(_.group(1))
    val gate: Option[CanaryGate] =
      if (sys.env.get("SPARK_GRAFT_BENCH_GATE").contains("off")) None
      else try {
        val src = java.nio.file.Files.readString(
          java.nio.file.Paths.get("tools/bench_canary.json"))
        for {
          sfx <- jstr(src, "sf_suffix")
          if sfDir.stripSuffix("/").endsWith(sfx)
          key <- jstr(src, "key")
          ref <- jnum(src, "ref_sec")
          mr <- jnum(src, "max_ratio")
          ml <- jnum(src, "max_load_before")
        } yield CanaryGate(key, ref, mr, ml)
      } catch { case _: Throwable => None }
    def load1m(s: String): Double =
      s.split(" ").headOption.flatMap(_.toDoubleOption).getOrElse(0.0)
    var (loadBefore, loadAfter) = measurePass()
    def canaryRatio: Double = gate.map { g =>
      samples.get(g.key).flatMap(_.minOption).getOrElse(-1.0) / g.ref
    }.getOrElse(-1.0)
    var gateStatus = if (gate.isEmpty) "off" else "ok"
    val maxRetries = sys.env.get("SPARK_GRAFT_BENCH_RETRIES")
      .flatMap(_.toIntOption).getOrElse(2)
    gate.foreach { g =>
      var attempts = 0
      def tripped: Boolean =
        canaryRatio > g.maxRatio || canaryRatio <= 0 ||
          load1m(loadBefore) > g.maxLoad
      while (tripped && attempts < maxRetries) {
        attempts += 1
        System.err.println(f"[bench] window gate TRIPPED (canary " +
          f"$canaryRatio%.2fx vs ref ${g.ref}%.3fs, load_before " +
          s"$loadBefore) — retrying measurement pass $attempts/$maxRetries")
        val p = measurePass(); loadBefore = p._1; loadAfter = p._2
        gateStatus = "retried"
      }
      if (tripped) gateStatus = "FAILED"
    }
    // a key with zero successful rounds publishes -1.0 — an impossible
    // timing, unmistakably a failure flag rather than a fast min
    val results = keys.map { name =>
      name -> samples(name).minOption.getOrElse(-1.0) }
    val medians = keys.map(name => name -> Harness.p50(samples(name)))
    val cpuMins = keys.map { name =>
      name -> cpuSamples(name).minOption.getOrElse(-1.0) }
    // a fully-failed key must never IMPROVE the headline number by
    // summing its -1.0 sentinel (ADVICE r9): any failure poisons the
    // totals to -1.0 so a bad run is unmistakable at the aggregate
    val anyFailed = results.exists(_._2 < 0)
    val total =
      if (anyFailed || results.isEmpty) -1.0 else results.map(_._2).sum
    val totalP50 =
      if (anyFailed || medians.isEmpty) -1.0 else medians.map(_._2).sum
    val totalCpu =
      if (anyFailed || cpuMins.isEmpty) -1.0 else cpuMins.map(_._2).sum
    // Host-load stamp (VERDICT r10 #3/#7): a loud co-tenant window is
    // machine-detectable from the loadavg bracket and the p50/min
    // spread instead of inferred from an implausible delta.
    val spread = if (total > 0) totalP50 / total else -1.0
    // Full per-query timings → file: the driver's stdout tail capture is
    // ~2000 chars, so a 90+-query JSON line gets front-truncated and fails
    // its parse. The file holds everything; stdout gets a line that FITS.
    import Harness.qjson
    // Testdata fingerprint: ties this measurement to the exact bytes it
    // ran against. Cross-round per-query deltas are only meaningful when
    // the fingerprints match (the driver regenerates testdata between
    // rounds; a "regression" against different data is noise, not code).
    val dataFp = Tables.testdataFingerprint(sfDir)
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","rounds":5,""" +
        s""""mode":"noop","queries":${qjson(results)},"total_p50":$totalP50,""" +
        s""""queries_p50":${qjson(medians)},"total_cpu":$totalCpu,""" +
        s""""queries_cpu":${qjson(cpuMins)},""" +
        s""""loadavg_before":"$loadBefore","loadavg_after":"$loadAfter",""" +
        s""""spread_p50_min":$spread,"sf":"$sfDir",""" +
        s""""window_gate":"$gateStatus","canary_ratio":$canaryRatio,""" +
        s""""canary_ref":${gate.map(_.ref).getOrElse(-1.0)},""" +
        s""""testdata_fingerprint":"$dataFp"}"""
    // On write failure, advertise null instead of the path — otherwise a
    // consumer silently reads a STALE file from a previous run.
    // A FAILED window gate REFUSES to publish: no BENCH_FULL.json, and
    // the stdout line carries value -1.0 — an unmistakable refusal, not
    // a plausible-but-junk table (VERDICT r14 #1).
    val fullRef =
      if (gateStatus == "FAILED") {
        System.err.println("[bench] window gate FAILED after retries — " +
          "refusing to publish BENCH_FULL.json")
        "null"
      } else try {
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("BENCH_FULL.json"), fullJson + "\n")
        "\"BENCH_FULL.json\""
      } catch { case _: Throwable => "null" }
    // stdout line: total + a headline subset (one per operator family),
    // 3-decimal rounding, well under the tail window even as queries grow
    def r3(v: Double): String = f"$v%.3f"
    val headline = Seq(
      "q01_pricing_summary", "q05_multi_join", "q18_large_orders",
      "q21_cte", "q33_multi_exists", "h08_market_share", "h09_profit",
      "h13_cust_distribution", "d04_mongo_filter", "d08_docstore_scan",
      "dd02_dedup_minhash", "dd06_dedup_clusters", "s01_ann_bruteforce",
      "t07_tfidf", "m02_media_features", "p01_clean_pipeline",
      "st02_sessionize", "st06_asof_join")
    val hqs = results.filter(r => headline.contains(r._1))
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val dataFpShort = graft.Tables.shortFp(dataFp)
    val pubTotal = if (gateStatus == "FAILED") -1.0 else total
    println(s"""{"metric":"total","value":${r3(pubTotal)},"unit":"sec","mode":"noop","n_queries":${results.size},"total_p50":${r3(totalP50)},"total_cpu":${r3(totalCpu)},"load_before":"$loadBefore","load_after":"$loadAfter","window_gate":"$gateStatus","canary_ratio":${r3(canaryRatio)},"queries":$hqs,"full_per_query":$fullRef,"data_fp":"$dataFpShort","sf":"$sfDir"}""")
    spark.stop()
  }
}
