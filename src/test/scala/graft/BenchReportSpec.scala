package graft

import graft.operators.BenchReport
import org.apache.spark.sql.functions._

/** O28: benchmark report in the reference's results_synthetic.csv shape,
  * comparing brute-force (=truth, perfect metrics) and LSH over the same
  * corpus queries. */
class BenchReportSpec extends SparkSpec {
  import spark.implicits._

  test("report reproduces the reference CSV shape with sane metrics") {
    val truth = Seq(
      (1L, Seq(1L, 10L, 11L)), (2L, Seq(2L, 20L, 21L))).toDF("query_id", "ids")
    val lsh = Seq(
      (1L, Seq(1L, 10L, 99L)), (2L, Seq(2L, 98L, 97L))).toDF("query_id", "ids")
    val runs = Seq(
      BenchReport.MethodRun("Brute-force", truth, latencySec = 0.026, nQueries = 2),
      BenchReport.MethodRun("LSH", lsh, latencySec = 0.012, nQueries = 2))
    val df = BenchReport.report(spark, runs, truth, k = 3)
    assert(df.columns.toSeq == Seq("method", "recall_at_k", "precision_at_k",
      "mrr", "latency_ms", "throughput_qps"))
    val rows = df.collect().map(r => r.getString(0) ->
      (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(rows("Brute-force") == ((1.0, 1.0, 1.0)))
    // LSH: q1 hits {1,10} of 3, q2 hits {2} -> recall (2+1)/6 = 0.5
    assert(rows("LSH")._1 == 0.5)
    assert(rows("LSH")._3 == 1.0) // top-1 correct both queries -> MRR 1.0

    val dir = tempDir("graft-report")
    BenchReport.writeCsv(df, dir)
    val back = spark.read.option("header", "true").csv(dir)
    assert(back.count() == 2)
  }

  test("certifiedMedian: clean batch certifies in one pass") {
    var calls = 0
    val script = Seq(1.0, 1.2, 1.1)
    val (med, all, degraded) = Bench.certifiedMedian(3) { () =>
      calls += 1; script(calls - 1)
    }
    assert(!degraded)
    assert(calls == 3)          // no retry batches taken
    assert(all == script)
    assert(med == 1.1)          // median of the clean batch
  }

  test("certifiedMedian: noisy batch is refused, clean retry certifies") {
    // batch 1 spreads 8x (contention signature); batch 2 is clean —
    // the certified median must come from the CLEAN batch only, and the
    // drain hook must run exactly once (between the two batches)
    val script = Iterator(1.0, 8.0, 1.1, /* retry: */ 2.0, 2.2, 2.1)
    var drains = 0
    val (med, all, degraded) =
      Bench.certifiedMedian(3, betweenBatches = () => drains += 1)(() => script.next())
    assert(!degraded)
    assert(drains == 1)
    assert(all.size == 6)       // every sample recorded, noisy batch included
    assert(med == 2.1)
  }

  test("certifiedMedian: a clean retry batch in a SLOW regime is still degraded") {
    // batch 1 spreads 8x (refused); batch 2 is internally clean but
    // uniformly ~10x the fastest observed sample — the box slid into
    // steady contention between batches. Certifying 10.0 would ship the
    // exact poisoned median the harness exists to refuse: the
    // cross-batch check flags it and falls back to the all-sample median
    val script = Iterator(1.0, 8.0, 1.1, /* retry: */ 9.8, 10.0, 10.1)
    val (med, all, degraded) = Bench.certifiedMedian(3)(() => script.next())
    assert(degraded)
    assert(all.size == 6)
    assert(med == 9.8) // all-sample median, not the slow batch's 10.0
  }

  test("certifiedMedian: a spurious FAST outlier in a refused batch cannot block certification") {
    // batch 1 spreads 4.3x on one anomalously fast sample (JIT/warm-path
    // artifact) and is refused; the retry batch is genuinely clean at
    // the plan's true speed. Judging the cross-batch check against the
    // raw all-sample MIN would mark every honest retry degraded forever;
    // per-batch medians (1.2 vs 1.25) certify it
    val script = Iterator(0.3, 1.2, 1.3, /* retry: */ 1.2, 1.25, 1.3)
    val (med, all, degraded) = Bench.certifiedMedian(3)(() => script.next())
    assert(!degraded)
    assert(all.size == 6)
    assert(med == 1.25) // the clean retry batch's median
  }

  test("certifiedMedian: persistent noise marks the probe degraded") {
    // every batch spreads > 3x: after maxRetries the probe is DEGRADED
    // (the artifact must self-describe, not certify a poisoned median)
    // and the reported median is over all samples — the most robust
    // basis available
    val script = Iterator(1.0, 9.0, 1.1, 1.0, 9.5, 1.2, 1.1, 8.8, 1.0)
    val (med, all, degraded) = Bench.certifiedMedian(3)(() => script.next())
    assert(degraded)
    assert(all.size == 9)       // 1 initial + 2 retry batches, all recorded
    assert(med == 1.1)          // median of all 9 samples
  }

  // Regression-guard behavior (round 12): BENCH_r11 flagged two phantom
  // >=3x regressions on single-sample/contended rows, and the same-round
  // artifact merge order was nondeterministic across machines. These pin
  // the fixes without touching the repo's real artifacts (fixture dir).
  test("ratiosVsPrev: only trusted (multi-sample) keys can raise the >=3x flag") {
    val dir = tempDir("graft-ratios")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/BENCH_r11.json"),
      """{"queries":{"x_build_sec":10.0,"x_probe_sec":0.004,"catalog_total_sec":50.0}}""")
    val cur = Map("x_build_sec" -> 40.0, "x_probe_sec" -> 0.02, "catalog_total_sec" -> 51.0)
    // untrusted build row regressed 4x, trusted probe regressed 5x:
    // only the probe may flag; the ratios map still records both
    val (ratios, flags, prev) =
      Bench.ratiosVsPrev(cur, Some(Set("x_probe_sec", "catalog_total_sec")), dir)
    assert(prev == "BENCH_r11.json")
    assert(math.abs(ratios("x_build_sec") - 4.0) < 1e-9)
    assert(flags == Seq("x_probe_sec"), flags.toString)
    // no trusted set supplied (legacy callers): every >=3x key flags
    val (_, flagsAll, _) = Bench.ratiosVsPrev(cur, None, dir)
    assert(flagsAll == Seq("x_build_sec", "x_probe_sec"), flagsAll.toString)
  }

  test("ratiosVsPrev: same-round artifacts merge in stable name order, driver last") {
    val dir = tempDir("graft-ratios2")
    def put(name: String, json: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/$name"), json)
    // two detail twins disagree on a shared key; the driver artifact
    // carries the headline key. Merge must be name-ordered details first
    // (run2 wins over run1 on x_shared_sec), then the driver artifact
    // overriding the headline key — regardless of listFiles() order.
    put("BENCH_LOCAL_r11_run2.json", """{"queries":{"x_shared_sec":2.0}}""")
    put("BENCH_LOCAL_r11.json", """{"queries":{"x_shared_sec":1.0,"x_detail_sec":4.0}}""")
    put("BENCH_r11.json", """{"queries":{"x_head_sec":8.0}}""")
    put("BENCH_r10.json", """{"queries":{"x_head_sec":99.0}}""") // older round ignored
    val cur = Map("x_shared_sec" -> 2.0, "x_detail_sec" -> 4.0, "x_head_sec" -> 8.0)
    val (ratios, _, prev) = Bench.ratiosVsPrev(cur, None, dir)
    assert(prev == "BENCH_LOCAL_r11.json+BENCH_LOCAL_r11_run2.json+BENCH_r11.json")
    assert(math.abs(ratios("x_shared_sec") - 1.0) < 1e-9) // vs run2's 2.0, not run1's 1.0
    assert(math.abs(ratios("x_detail_sec") - 1.0) < 1e-9)
    assert(math.abs(ratios("x_head_sec") - 1.0) < 1e-9)
  }

  // Artifact self-checks (round 11): rounds 9/10 each lost one hard
  // driver signal to silent emit-time failures (empty CORRECTNESS,
  // parsed:null BENCH) — these pin that the emitters' post-write checks
  // actually trip on each observed failure class.
  test("selfcheck: a valid compact line + detail file passes") {
    val short = """{"metric":"total","value":1.0,"queries":{"x_a_sec":0.5},"degraded":false}"""
    val detail = """{"queries":{"x_a_sec":0.5,"x_b_sec":1.25},"samples":{"x_a_sec":[0.5,0.6]}}"""
    assert(ArtifactSelfCheck.checkBench(short, detail, expectedProbeKeys = 2).isEmpty)
  }

  test("selfcheck: truncated JSON (the r10 tail-overflow class) trips") {
    val truncated = """{"metric":"total","queries":{"x_a_sec":0.5,"x_b"""
    val err = ArtifactSelfCheck.checkBench(truncated, "{}", 0)
    assert(err.isDefined && err.get.contains("not valid JSON"), err.toString)
  }

  test("selfcheck: an over-budget compact line trips BEFORE it can overflow the driver tail") {
    val fat = "{\"queries\":{" +
      (1 to 60).map(i => s""""x_probe_longish_name_number_$i":1.234567""").mkString(",") +
      "}}"
    assert(fat.length > ArtifactSelfCheck.ShortLineMaxBytes)
    val err = ArtifactSelfCheck.checkBench(fat, "{}", 0)
    assert(err.isDefined && err.get.contains("overflow"), err.toString)
  }

  test("selfcheck: a probe-less detail file trips (the probes-vanished class)") {
    val err = ArtifactSelfCheck.checkBench("""{"ok":true}""",
      """{"queries":{"q1_agg":0.2}}""", expectedProbeKeys = 3)
    assert(err.isDefined && err.get.contains("probe keys"), err.toString)
  }

  test("selfcheck: jsonError accepts every JSON shape the emitters produce") {
    assert(ArtifactSelfCheck.jsonError("""{"a":[1,2.5,-3e-2],"b":"x\n\"yA","c":null,"d":[],"e":{}}""").isEmpty)
    assert(ArtifactSelfCheck.jsonError("""{"a":1}garbage""").isDefined)
    assert(ArtifactSelfCheck.jsonError("""{"a":}""").isDefined)
    assert(ArtifactSelfCheck.jsonError("""{"a":1,}""").isDefined)
    assert(ArtifactSelfCheck.jsonError("{\"a\":\"\ttab\"}").isDefined) // raw control char
  }

  test("selfcheck: verify emitter check trips on a missing oracle and a missing parquet") {
    val dir = tempDir("graft-selfcheck")
    new java.io.File(s"$dir/g1").mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/g1/_SUCCESS"), "")
    val oracle = """{"g1": "SELECT 1"}"""
    assert(ArtifactSelfCheck.checkVerify(dir, oracle, Set("g1"), Set("g1")).isEmpty)
    // oracle entry missing for g2
    val e1 = ArtifactSelfCheck.checkVerify(dir, oracle, Set("g1"), Set("g1", "g2"))
    assert(e1.isDefined && e1.get.contains("g2"), e1.toString)
    // parquet _SUCCESS missing for g2
    val e2 = ArtifactSelfCheck.checkVerify(dir, """{"g1":"SELECT 1","g2":"SELECT 2"}""",
      Set("g1", "g2"), Set("g1", "g2"))
    assert(e2.isDefined && e2.get.contains("no committed parquet"), e2.toString)
    // unparseable oracle json
    val e3 = ArtifactSelfCheck.checkVerify(dir, """{"g1": "SELECT""", Set("g1"), Set("g1"))
    assert(e3.isDefined && e3.get.contains("not valid JSON"), e3.toString)
  }

  test("ANN method family report: exact truth vs ivf vs pq vs ivfpq") {
    val embs = spark.read.parquet(s"$testDataDir/embeddings.parquet").cache()
    val eng = graft.api.VectorEngine.build(embs).warmUp()
    val queries = embs.filter(col("vec_id") < 10)
    def asPred(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("query_id")
      .agg(transform(array_sort(collect_list(struct(col("rank"), col("id")))),
        x => x.getField("id")).as("ids"))
    def timedRun(name: String, mode: String): BenchReport.MethodRun = {
      val t0 = System.nanoTime()
      val res = eng.topK(queries, k = 5, mode = mode)
      res.count()
      BenchReport.MethodRun(name, asPred(res), (System.nanoTime() - t0) / 1e9, 10)
    }
    val truthRun = timedRun("exact", "exact")
    val runs = Seq(truthRun, timedRun("ivf", "ivf"),
      timedRun("pq", "pq"), timedRun("ivfpq", "ivfpq"))
    val rep = BenchReport.report(spark, runs, truthRun.pred, k = 5)
    val rows = rep.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows("exact") == 1.0)                 // truth against itself
    assert(rows.keySet == Set("exact", "ivf", "pq", "ivfpq"))
    // pruned/compressed methods trade recall, but must beat random (~1%)
    assert(rows("ivf") > 0.2 && rows("pq") > 0.2 && rows("ivfpq") > 0.1,
      rows.toString)
  }
}
