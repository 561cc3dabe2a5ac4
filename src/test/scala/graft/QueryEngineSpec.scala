package graft

import graft.api.QueryEngine
import graft.sources.SyntheticCorpus
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** QueryEngine facade: build/query/pad/save/load round-trip; synthetic
  * corpus generator determinism. */
class QueryEngineSpec extends SparkSpec {

  test("build + query: self-match first, k-padding with -1 sentinel") {
    val docs = spark.read.parquet(s"$testDataDir/documents.parquet")
    val eng = QueryEngine.build(docs,
      mp = graft.core.MinHashPipeline.Params(kShingle = 3)).warmUp()
    val qSig = eng.sigs.filter(col("doc_id") === 3).head().getSeq[Long](1).toArray
    val res = eng.query(qSig, k = 10)
    assert(res.length == 10)
    assert(res.head.id == 3 && res.head.score == 1.0)
    assert(res.head.vectorPreview.length == 10)
    // unique text -> few/no neighbors: padding fills with -1/0.0
    assert(res.count(_.id == -1L) >= 0) // shape contract
    val json = eng.queryJson(qSig, k = 3)
    assert(json.startsWith("""{"candidates":[{"id":3,"score":1.0"""))
  }

  test("driver-evaluated bucket keys equal the LocalRelation projection's") {
    val docs = spark.read.parquet(s"$testDataDir/documents.parquet")
    val eng = QueryEngine.build(docs,
      mp = graft.core.MinHashPipeline.Params(kShingle = 3))
    val qSig = eng.sigs.filter(col("doc_id") === 5).head().getSeq[Long](1).toArray
    val viaDf = graft.core.Lsh.queryPostings(spark, qSig, eng.params)
      .select("band", "key64", "key64b").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val local = graft.core.Lsh.queryKeysLocal(qSig, eng.params).sortBy(_._1).toSeq
    assert(local == viaDf)
    eng.close()
  }

  test("warmed replica probe equals the un-warmed engine's probe-cache probe") {
    val docs = spark.read.parquet(s"$testDataDir/documents.parquet")
    // un-warmed engine: capped probes go through the LRU probe cache
    // (LshKernelSpec pins both tiers to the Catalyst plan itself)
    val cold = QueryEngine.build(docs,
      mp = graft.core.MinHashPipeline.Params(kShingle = 3))
    // warmed engine over the same corpus: capped probes run on the
    // driver replica with zero Spark jobs
    val warm = QueryEngine.build(docs,
      mp = graft.core.MinHashPipeline.Params(kShingle = 3)).warmUp()
    for (qid <- Seq(0L, 7L, 42L)) {
      val qSig = cold.sigs.filter(col("doc_id") === qid).head().getSeq[Long](1).toArray
      assert(warm.query(qSig, 5) == cold.query(qSig, 5), s"qid=$qid")
      // tight caps exercise a truncated band prefix through both paths
      assert(warm.query(qSig, 5, maxCandidates = 3) ==
        cold.query(qSig, 5, maxCandidates = 3), s"qid=$qid capped")
    }
    cold.close(); warm.close()
  }

  test("probe-cache capped probe is bit-identical to the distributed plan") {
    val docs = spark.read.parquet(s"$testDataDir/documents.parquet")
    // un-warmed engine: no full driver replica, so capped single probes
    // route through the LRU probe cache (cold fetch, then in-process)
    val eng = QueryEngine.build(docs,
      mp = graft.core.MinHashPipeline.Params(kShingle = 3))
    for (qid <- Seq(0L, 7L, 42L)) {
      val qSig = eng.sigs.filter(col("doc_id") === qid).head().getSeq[Long](1).toArray
      val dist = graft.core.Lsh.querySignature(
        eng.sigs, eng.index, qSig, 5, eng.params, maxCandidates = 2000)
        .collect()
        .map(r => QueryEngine.Candidate(r.getLong(0), r.getDouble(1), r.getSeq[Long](2)))
        .toSeq
      val cold = eng.query(qSig, 5) // populates the cache
      val hot = eng.query(qSig, 5)  // fully resident — zero Spark jobs
      val expected = (if (dist.isEmpty) Seq(QueryEngine.Candidate(-1L, 0.0, Nil)) else dist)
        .padTo(5, QueryEngine.Candidate(-1L, 0.0, Nil)).take(5)
      assert(cold == expected, s"qid=$qid cold")
      assert(hot == expected, s"qid=$qid hot")
      // a tight cap exercises a truncated band prefix through the cache
      val distCapped = graft.core.Lsh.querySignature(
        eng.sigs, eng.index, qSig, 5, eng.params, maxCandidates = 3)
        .collect()
        .map(r => QueryEngine.Candidate(r.getLong(0), r.getDouble(1), r.getSeq[Long](2)))
        .toSeq
      val expCapped = (if (distCapped.isEmpty) Seq(QueryEngine.Candidate(-1L, 0.0, Nil)) else distCapped)
        .padTo(5, QueryEngine.Candidate(-1L, 0.0, Nil)).take(5)
      assert(eng.query(qSig, 5, maxCandidates = 3) == expCapped, s"qid=$qid capped")
    }
    eng.close()
  }

  test("resident-hot probe runs ZERO Spark jobs even with the driver stats map refused") {
    // round 12 (ADVICE): the band-prefix trim used to run BEFORE the
    // residency snapshot, so when driver stats were unavailable (the 16M+
    // serving configuration) every probe — including fully resident hot
    // ones — paid the bucketSizes filter+collect job, silently turning
    // the zero-job hot tier into job-floor latency. Residency now comes
    // first; the trim (and its stats lookup) only runs for probes that
    // actually miss. An un-warmed engine reproduces the refused-stats
    // state exactly (driverStats is None until warmUp collects it).
    val docs = spark.read.parquet(s"$testDataDir/documents.parquet")
    val eng = QueryEngine.build(docs,
      mp = graft.core.MinHashPipeline.Params(kShingle = 3))
    val qSig = eng.sigs.filter(col("doc_id") === 413L).head().getSeq[Long](1).toArray
    val cold = eng.query(qSig, 5) // populates bucket + signature caches
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val hot = eng.query(qSig, 5)
      assert(hot == cold)
      // the listener bus delivers asynchronously; any job the probe ran
      // was submitted (and waited on) synchronously, so a bounded drain
      // is enough for its start event to reach the listener
      Thread.sleep(1000)
      assert(jobs.get() == 0, s"hot probe fired ${jobs.get()} Spark job(s); expected 0")
    } finally spark.sparkContext.removeSparkListener(listener)
    eng.close()
  }

  test("prefix-trimmed probe-cache fetch + bucketed cold serving stay bit-identical") {
    // round 11: with the driver stats map warm, a probe-cache miss fetches
    // ONLY the cap's band prefix (the fold never consumes more), and with
    // serveFromBucketed wired the fetch runs against the saved bucketed
    // postings table (pruned I/O — the 100 TB cold tier). Both trims must
    // leave every probe bit-identical to the distributed capped plan.
    val docs = spark.read.parquet(s"$testDataDir/documents.parquet")
    val eng = QueryEngine.build(docs,
      mp = graft.core.MinHashPipeline.Params(kShingle = 3))
    // stats warm (trim engages), replica NOT warm (probes stay on the
    // probe-cache path instead of the full driver index)
    assert(graft.core.Lsh.warmDriverStats(eng.index))
    eng.saveBucketed("qeng_spec_bucketed_serving", buckets = 8)
    eng.serveFromBucketed("qeng_spec_bucketed_serving")
    // cap sweep hits every prefix edge: 1 (first band alone overshoots),
    // 3/17 (mid-prefix truncation), 2000 (reference default), 100000
    // (cap never binds — all 32 bands fetched); 413 has near-dups, so
    // real multi-candidate buckets are in play, not just self-hits
    for (qid <- Seq(0L, 7L, 42L, 413L); cap <- Seq(1, 3, 17, 2000, 100000)) {
      val qSig = eng.sigs.filter(col("doc_id") === qid).head().getSeq[Long](1).toArray
      val dist = graft.core.Lsh.querySignature(
        eng.sigs, eng.index, qSig, 5, eng.params, maxCandidates = cap)
        .collect()
        .map(r => QueryEngine.Candidate(r.getLong(0), r.getDouble(1), r.getSeq[Long](2)))
        .toSeq
      val expected = (if (dist.isEmpty) Seq(QueryEngine.Candidate(-1L, 0.0, Nil)) else dist)
        .padTo(5, QueryEngine.Candidate(-1L, 0.0, Nil)).take(5)
      assert(eng.query(qSig, 5, maxCandidates = cap) == expected, s"qid=$qid cap=$cap cold")
      assert(eng.query(qSig, 5, maxCandidates = cap) == expected, s"qid=$qid cap=$cap hot")
    }
    eng.close()
    spark.sql("DROP TABLE IF EXISTS qeng_spec_bucketed_serving")
  }

  test("lean serving: openServing re-registers external tables and probes bit-identically, hot = zero jobs") {
    // round 12 (the 16M serving-shard sketch): saveServing writes the
    // postings/sigs as bucketed EXTERNAL tables + params; a fresh
    // catalog (here: tables dropped — files survive because the tables
    // are external) re-registers them from their own files via
    // openServing. The lean engine caches nothing corpus-sized; every
    // miss-path job is bucket-pruned; hot repeats run zero Spark jobs.
    val docs = spark.read.parquet(s"$testDataDir/documents.parquet")
    val built = QueryEngine.build(docs,
      mp = graft.core.MinHashPipeline.Params(kShingle = 3))
    val dir = java.nio.file.Files.createTempDirectory("graft-lean").toString
    built.saveServing(dir, "qeng_spec_lean", buckets = 8)
    // expected answers from the distributed plan BEFORE closing
    val expect = Seq(0L, 7L, 42L, 413L).map { qid =>
      val qSig = built.sigs.filter(col("doc_id") === qid).head().getSeq[Long](1).toArray
      val dist = graft.core.Lsh.querySignature(
        built.sigs, built.index, qSig, 5, built.params, maxCandidates = 2000)
        .collect()
        .map(r => QueryEngine.Candidate(r.getLong(0), r.getDouble(1), r.getSeq[Long](2)))
        .toSeq
      (qid, qSig, (if (dist.isEmpty) Seq(QueryEngine.Candidate(-1L, 0.0, Nil)) else dist)
        .padTo(5, QueryEngine.Candidate(-1L, 0.0, Nil)).take(5))
    }
    built.close()
    // drop the catalog entries (external tables -> data files survive):
    // openServing must rebuild the bucketed metadata from the layout alone
    spark.sql("DROP TABLE IF EXISTS qeng_spec_lean_postings")
    spark.sql("DROP TABLE IF EXISTS qeng_spec_lean_sigs")
    val lean = QueryEngine.openServing(spark, dir, "qeng_spec_lean")
    expect.foreach { case (qid, qSig, exp) =>
      assert(lean.query(qSig, 5) == exp, s"qid=$qid lean cold")
    }
    // hot repeats: fully resident -> zero Spark jobs even though the
    // driver stats map was never warmed (the lean tier's contract)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      expect.foreach { case (qid, qSig, exp) =>
        assert(lean.query(qSig, 5) == exp, s"qid=$qid lean hot")
      }
      Thread.sleep(1000)
      assert(jobs.get() == 0, s"lean hot probes fired ${jobs.get()} Spark job(s); expected 0")
    } finally spark.sparkContext.removeSparkListener(listener)
    lean.close()
    spark.sql("DROP TABLE IF EXISTS qeng_spec_lean_postings")
    spark.sql("DROP TABLE IF EXISTS qeng_spec_lean_sigs")
  }

  test("concurrent cold probe-cache probes stay bit-identical (no lock across jobs)") {
    // two threads share one un-warmed engine (probes route through the
    // per-index ProbeCache): both start cold on overlapping keys, so a
    // racing double-fetch and racing eviction are both in play. The
    // monitor must never be held across the cluster fetch — and every
    // result must still equal the distributed plan's.
    val docs = spark.read.parquet(s"$testDataDir/documents.parquet")
    val eng = QueryEngine.build(docs,
      mp = graft.core.MinHashPipeline.Params(kShingle = 3))
    val qids = Seq(3L, 9L, 21L, 33L)
    val sigOf = qids.map(q =>
      q -> eng.sigs.filter(col("doc_id") === q).head().getSeq[Long](1).toArray).toMap
    val expected = qids.map { q =>
      val dist = graft.core.Lsh.querySignature(
        eng.sigs, eng.index, sigOf(q), 5, eng.params, maxCandidates = 2000)
        .collect()
        .map(r => QueryEngine.Candidate(r.getLong(0), r.getDouble(1), r.getSeq[Long](2)))
        .toSeq
      q -> (if (dist.isEmpty) Seq(QueryEngine.Candidate(-1L, 0.0, Nil)) else dist)
        .padTo(5, QueryEngine.Candidate(-1L, 0.0, Nil)).take(5)
    }.toMap
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    try {
      val gate = new CountDownLatch(1)
      val futures = (0 until 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Map[Long, Seq[QueryEngine.Candidate]]] {
          def call(): Map[Long, Seq[QueryEngine.Candidate]] = {
            gate.await()
            qids.map(q => q -> eng.query(sigOf(q), 5)).toMap
          }
        })
      }
      gate.countDown()
      futures.zipWithIndex.foreach { case (f, t) =>
        val got = f.get(120, TimeUnit.SECONDS)
        qids.foreach(q => assert(got(q) == expected(q), s"thread=$t qid=$q"))
      }
    } finally { pool.shutdownNow(); eng.close() }
  }

  test("load throws on corrupt params, defaults only when absent") {
    val docs = spark.read.parquet(s"$testDataDir/documents.parquet")
    val eng = QueryEngine.build(docs,
      mp = graft.core.MinHashPipeline.Params(kShingle = 1))
    val dir = Files.createTempDirectory("graft-idx-params").toString
    eng.save(dir)
    // corrupt the params record in place: present-but-unreadable => throw.
    // NOTE for log readers: this overwrite deliberately invalidates the
    // Hadoop LocalFS .crc sidecar, so the load below emits
    // org.apache.hadoop.fs.ChecksumException WARN/ERROR stacks into the
    // test log — that noise IS the scenario under test (a torn/corrupted
    // params write must fail loudly, never silently default), not a
    // flaky read path
    val paramsDir = new java.io.File(s"$dir/params")
    paramsDir.listFiles().filter(_.getName.endsWith(".json"))
      .foreach { f =>
        java.nio.file.Files.write(f.toPath,
          "not json at all".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    val ex = intercept[IllegalStateException](QueryEngine.load(spark, dir))
    assert(ex.getMessage.contains("params"))
    // absent record (pre-params layout) => defaults, no throw
    import scala.reflect.io.Directory
    new Directory(paramsDir).deleteRecursively()
    val loaded = QueryEngine.load(spark, dir)
    assert(loaded.mpParams == graft.core.MinHashPipeline.Params())
    loaded.close(); eng.close()
  }

  test("save/load round-trip preserves query results") {
    val docs = spark.read.parquet(s"$testDataDir/documents.parquet")
    val eng = QueryEngine.build(docs,
      mp = graft.core.MinHashPipeline.Params(kShingle = 3))
    val dir = Files.createTempDirectory("graft-idx").toString
    eng.save(dir, shards = 3)
    val eng2 = QueryEngine.load(spark, dir)
    // build params round-trip with the index (queryText/addDocuments on a
    // restored engine must sign in the saved signatures' shingle space)
    assert(eng2.mpParams == graft.core.MinHashPipeline.Params(kShingle = 3))
    assert(eng2.params == eng.params)
    val qSig = eng.sigs.filter(col("doc_id") === 7).head().getSeq[Long](1).toArray
    assert(eng2.query(qSig, 5) == eng.query(qSig, 5))
    // shard files exist (range-sharded parquet)
    assert(new java.io.File(s"$dir/signatures").listFiles().count(_.getName.endsWith(".parquet")) == 3)
  }

  test("queryText signs with build-time params and self-matches") {
    val docs = spark.read.parquet(s"$testDataDir/documents.parquet")
    val eng = QueryEngine.build(docs,
      mp = graft.core.MinHashPipeline.Params(kShingle = 3))
    val text = docs.filter(col("doc_id") === 11).head().getString(1)
    val res = eng.queryText(text, k = 5)
    assert(res.head.id == 11 && res.head.score == 1.0)
    // the driver-side kernel signature is bit-identical to the table's
    val tableSig = eng.sigs.filter(col("doc_id") === 11).head().getSeq[Long](1).toArray
    assert(QueryEngine.signText(text,
      graft.core.MinHashPipeline.Params(kShingle = 3)).toSeq == tableSig.toSeq)
  }

  test("addDocuments equals a from-scratch build over the union") {
    val docs = spark.read.parquet(s"$testDataDir/documents.parquet")
    val first = docs.filter(col("doc_id") < 400)
    val rest = docs.filter(col("doc_id") >= 400)
    val grown = QueryEngine.build(first,
      mp = graft.core.MinHashPipeline.Params(kShingle = 3)).addDocuments(rest)
    val full = QueryEngine.build(docs,
      mp = graft.core.MinHashPipeline.Params(kShingle = 3))
    val qSig = full.sigs.filter(col("doc_id") === 450).head().getSeq[Long](1).toArray
    assert(grown.query(qSig, 5) == full.query(qSig, 5))
    assert(grown.sigs.count() == full.sigs.count())
    assert(grown.index.count() == full.index.count())
  }

  test("removeDocuments equals a from-scratch build below the cap, and is SOUND at the cap") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$testDataDir/documents.parquet")
    val gone = docs.filter(col("doc_id") % 9 === 4).select("doc_id")
    val removed = QueryEngine.build(docs,
      mp = graft.core.MinHashPipeline.Params(kShingle = 3)).removeDocuments(gone)
    val rebuilt = QueryEngine.build(docs.filter(col("doc_id") % 9 =!= 4),
      mp = graft.core.MinHashPipeline.Params(kShingle = 3))
    // no bucket near the cap at this scale -> removal is EXACTLY a rebuild
    assert(removed.sigs.count() == rebuilt.sigs.count())
    assert(removed.index.count() == rebuilt.index.count())
    val qSig = rebuilt.sigs.filter(col("doc_id") === 3).head().getSeq[Long](1).toArray
    assert(removed.query(qSig, 5) == rebuilt.query(qSig, 5))
    // SOUNDNESS under a CAPPED degenerate bucket: 30 identical docs in a
    // 5-cap bucket; removing two SURVIVORS of the cap must never let a
    // probe return them (the evicted 25 stay evicted — documented
    // under-recall, but no resurrection of removed ids either)
    val degen = (0L until 30L).map(i => (i, "same text every time")).toDF("doc_id", "text")
    val capped = QueryEngine.build(degen,
      mp = graft.core.MinHashPipeline.Params(kShingle = 3),
      lp = graft.core.Lsh.Params(maxBucketSize = 5))
    val cq = capped.sigs.filter(col("doc_id") === 0).head().getSeq[Long](1).toArray
    val cRemoved = capped.removeDocuments(Seq(0L, 1L).toDF("doc_id"))
    val ids = cRemoved.query(cq, 10).map(_.id).toSet
    assert(!ids.contains(0L) && !ids.contains(1L), ids.toString)
    // survivors of the cap minus the removed two still answer
    assert((ids - -1L).nonEmpty)
  }

  test("queryMany (served batch) is bit-identical to the distributed queryBatch") {
    val docs = spark.read.parquet(s"$testDataDir/documents.parquet")
    val eng = QueryEngine.build(docs,
      mp = graft.core.MinHashPipeline.Params(kShingle = 3)).warmUp()
    // warmed engine: queryMany answers from the driver replica
    assert(graft.core.Lsh.driverIndexFor(eng.index).isDefined)
    val qs = eng.sigs.filter(col("doc_id") < 20)
      .select("doc_id", "sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toSeq
    val served = eng.queryMany(qs, k = 5, maxCandidates = 2000)
      .flatMap { case (qid, hits) =>
        hits.filter(_.id >= 0).zipWithIndex
          .map { case (c, i) => (qid, i + 1, c.id, c.score) }
      }.toSet
    val dist = eng.queryBatch(
      eng.sigs.filter(col("doc_id") < 20)
        .select(col("doc_id").as("query_id"), col("sig")),
      k = 5, maxCandidates = 2000)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(served == dist)
    eng.close()
  }

  test("synthetic corpus is deterministic and partitioning-invariant") {
    val a = SyntheticCorpus.docs(spark, 200).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = SyntheticCorpus.docs(spark, 200).repartition(7).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
    val words = a.values.flatMap(_.split(" ")).toSet
    assert(words.subsetOf((0 until 20).map(i => s"w$i").toSet))
    val lens = a.values.map(_.split(" ").length)
    assert(lens.min >= 1 && math.abs(lens.sum.toDouble / lens.size - 40.0) < 3.0)
  }
}
