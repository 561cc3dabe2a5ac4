package graft.api

import graft.core.{Lsh, MinHashPipeline}
import graft.functions.GraftFunctions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-facing query API mirroring the reference's `/query` HTTP
  * contract (query_service.py:139-196): `query(vector, k)` returns k
  * candidates `(id, score, vector_preview)` sorted score-desc, padded with
  * id=-1 / score=0.0 when fewer than k exist (O12/O20-21; the HTTP
  * transport itself is out of capability scope — SURVEY §7.1 step 7).
  *
  * Index lifecycle (O6/O17/O22): build once from a corpus, `save` persists
  * signatures + postings as range-sharded Parquet (the engine's form of
  * `split_and_save` sharding — index_builder.py:22-36), `load` restores
  * and re-caches them; a restarted cluster rebuilds from Parquet instead
  * of recomputing (unlike the reference's memory-only worker tables).
  */
final class QueryEngine private (
    val spark: SparkSession,
    val sigs: DataFrame,      // (doc_id, sig)
    val index: DataFrame,     // (id, band, key64, key64b)
    val params: Lsh.Params,
    val mpParams: MinHashPipeline.Params,
    // releases the build-time pre-cap postings scratch (see
    // Lsh.postingsWithScratch) once the index cache is materialized;
    // idempotent, invoked by warmUp and close
    private val releaseBuildScratch: () => Unit = () => ()) {
  import QueryEngine.Candidate

  /** Warm the caches (O22 cluster warm-up: the eager `postings.count`)
    * and the driver-side state capped probes fold their band prefix
    * from. An index within the replica bounds (`Lsh.DriverStatsMaxEntries`
    * postings, `Lsh.DriverReplicaMaxDocs` referenced docs) gets the
    * serving replica (bucket table + signatures), which answers
    * single-vector probes with ZERO Spark jobs, the reference's own
    * in-memory serving shape, and whose bucket table also serves capped
    * batches. Only when the replica declines are the bucket stats
    * collected: into a driver bucket-size table when the index has at
    * most `Lsh.DriverStatsMaxEntries` buckets. */
  def warmUp(): QueryEngine = {
    sigs.count(); index.count()
    Lsh.warmDriverIndex(sigs, index) || Lsh.warmDriverStats(index)
    // the capped index is materialized now — the pre-cap scratch has
    // served its three consumers
    releaseBuildScratch()
    this
  }

  /** Single-vector top-k probe, k-padded like the reference response.
    * `maxCandidates` defaults to the reference's cap (minhash_lsh.py:70).
    * A warmed small index answers entirely on the driver (no Spark jobs;
    * served over HTTP at ~1.5 ms p50 on a 20k-doc index, 4-core box —
    * perfbench `query` — against the reference's 6.1 ms/query); indexes
    * above the replica bounds serve capped probes through the LRU probe
    * cache (hot buckets + their signatures driver-resident; a cold probe
    * pays one bucket-fetch job, repeats are in-process). Uncapped probes
    * stay fully distributed. All paths are bit-identical (LshKernelSpec).
    * `vector` must be a `params.numPerm`-long signature. */
  def query(vector: Array[Long], k: Int = 10, maxCandidates: Int = 2000): Seq[Candidate] = {
    require(vector.length == params.numPerm,
      s"vector has ${vector.length} elements; the index signs ${params.numPerm}")
    val hits = Lsh.driverIndexFor(index) match {
      case Some(di) =>
        // bucket keys from the driver-evaluated XxHash64 expression —
        // bit-identical to the index side, no plan analysis per probe
        Lsh.queryDriverIndex(di, Lsh.queryKeysLocal(vector, params), vector,
          k, maxCandidates)
          .map { case (id, score, prev) => Candidate(id, score, prev) }
      case None if maxCandidates > 0 =>
        Lsh.queryProbeCached(sigs, index, Lsh.queryKeysLocal(vector, params),
          vector, k, maxCandidates, bucketedServing)
          .map { case (id, score, prev) => Candidate(id, score, prev) }
      case None =>
        Lsh.querySignature(sigs, index, vector, k, params, maxCandidates)
          .collect()
          .map(r => Candidate(r.getLong(0), r.getDouble(1), r.getSeq[Long](2)))
          .toSeq
    }
    // minhash_lsh.py:98-102,128-133: no candidates -> [(-1, 0.0)] then pad
    val base = if (hits.isEmpty) Seq(Candidate(-1L, 0.0, Nil)) else hits
    base.padTo(k, Candidate(-1L, 0.0, Nil)).take(k)
  }

  /** Query by raw text: shingle + sign with the engine's build-time
    * pipeline params, then probe — the end-to-end path a corpus user
    * takes (the reference's clients pre-compute vectors; the engine
    * accepts either). The signature is computed driver-side through the
    * SAME kernels the distributed pipeline runs (bit-identical), with no
    * Spark job or per-call plan analysis. */
  def queryText(text: String, k: Int = 10, maxCandidates: Int = 2000): Seq[Candidate] =
    query(QueryEngine.signText(text, mpParams), k, maxCandidates)

  /** Batch probe: top-k per query signature through ONE compiled plan —
    * `queries` is (query_id, sig); output (query_id, rank, id, score).
    * The distributed form of the reference's per-request scatter. */
  def queryBatch(queries: DataFrame, k: Int = 10, maxCandidates: Int = 2000): DataFrame =
    Lsh.queryBatch(sigs, index, queries, k, params, maxCandidates)

  /** SERVED batch: many probes answered sequentially through the tiered
    * single-probe path (driver replica → probe cache → distributed
    * fallback) — the reference's OWN benchmark shape, a host-side loop
    * over query vectors against the prebuilt in-memory index
    * (benchmark_runner.py:130-144 times exactly this, 6.148 ms/query).
    * Per probe a warmed small index runs ZERO Spark jobs, so this form
    * beats [[queryBatch]] whenever the batch is small or the index is
    * served; queryBatch's one-compiled-plan scatter wins when the batch
    * is large and the index is not driver-resident. Results are
    * bit-identical across the forms (QueryEngineSpec / o31 gate). */
  def queryMany(queries: Seq[(Long, Array[Long])], k: Int = 10,
                maxCandidates: Int = 2000): Seq[(Long, Seq[Candidate])] =
    queries.map { case (qid, v) => qid -> query(v, k, maxCandidates) }

  /** Incremental index growth: signatures + postings for `docs` are
    * unioned onto the cached tables (no full rebuild — the reference
    * rebuilds its in-memory tables from scratch), and the bucket cap is
    * re-applied across the union so the grown index is IDENTICAL to a
    * from-scratch build over all documents (keep-smallest-ids is closed
    * under union of capped sides). Returns a NEW engine. The superseded
    * engine's DRIVER-side replica/stats are evicted HERE — the
    * hundreds-of-MB driver artifacts must not depend on callers honoring
    * the close() contract — so the old engine stays queryable (its probes
    * fall back to the bit-identical distributed / probe-cache paths) but
    * serves stale data; callers growing repeatedly should still `close()`
    * it or its superseded EXECUTOR caches accumulate until LRU/context
    * cleanup. Doc ids must not collide with existing ones. At cluster
    * scale the same shape appends postings partitions to the saved
    * parquet/bucketed table instead.
    *
    * Repeated adds AUTO-COMPACT: the cap re-application references the
    * unioned index three times, so unchecked growth would TRIPLE the
    * logical plan per add (3^n nodes after n adds — analysis cost, not
    * data cost). When the grown index plan exceeds
    * [[QueryEngine.CompactThreshold]] nodes, the new engine is returned
    * compacted (amortized O(1) materializations per add, the vector-
    * doubling discipline); plan depth stays flat for any add count
    * (InvarianceSpec). */
  def addDocuments(docs: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id"): QueryEngine = {
    val newSigs = MinHashPipeline.withSignature(docs, textCol, mpParams)
      .select(col(idCol).cast("long").as("doc_id"), col("sig")).cache()
    val allSigs = sigs.unionByName(newSigs).cache()
    val allIndex = Lsh.capBuckets(
      index.unionByName(Lsh.postings(newSigs, "doc_id", "sig", params)),
      params.maxBucketSize).cache()
    // supersede-evict: drop THIS engine's driver replica/stats/probe-cache
    // now that a grown index exists — relying on the documented close()
    // contract left the old replica resident until LRU eviction (8 slots,
    // hundreds of MB worst case). Executor-side caches stay (still needed
    // to materialize the grown union cheaply).
    Lsh.evictDriverState(index)
    val grown = new QueryEngine(spark, allSigs, allIndex, params, mpParams)
    if (QueryEngine.planNodes(allIndex) > QueryEngine.CompactThreshold)
      grown.compact()
    else grown
  }

  /** Deletion — the LSH twin of [[VectorEngine.removeVectors]]: drop
    * `docIds` from the cached signature and postings tables with one
    * broadcast ANTI-join each; no re-shingling, no rebuild. SOUND by
    * construction (a removed doc's postings and signature are gone, so
    * no probe path can return it — QueryEngineSpec pins this under
    * capstress too). COMPLETENESS caveat: postings a capped bucket
    * evicted while the removed doc occupied a slot are NOT resurrected
    * — that information was dropped at build time — so a bucket that
    * sat at its cap may under-recall versus a from-scratch rebuild
    * until the next full build; below the cap (every driver-scale
    * fixture) remove ≡ rebuild exactly (the i05 gate). Returns a NEW
    * engine; the superseded engine's driver replica/stats are evicted
    * here, mirroring addDocuments. */
  def removeDocuments(docIds: DataFrame, idCol: String = "doc_id"): QueryEngine = {
    val del = broadcast(docIds.select(col(idCol).cast("long").as("del_id")))
    val rSigs = sigs.join(del, col("doc_id") === col("del_id"), "left_anti").cache()
    val rIndex = index.join(del, col("id") === col("del_id"), "left_anti").cache()
    Lsh.evictDriverState(index)
    val grown = new QueryEngine(spark, rSigs, rIndex, params, mpParams)
    if (QueryEngine.planNodes(rIndex) > QueryEngine.CompactThreshold)
      grown.compact()
    else grown
  }

  /** Release this engine's cached tables AND the driver-resident
    * replica/stats Lsh holds for its index (the grown-engine lifecycle
    * counterpart of addDocuments). The engine must not be queried after. */
  def close(): Unit = {
    Lsh.evictDriverState(index)
    releaseBuildScratch()
    // releaseFrame, not bare unpersist: a previously-compacted engine's
    // tables are checkpoint-backed, where unpersist silently no-ops
    QueryEngine.releaseFrame(sigs)
    QueryEngine.releaseFrame(index)
  }

  /** Re-materialize a repeatedly-grown engine: N addDocuments calls leave
    * sigs/index as N-deep union-of-union plans whose analysis cost grows
    * with every add; compact() truncates both to single materialized
    * tables (eager localCheckpoint — plan depth 1) and releases the
    * superseded caches. The durable equivalent is a save/load round-trip
    * (parquet-backed instead of executor-memory-backed); at cluster scale
    * with dynamic executors prefer that or a reliable checkpoint dir.
    * Returns a NEW engine; the old one must not be queried after. */
  def compact(): QueryEngine = {
    val cSigs = sigs.localCheckpoint(true)
    val cIndex = index.localCheckpoint(true)
    close()
    new QueryEngine(spark, cSigs, cIndex, params, mpParams)
  }

  /** JSON response shaped like the reference's endpoint payload. */
  def queryJson(vector: Array[Long], k: Int = 10): String =
    query(vector, k).map { c =>
      s"""{"id":${c.id},"score":${c.score},"vector_preview":[${c.vectorPreview.mkString(",")}]}"""
    }.mkString("""{"candidates":[""", ",", "]}")

  /** Persist signatures + postings as range-sharded Parquet (O6: shards in
    * id order; `shards` maps to the reference's ceil(N/shard_size)), plus
    * the build params — `load` restores them so queryText/addDocuments on
    * a restored engine sign in the same shingle space (a mismatched
    * kShingle would silently produce garbage scores). */
  def save(dir: String, shards: Int = 4): Unit = {
    sigs.repartitionByRange(shards, col("doc_id"))
      .write.mode("overwrite").parquet(s"$dir/signatures")
    index.repartitionByRange(shards, col("band"), col("key64"))
      .write.mode("overwrite").parquet(s"$dir/postings")
    import spark.implicits._
    Seq((params.bands, params.numPerm, params.maxBucketSize,
      mpParams.kShingle, mpParams.byWord))
      .toDF("bands", "num_perm", "max_bucket_size", "k_shingle", "by_word")
      .coalesce(1).write.mode("overwrite").json(s"$dir/params")
  }

  /** Persist the postings index as a BUCKETED table on the join key:
    * two bucketed indexes (or index vs bucketed probe side) then join
    * without either side shuffling — the 100 TB co-location strategy for
    * repeated similarity joins. Requires a warehouse-backed catalog table
    * (Spark bucketing metadata lives in the catalog, not the files).
    *
    * The pre-write repartition is ON the bucket spec (hash partitioning
    * and bucket-id assignment share the same Murmur3-mod function), so
    * every bucket's rows land in ONE writer task -> ONE file per bucket
    * instead of one per (task x bucket) — without it a 32-partition
    * index writes up to 32x64 small files whose per-probe footer/open
    * overhead dominates serving latency (measured 4-5x the cached-index
    * probe). Within-file sortBy(key64) keeps row-group min/max skipping
    * effective under the probe's pushed key range. A pathologically hot
    * bucket lands in one file, but the bucket cap (Lsh.capBuckets)
    * already bounds bucket cardinality upstream. */
  def saveBucketed(table: String, buckets: Int = 64): Unit = {
    index.repartition(buckets, col("key64"))
      .write.mode("overwrite")
      .bucketBy(buckets, "key64")
      .sortBy("key64", "band")
      .saveAsTable(table)
  }

  // cold-tier fetch source for single-vector probes above the driver
  // replica bound: when wired, a probe-cache MISS fetches its buckets
  // from the saved key64-bucketed postings table (bucket pruning +
  // sorted row-group skipping bound the I/O to the probe's own buckets)
  // instead of scanning the whole cached index
  @volatile private var bucketedServing: Option[DataFrame] = None

  /** Serve cold single-probe bucket fetches from `table` (a postings
    * table previously written by [[saveBucketed]]). Results are
    * bit-identical to the cached-index fetch — the table holds the same
    * capped postings — but a miss reads only the probe's buckets, the
    * shape that holds when the index is 100 TB on disk and the cached
    * whole-index scan is not an option. Returns this engine. */
  def serveFromBucketed(table: String): QueryEngine = {
    bucketedServing = Some(spark.table(table))
    this
  }

  /** Persist the complete LEAN SERVING layout (round 12, the 16M+
    * serving-shard answer): postings bucketed by key64 (as
    * [[saveBucketed]]), signatures bucketed by doc_id (so a probe's
    * cold signature fetch is bucket-pruned too), and the build params —
    * all as EXTERNAL tables under `dir`, so the table data outlives any
    * one session/catalog and [[QueryEngine.openServing]] can re-register
    * it from a fresh JVM. A serving process opened this way holds NO
    * corpus-sized cache: its heap is bounded by the LRU probe/signature
    * caches, which is what keeps 16M-doc hot-single serving off the
    * 96 GiB-heap GC regime the cached-index configuration measured. */
  def saveServing(dir: String, prefix: String, buckets: Int = 64): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${prefix}_postings")
    spark.sql(s"DROP TABLE IF EXISTS ${prefix}_sigs")
    index.repartition(buckets, col("key64"))
      .write.mode("overwrite")
      .option("path", s"$dir/postings")
      .bucketBy(buckets, "key64")
      .sortBy("key64", "band")
      .saveAsTable(s"${prefix}_postings")
    sigs.repartition(buckets, col("doc_id"))
      .write.mode("overwrite")
      .option("path", s"$dir/sigs")
      .bucketBy(buckets, "doc_id")
      .sortBy("doc_id")
      .saveAsTable(s"${prefix}_sigs")
    import spark.implicits._
    Seq((params.bands, params.numPerm, params.maxBucketSize,
      mpParams.kShingle, mpParams.byWord, buckets))
      .toDF("bands", "num_perm", "max_bucket_size", "k_shingle", "by_word", "buckets")
      .coalesce(1).write.mode("overwrite").json(s"$dir/params")
  }
}

object QueryEngine {
  case class Candidate(id: Long, score: Double, vectorPreview: Seq[Long])

  /** Analyzed-plan node budget before the add/remove paths auto-compact.
    *
    * Sized by the RENDERING bound, not the analysis bound (round 9): a
    * chain of lazily-cached union/anti-join rounds renders its
    * post-execution AQE plan string at ~4× PER ROUND (measured 50 KB →
    * 15 MB over rounds 1-5; each InMemoryRelation re-prints its cached
    * subtree), and Spark emits that string on every SQL event with an
    * effectively unbounded default `spark.sql.maxPlanStringLength` — at
    * the old threshold of 256 the vector chain compacted only around
    * round 11, by which point the string alone is gigabytes and kills a
    * 6-24 GB driver (found by the interleaved add/remove invariance
    * test). At 96, chains flatten every ~4-5 rounds and the peak render
    * stays in the low MB. Compaction is O(corpus) either way; the
    * vector-doubling amortization argument is unchanged, just with a
    * ~2.5× smaller constant between materializations. */
  final val CompactThreshold = 96

  /** Analyzed-plan node count — the growth metric both engines' add
    * paths compare against [[CompactThreshold]] (shared so the two
    * growth disciplines cannot silently diverge). */
  private[graft] def planNodes(df: DataFrame): Int =
    df.queryExecution.analyzed.collect { case _ => 1 }.sum

  /** Release a superseded corpus-sized frame whatever backs it:
    * `Dataset.unpersist` frees cache-manager entries but silently
    * NO-OPS on an eager-localCheckpoint frame (its blocks are RDD-level
    * — the plan is a LogicalRDD), so a compacted engine's generations
    * would otherwise park full-corpus checkpoint copies in executor
    * storage until nondeterministic driver GC (round-9 review finding;
    * the Bpe trainer grew the same helper first). Both engines'
    * close()/compact() route through this. */
  private[graft] def releaseFrame(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false); ()
      case _ => ()
    }
  }

  /** Driver-side signature of one text through the SAME kernels the
    * distributed pipeline runs (Shingling null guard included) — no Spark
    * job, no per-call plan analysis, bit-identical to the table's sigs. */
  def signText(text: String, mp: MinHashPipeline.Params): Array[Long] = {
    import graft.core.Kernels
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val shingles =
      if (text == null) new GenericArrayData(Array.empty[Any])
      else if (mp.byWord) Kernels.wordShingles(UTF8String.fromString(text), mp.kShingle)
      else Kernels.charShingles(UTF8String.fromString(text), mp.kShingle)
    Kernels.minhashSignatureRef(Kernels.shingleHashes(shingles)).toLongArray()
  }

  /** Offline index build (SURVEY §3.2): corpus -> signatures -> postings,
    * both cached. */
  def build(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
            mp: MinHashPipeline.Params = MinHashPipeline.Params(),
            lp: Lsh.Params = Lsh.Params()): QueryEngine = {
    val sigs = MinHashPipeline.withSignature(docs, textCol, mp)
      .select(col(idCol).cast("long").as("doc_id"), col("sig")).cache()
    val (postings, release) = Lsh.postingsWithScratch(sigs, "doc_id", "sig", lp)
    val index = postings.cache()
    new QueryEngine(docs.sparkSession, sigs, index, lp, mp, release)
  }

  /** Serve directly from the reference's own `data/` output directory
    * ([[graft.sources.ReferenceDir]]): `sigs.npy` becomes the signature
    * table (the reference's POSITIONAL row ids are the id space —
    * benchmark_runner.py:175), `minhash_meta.pkl` restores the shingle
    * space so `queryText`/`addDocuments` sign new text consistently, and
    * the LSH build params default to the reference service's hardcoded
    * startup settings (BANDS=32, MAX_BUCKET=5000 —
    * query_service.py:112-114). A user holding the reference's actual
    * artifacts serves `/query` from them with no conversion step. */
  def fromReferenceDir(spark: SparkSession, dir: String,
                       lp: Lsh.Params = Lsh.Params()): QueryEngine = {
    val loaded = graft.sources.ReferenceDir.load(spark, dir)
    val sigs = loaded.sigs
      .select(col("row_idx").as("doc_id"), col("sig")).cache()
    val mp = MinHashPipeline.Params(
      kShingle = loaded.meta.get("k_shingle")
        .map(_.asInstanceOf[Long].toInt).getOrElse(1),
      byWord = loaded.meta.get("by_word")
        .forall(_.asInstanceOf[Boolean]))
    val fullLp = loaded.meta.get("num_perm")
      .map(p => lp.copy(numPerm = p.asInstanceOf[Long].toInt)).getOrElse(lp)
    val (postings, release) = Lsh.postingsWithScratch(sigs, "doc_id", "sig", fullLp)
    new QueryEngine(spark, sigs, postings.cache(), fullLp, mp, release)
  }

  /** Open a LEAN SERVING engine over a [[QueryEngine.saveServing]]
    * layout — the 16M+ serving-shard configuration. The returned engine
    * caches NOTHING corpus-sized: `sigs`/`index` point at the bucketed
    * EXTERNAL tables (re-registered into this session's catalog from
    * the layout's own files when absent — a fresh JVM serves with no
    * rebuild), and single probes route through the LRU probe cache with
    * every miss-path job bucket-pruned: the bucket fetch, the
    * band-prefix sizes lookup, and the signature fetch. Hot repeats run
    * zero Spark jobs. Heap is bounded by the probe/signature caches
    * (~hundreds of MB), not the corpus — the configuration that keeps
    * 16M-doc hot singles out of the corpus-heap GC regime. Batch/
    * uncapped probes on a lean engine still work (distributed plans over
    * the disk tables) but pay scan cost; the cached-index engine remains
    * the batch tier. */
  def openServing(spark: SparkSession, dir: String, prefix: String): QueryEngine = {
    val r = spark.read.json(s"$dir/params").head()
    val lp = Lsh.Params(
      bands = r.getAs[Long]("bands").toInt,
      numPerm = r.getAs[Long]("num_perm").toInt,
      maxBucketSize = r.getAs[Long]("max_bucket_size").toInt)
    val mp = MinHashPipeline.Params(
      kShingle = r.getAs[Long]("k_shingle").toInt,
      byWord = r.getAs[Boolean]("by_word"))
    val buckets = r.getAs[Long]("buckets").toInt
    // re-register the external tables when this session's catalog lacks
    // them (fresh JVM): schema from the parquet footers, bucket spec from
    // the params record — the files already carry bucket-id names, so the
    // DDL only restores metadata
    def ensure(table: String, path: String, bucketCol: String, sortCols: String): Unit =
      if (!spark.catalog.tableExists(table)) {
        val schema = spark.read.parquet(path).schema.toDDL
        spark.sql(
          s"""CREATE TABLE $table ($schema) USING parquet
             |CLUSTERED BY ($bucketCol) SORTED BY ($sortCols) INTO $buckets BUCKETS
             |LOCATION '$path'""".stripMargin)
      }
    ensure(s"${prefix}_postings", s"$dir/postings", "key64", "key64, band")
    ensure(s"${prefix}_sigs", s"$dir/sigs", "doc_id", "doc_id")
    val eng = new QueryEngine(spark,
      spark.table(s"${prefix}_sigs"), spark.table(s"${prefix}_postings"), lp, mp)
    eng.serveFromBucketed(s"${prefix}_postings")
  }

  /** Restore a saved index (restart-safe, unlike the reference's
    * memory-only worker state). Build params are read back from the
    * save-time `params` record so text signing and incremental growth
    * stay in the saved signatures' shingle space. Only an index saved
    * WITHOUT a params record (pre-params layout) falls back to defaults;
    * a present-but-unreadable record throws — silently defaulting there
    * would hand queryText/addDocuments a mismatched shingle space, the
    * exact garbage-scores failure the record exists to prevent. */
  def load(spark: SparkSession, dir: String): QueryEngine = {
    val sigs = spark.read.parquet(s"$dir/signatures").cache()
    val index = spark.read.parquet(s"$dir/postings").cache()
    val paramsPath = new org.apache.hadoop.fs.Path(s"$dir/params")
    val fs = paramsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (lp, mp) =
      if (!fs.exists(paramsPath)) (Lsh.Params(), MinHashPipeline.Params())
      else {
        val r =
          try spark.read.json(s"$dir/params").head()
          catch {
            case e: Exception => throw new IllegalStateException(
              s"unreadable index params at $dir/params — refusing to " +
                "default (a mismatched shingle space silently corrupts " +
                "scores); delete the params dir to force defaults", e)
          }
        try (Lsh.Params(
          bands = r.getAs[Long]("bands").toInt,
          numPerm = r.getAs[Long]("num_perm").toInt,
          maxBucketSize = r.getAs[Long]("max_bucket_size").toInt),
          MinHashPipeline.Params(
            kShingle = r.getAs[Long]("k_shingle").toInt,
            byWord = r.getAs[Boolean]("by_word")))
        catch {
          case e: Exception => throw new IllegalStateException(
            s"corrupt index params record at $dir/params — refusing to " +
              "default (a mismatched shingle space silently corrupts " +
              "scores); delete the params dir to force defaults", e)
        }
      }
    new QueryEngine(spark, sigs, index, lp, mp)
  }
}
