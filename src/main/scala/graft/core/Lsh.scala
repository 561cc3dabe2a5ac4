package graft.core

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** MinHash-LSH banding index as a postings DataFrame, and the candidate
  * generation / scoring / top-k query path on top of it
  * (reference: app/src/minhash_lsh.py — O8-O12 in SURVEY §2).
  *
  * Scale notes (100 TB design):
  *  - the "index" is a DataFrame `(id, band, key64, key64b)`; persisted as
  *    Parquet (optionally bucketed by key64) it is rebuilt-free across jobs,
  *    and cached it serves repeated queries — replacing the reference's
  *    per-worker in-memory hash tables (worker_tasks.py:79-117);
  *  - the bucket identity is carried by TWO independent 64-bit hashes of
  *    (band, band-slice) rather than the raw 4-long slice: every shuffle,
  *    window and join key stays fixed-width (no array comparisons in the
  *    hot path). A single 64-bit key would birthday-collide at ~10^12
  *    buckets (100 TB scale); the joint 96+ bits make a false bucket merge
  *    ~2^-60 probable, and a merge can only add candidates that scoring
  *    then ranks out — the same tolerance the reference's byte-key tables
  *    already accept;
  *  - single-vector probes broadcast the 32-row query side — no shuffle of
  *    the postings side at query time;
  *  - the bucket cap (skew guard, max_bucket_size=5000) reproduces the
  *    reference's keep-first-5000-in-row-order semantics deterministically
  *    via a window ordered by id.
  */
object Lsh {
  case class Params(bands: Int = 32, numPerm: Int = 128, maxBucketSize: Int = 5000) {
    require(numPerm % bands == 0, "num_perm must be divisible by bands") // minhash_lsh.py:35
    val rows: Int = numPerm / bands
  }

  /** Explode a signature column into its per-band key slices:
    * array<array<long>> of length `bands`, each slice `rows` long
    * (minhash_lsh.py:47-54). */
  def bandSlices(sig: Column, p: Params): Column =
    transform(sequence(lit(0), lit(p.bands - 1)),
      b => slice(sig, b * lit(p.rows) + lit(1), lit(p.rows)))

  /** The two independent fixed-width bucket keys for a (band, slice) pair. */
  private def withBucketKeys(df: DataFrame): DataFrame =
    df.withColumn("key64", xxhash64(col("band"), col("band_key")))
      .withColumn("key64b", xxhash64(col("band_key"), col("band")))
      .drop("band_key")

  /** Build the postings table `(id, band, key64, key64b)` with the
    * reference's bucket cap (minhash_lsh.py:42-57). */
  def postings(sigs: DataFrame, idCol: String, sigCol: String, p: Params = Params()): DataFrame = {
    val exploded = sigs.select(
      col(idCol).cast("long").as("id"),
      posexplode(bandSlices(col(sigCol), p)).as(Seq("band", "band_key")))
    capBuckets(withBucketKeys(exploded), p.maxBucketSize)
  }

  /** [[postings]] plus a release thunk for its build scratch: the capped
    * plan consumes the exploded+hashed pre-cap postings THREE times (the
    * over-cap count, the under-cap anti-join pass-through, the over-cap
    * window), and that table is the largest intermediate in the whole
    * build — 3x read amplification on it dominates index-build time
    * (measured 40%+ of the 1M-doc build). Here it is persisted
    * (memory-then-disk) so the three consumers share one compute; the
    * caller MUST invoke the thunk once the capped result is materialized
    * (its own cache counted) or the scratch block leaks until the context
    * stops. Unpersist is always safe — a later recompute of the returned
    * plan just re-derives the scratch. */
  def postingsWithScratch(sigs: DataFrame, idCol: String, sigCol: String,
                          p: Params = Params()): (DataFrame, () => Unit) = {
    val exploded = sigs.select(
      col(idCol).cast("long").as("id"),
      posexplode(bandSlices(col(sigCol), p)).as(Seq("band", "band_key")))
    val keyed = withBucketKeys(exploded)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (capBuckets(keyed, p.maxBucketSize), () => { keyed.unpersist(blocking = false); () })
  }

  /** Apply the reference's keep-smallest-ids bucket cap to a postings
    * table (no-op when `maxBucketSize <= 0`). Scale-safe: a full-table
    * `row_number` window would sort every posting and land each bucket on
    * one task — the exact skew the cap guards against. Instead, find the
    * over-cap buckets with a map-side-combinable count (partial
    * aggregation absorbs hot keys), pass under-cap rows through untouched
    * (anti join), and run the ordered keep-first-by-id window ONLY over
    * the rare over-cap buckets. The over-cap bucket list is bounded by
    * totalPostings/cap keys (3 longs each), so it broadcasts even at
    * 100 TB scale. Re-capping a union of already-capped tables equals
    * capping the raw union: any id among the k smallest of the union is
    * among the k smallest of its own side. */
  def capBuckets(keyed: DataFrame, maxBucketSize: Int): DataFrame =
    if (maxBucketSize <= 0) keyed
    else {
      val over = keyed.groupBy("band", "key64", "key64b")
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > maxBucketSize)
        .select("band", "key64", "key64b")
      val small = keyed.join(broadcast(over), joinKeys, "left_anti")
      val w = Window.partitionBy("band", "key64", "key64b").orderBy("id")
      val big = keyed.join(broadcast(over), joinKeys)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= maxBucketSize)
        .drop("rn")
      small.unionByName(big)
    }

  private val joinKeys = Seq("band", "key64", "key64b")

  /** ADMIT-UNDER-CAP — the incremental twin of [[capBuckets]] and the
    * one shared owner of the append-time cap discipline (round-13
    * verdict: StandingCorpus.absorb re-implemented it): given the
    * standing occupancy of each touched bucket (`standingCounts`:
    * (band, key64, key64b, _cnt) — count ONLY buckets the new postings
    * touch), admit a new posting while its bucket's standing count plus
    * the posting's in-batch smallest-id rank stays within the cap. For
    * monotonically increasing doc ids (arrival order = id order) this is
    * bit-identical to re-running [[capBuckets]] over the grown union —
    * a bucket's cap-smallest ids are exactly its earliest arrivals
    * (LshSpec pins the equality); with out-of-order ids an over-cap
    * bucket keeps arrival-order members instead (the documented
    * production trade). `maxBucketSize <= 0` is UNCAPPED, matching
    * [[capBuckets]]' no-op contract. */
  def admitUnderCap(newKeys: DataFrame, standingCounts: DataFrame,
                    maxBucketSize: Int): DataFrame =
    if (maxBucketSize <= 0) newKeys.select("id", "band", "key64", "key64b")
    else {
      val w = Window.partitionBy(joinKeys.map(col): _*).orderBy(col("id"))
      newKeys
        .withColumn("_rn", row_number().over(w))
        .join(broadcast(standingCounts), joinKeys, "left")
        .filter(coalesce(col("_cnt"), lit(0L)) + col("_rn") <= maxBucketSize)
        .select("id", "band", "key64", "key64b")
    }

  /** Everything the driver holds for one index, in ONE slot of the
    * per-index LRU: the cached distributed stats frame ([[bucketSizes]]),
    * the driver bucket-size table ([[warmDriverStats]], or the replica's
    * own table when [[warmDriverIndex]] built one), the serving replica
    * and the probe cache. Fields are set once per warm-up and read
    * without the LRU's lock. */
  private final class IndexState {
    @volatile var stats: DataFrame = _
    @volatile var sizes: Slots = _
    @volatile var replica: DriverIndex = _
    val probeCache = new ProbeCache
  }

  /** The per-index LRU, keyed on index DataFrame identity (QueryEngine and
    * SparkEntry's postings cache each hold one instance per index): at
    * most 8 indexes, so a long-lived service that periodically rebuilds
    * its index does not accumulate driver state. An evicted record's
    * stats frame is unpersisted. */
  private val states =
    new java.util.LinkedHashMap[DataFrame, IndexState](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[DataFrame, IndexState]): Boolean =
        size() > 8 && { release(e.getKey, e.getValue); true }
    }

  private def release(index: DataFrame, st: IndexState): Unit =
    if (st.stats != null && !index.sparkSession.sparkContext.isStopped)
      st.stats.unpersist(blocking = false)

  /** `index`'s record — created when absent if `create`, else null —
    * after dropping the records of stopped contexts. */
  private def stateOf(index: DataFrame, create: Boolean): IndexState = states.synchronized {
    states.entrySet().removeIf(_.getKey.sparkSession.sparkContext.isStopped)
    if (create) states.computeIfAbsent(index, _ => new IndexState) else states.get(index)
  }

  /** Per-bucket posting counts `(band, key64, key64b, n)` for an index —
    * the stats table a capped probe consults to pick its band prefix
    * WITHOUT materializing a single candidate row (the Spark analog of
    * the reference's early exit: it stops reading buckets once
    * max_candidates accumulate — minhash_lsh.py:95-96). Built and cached
    * once per index, in its LRU record. */
  def bucketSizes(index: DataFrame): DataFrame = states.synchronized {
    val st = stateOf(index, create = true)
    if (st.stats == null)
      st.stats = index.groupBy("band", "key64", "key64b").agg(count(lit(1)).as("n")).cache()
    st.stats
  }

  /** Largest index the driver holds bucket sizes for — the bucket-size
    * table of [[warmDriverStats]] (at most this many buckets) and the
    * serving replica of [[warmDriverIndex]] (at most this many postings).
    * Past it the stats stay distributed: a driver table stops being
    * scale-safe there (at 100 TB the stats table itself is distributed).
    *
    * Sizing note: both are the open-addressed [[Slots]] table, at most
    * 2^21 slots here, each two key longs and an Int count (20 bytes), so a
    * full table is at most ~40 MB. A replica adds a member-array
    * reference per slot, 4 bytes per posting and a 16-byte header per
    * bucket (~70 MB in all at 2^20 postings) plus its signatures (see
    * [[DriverReplicaMaxDocs]], ~129 MiB). A record without a replica may
    * instead fill its probe cache (~160 MB, [[ProbeCacheMaxSigs]]). One
    * LRU slot holds all of an index's driver state, so the 8-slot LRU
    * bounds the worst case at ~1.6 GB — a serving driver should be sized
    * for that, or this constant lowered. */
  final val DriverStatsMaxEntries: Long = 1L << 20

  /** Ceiling on DISTINCT doc ids the full driver replica
    * ([[warmDriverIndex]]) will pull signatures for: postings count alone
    * does not bound the signature collect (a heavily-duplicated corpus
    * caps to few postings while its sigs table stays huge), so the
    * replica also requires the REFERENCED id set — the only docs a probe
    * can ever surface — to stay under this bound. The flat layout spends
    * 8 bytes per signature slot plus 8 bytes per id, so a full replica of
    * 128-slot signatures is ~129 MiB in two primitive arrays. */
  final val DriverReplicaMaxDocs: Int = 1 << 17

  /** Largest batch the capped [[queryBatch]] will collect to the driver
    * for the jobless band-prefix fold (≈10 MB of signatures at 128
    * longs/query); bigger batches keep the fully distributed cap plan. */
  final val DriverBatchMaxQueries: Int = 10000

  /** Collect the index's bucket sizes into a driver table if it has at
    * most [[DriverStatsMaxEntries]] buckets (one count + one collect over
    * the CACHED stats table — warm-up cost, not probe cost). A warmed
    * replica already holds one, so this is a no-op after
    * [[warmDriverIndex]]. Returns whether the driver table is available;
    * capped [[querySignature]], [[queryBatch]] and [[queryProbeCached]]
    * then fold their band prefix with no stats job. */
  def warmDriverStats(index: DataFrame): Boolean =
    driverSizes(index).isDefined || {
      val stats = bucketSizes(index)
      stats.count() <= DriverStatsMaxEntries && {
        stateOf(index, create = true).sizes = sizeTable(stats)
        true
      }
    }

  private def driverSizes(index: DataFrame): Option[Slots] =
    Option(stateOf(index, create = false)).flatMap(st => Option(st.sizes))

  /** A bucket-size table from a stats frame's `(key64, key64b, n)` rows. */
  private def sizeTable(stats: DataFrame): Slots = {
    val rows = stats.select("key64", "key64b", "n").collect()
    val t = new Slots(rows.length)
    rows.foreach(r => t.add(r.getLong(0), r.getLong(1), r.getLong(2).toInt))
    t
  }

  /** Driver-RESIDENT serving replica of a small index, the reference's
    * per-worker in-memory tables (worker_tasks.py:79-117) rebuilt on the
    * driver over primitive arrays. A warmed capped probe over it runs
    * ZERO Spark jobs — candidate lookup, scoring and top-k are
    * in-process, the reference's own serving architecture — so a served
    * single-vector probe drops from the multi-job scheduler floor
    * (~250 ms) to about a millisecond. Strictly a fast path: results are
    * bit-identical to [[querySignature]] (same band-prefix cap fold, same
    * m/128 estimated-Jaccard arithmetic, same score-desc/id-asc order),
    * pinned by LshKernelSpec. Indexes above [[DriverStatsMaxEntries]]
    * postings never build one — at 100 TB the index is disk/cluster
    * resident and probes stay distributed (or go through the bucketed
    * parquet path).
    *
    * Layout: the referenced ids sorted ascending (a doc's POSITION is its
    * rank, so position order is id order), every signature in one flat
    * array at `position * width`, and the index's bucket-size table whose
    * buckets also hold their members' positions ascending. */
  final class DriverIndex private[Lsh] (
      private[Lsh] val ids: Array[Long],
      private[Lsh] val width: Int,
      private[Lsh] val sigs: Array[Long],
      // positions of referenced ids with no signature row (never scored)
      private[Lsh] val unsigned: java.util.BitSet,
      private[Lsh] val table: Slots,
      // table slot -> the bucket's member positions, ascending (null: free)
      private[Lsh] val members: Array[Array[Int]]) {
    private[Lsh] def bucket(key: Long, keyB: Long): Array[Int] = members(table.slot(key, keyB))
  }

  /** The driver bucket-size table: open-addressed (key64, key64b) slots
    * for up to `n` buckets at 25-50% load, probed linearly from key64's
    * folded low bits (key64 is already an xxhash, so they spread evenly),
    * each holding its bucket's posting count. A bucket's identity is the
    * key pair alone, as in the replica probe: both keys hash the band. */
  private[Lsh] final class Slots(n: Int) {
    val mask: Int = (Integer.highestOneBit(math.max(1, 2 * n - 1)) << 1) - 1
    val keys = new Array[Long](2 * (mask + 1))
    /** Postings per slot's bucket; 0 marks a free slot. */
    val sizes = new Array[Int](mask + 1)

    /** The slot (key, keyB) occupies, or the free slot it would claim. */
    def slot(key: Long, keyB: Long): Int = {
      var s = (key ^ (key >>> 32)).toInt & mask
      while (sizes(s) > 0 && (keys(2 * s) != key || keys(2 * s + 1) != keyB)) s = (s + 1) & mask
      s
    }

    /** Bucket (key, keyB)'s size, 0 when absent. */
    def size(key: Long, keyB: Long): Int = sizes(slot(key, keyB))

    /** Count `n` >= 1 more postings into bucket (key, keyB); returns its slot. */
    def add(key: Long, keyB: Long, n: Int): Int = {
      val s = slot(key, keyB)
      keys(2 * s) = key
      keys(2 * s + 1) = keyB
      sizes(s) += n
      s
    }
  }

  /** Build the driver serving replica if the index is small enough (one
    * collect over the cached postings + one over the cached signatures —
    * warm-up cost). Returns whether the replica is available; its bucket
    * table is then also the index's driver bucket-size table. A
    * signature table of mixed widths (or with a null signature) declines
    * the replica, so its probes go to the probe-cache tier instead. */
  def warmDriverIndex(sigs: DataFrame, index: DataFrame): Boolean =
    if (driverIndexFor(index).isDefined) true
    else if (index.count() > DriverStatsMaxEntries) false
    else {
      val postRows = index.select("key64", "key64b", "id").collect()
      // gate the signature collect on the REFERENCED id count, not the
      // postings count: a capped index over a heavily-duplicated corpus
      // can be tiny while the sigs table is not, and only docs present in
      // some bucket can ever be candidates — so the replica semi-joins
      // sigs to the postings ids instead of collecting the whole table
      val ids = sortedDistinct(postRows.map(_.getLong(2)))
      if (ids.length > DriverReplicaMaxDocs) false
      else {
        val spark = sigs.sparkSession
        import spark.implicits._
        val sigRows = sigs
          .join(broadcast(ids.toSeq.toDF("rid")), sigs("doc_id") === col("rid"), "left_semi")
          .select("doc_id", "sig").collect()
        val width = sigRows.headOption.filterNot(_.isNullAt(1)).map(_.getSeq[Long](1).length)
          .getOrElse(0)
        if (sigRows.exists(r => r.isNullAt(1) || r.getSeq[Long](1).length != width)) false
        else {
          val flat = new Array[Long](ids.length * width)
          val unsigned = new java.util.BitSet(ids.length)
          unsigned.set(0, ids.length)
          sigRows.foreach { r =>
            val p = java.util.Arrays.binarySearch(ids, r.getLong(0))
            r.getSeq[Long](1).copyToArray(flat, p * width)
            unsigned.clear(p)
          }
          val (table, members) = bucketTable(ids, postRows)
          val st = stateOf(index, create = true)
          st.sizes = table
          st.replica = new DriverIndex(ids, width, flat, unsigned, table, members)
          true
        }
      }
    }

  /** Sort `xs` in place and return its distinct values, ascending. */
  private def sortedDistinct(xs: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(xs)
    var n = 0
    var i = 0
    while (i < xs.length) {
      if (n == 0 || xs(i) != xs(n - 1)) { xs(n) = xs(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(xs, n)
  }

  /** Group `(key64, key64b, id)` postings into the replica's bucket
    * table (slots for one bucket per posting), each bucket's member
    * positions ascending. */
  private def bucketTable(ids: Array[Long], postRows: Array[org.apache.spark.sql.Row])
      : (Slots, Array[Array[Int]]) = {
    val table = new Slots(postRows.length)
    val slotOfPosting = postRows.map(r => table.add(r.getLong(0), r.getLong(1), 1))
    val members = table.sizes.map(c => if (c == 0) null else new Array[Int](c))
    val filled = new Array[Int](members.length)
    var i = 0
    while (i < postRows.length) {
      val s = slotOfPosting(i)
      members(s)(filled(s)) = java.util.Arrays.binarySearch(ids, postRows(i).getLong(2))
      filled(s) += 1
      i += 1
    }
    members.foreach(m => if (m != null) java.util.Arrays.sort(m))
    (table, members)
  }

  def driverIndexFor(index: DataFrame): Option[DriverIndex] =
    Option(stateOf(index, create = false)).flatMap(st => Option(st.replica))

  /** Test visibility: does `index` still hold a WARMED driver bucket-size
    * table (from [[warmDriverStats]], or a serving replica's)? Pins the
    * supersede-evict and close() contracts (InvarianceSpec). A probe
    * cache or stats frame alone does not count: any capped probe against
    * an un-warmed index re-creates them, and both are bounded. */
  private[graft] def hasDriverState(index: DataFrame): Boolean = driverSizes(index).isDefined

  /** Release `index`'s LRU record — bucket-size table, serving replica,
    * probe cache and cached stats frame — called by `QueryEngine.close()`
    * so a closed engine's tens-of-MB replica does not stay pinned on the
    * driver until LRU eviction. */
  def evictDriverState(index: DataFrame): Unit = states.synchronized {
    val st = states.remove(index)
    if (st != null) release(index, st)
  }

  /** Zero-job capped probe against a driver replica: the same band-prefix
    * cap fold, candidate dedup, m/128 estimated-Jaccard and
    * (score desc, id asc) top-k as the distributed capped path — executed
    * in-process over the replica's primitive arrays. `qpRows` is the
    * query's (band, key64, key64b) triple list ([[queryKeysLocal]]).
    * Returns (id, score, 10-slot preview), best first. */
  def queryDriverIndex(di: DriverIndex, qpRows: Array[(Int, Long, Long)],
                       querySig: Array[Long], k: Int,
                       maxCandidates: Int): Seq[(Long, Double, Seq[Long])] = {
    // candidate positions, de-duplicated through a per-probe bitset
    val seen = new Array[Long]((di.ids.length + 63) >>> 6)
    val found = new scala.collection.mutable.ArrayBuilder.ofInt
    foldBands(qpRows, maxCandidates) { t =>
      val ps = di.bucket(t._2, t._3)
      if (ps == null) 0
      else {
        var j = 0
        while (j < ps.length) {
          val p = ps(j)
          if ((seen(p >>> 6) & (1L << p)) == 0) {
            seen(p >>> 6) |= 1L << p
            found += p
          }
          j += 1
        }
        ps.length
      }
    }
    val cands = found.result()
    java.util.Arrays.sort(cands)
    val w = di.width
    val top = new TopK(k, cands.length)
    var j = 0
    while (j < cands.length) {
      val p = cands(j)
      if (!di.unsigned.get(p)) top.offer(score(matchCount(querySig, di.sigs, p * w, w), w), p)
      j += 1
    }
    top.result((p, s) => (di.ids(p), s, di.sigs.slice(p * w, p * w + math.min(10, w)).toSeq))
  }

  /** THE driver band-prefix fold — every driver tier's, and the driver
    * twin of the distributed [[allowedBandPrefix]]: visit the query's
    * (band, key64, key64b) rows in band order until `maxCandidates`
    * members accumulate (inclusive of the crossing bucket;
    * `maxCandidates <= 0` visits every band). `visit` returns the row's
    * bucket size, 0 when the bucket is absent (or not known to this
    * caller). Returns the visited rows, band order. */
  private def foldBands(qpRows: Array[(Int, Long, Long)], maxCandidates: Int)(
      visit: ((Int, Long, Long)) => Int): Array[(Int, Long, Long)] = {
    val byBand = qpRows.sortBy(_._1)
    var before = 0L
    var i = 0
    while (i < byBand.length && (maxCandidates <= 0 || before < maxCandidates)) {
      before += visit(byBand(i))
      i += 1
    }
    byBand.take(i)
  }

  /** Slots where the `width`-long signature at `off` in `sigs` equals
    * `q` position by position: the integer half of every driver-side
    * estimated Jaccard. */
  private[graft] def matchCount(q: Array[Long], sigs: Array[Long], off: Int, width: Int): Int = {
    var eq = 0
    var d = 0
    while (d < width) { if (sigs(off + d) == q(d)) eq += 1; d += 1 }
    eq
  }

  /** Estimated Jaccard of a match count, Kernels.estJaccard's arithmetic:
    * ONE double division by the width (an exact dyadic rational at 128
    * perms), 0.0 for an empty signature. */
  private[graft] def score(matches: Int, width: Int): Double =
    if (width == 0) 0.0 else matches.toDouble / width

  /** The k best (score desc, slot asc) of a scan that offers at most
    * `offers` slots in ascending order. A later slot displaces a kept one
    * only on a strictly greater score, so when slot order is id order the
    * result is exactly the distributed plan's (score desc, id asc) top-k. */
  private final class TopK(k: Int, offers: Int) {
    private val cap = math.max(0, math.min(k, offers))
    private val scores = new Array[Double](cap)
    private val slots = new Array[Int](cap)
    private var n = 0

    def offer(score: Double, slot: Int): Unit =
      if (n < cap || (cap > 0 && score > scores(cap - 1))) {
        if (n == cap) n -= 1
        // insert after every kept entry scoring at least as high
        var lo = 0
        var hi = n
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (scores(mid) >= score) lo = mid + 1 else hi = mid
        }
        System.arraycopy(scores, lo, scores, lo + 1, n - lo)
        System.arraycopy(slots, lo, slots, lo + 1, n - lo)
        scores(lo) = score
        slots(lo) = slot
        n += 1
      }

    def result[A](entry: (Int, Double) => A): Seq[A] = (0 until n).map(i => entry(slots(i), scores(i)))
  }

  /** LRU serving cache for capped single probes on indexes ABOVE the full
    * driver-replica bounds: instead of the whole index, only the buckets
    * recent probes touched (plus their members' signatures) are driver-
    * resident. A probe whose 32 buckets and candidate signatures are all
    * resident runs ZERO Spark jobs; a miss pays ONE bucket-fetch job (a
    * key64-IN filter over the cached index — at 100 TB, a pruned scan of
    * the bucketed table) and one signature fetch, then populates the
    * cache. Hot-key serving workloads (the reference's repeated-probe
    * shape) amortize to in-process latency; cold random probes cost what
    * the distributed plan costs, ONE extra insert aside. Residency is
    * bounded by [[ProbeCacheMaxPostings]] resident posting slots and
    * [[ProbeCacheMaxSigs]] signatures (~24 MB + ~135 MB), independent of
    * index size — driver memory stays flat at any scale. Results are
    * bit-identical to the distributed capped probe (the replica's fold,
    * scoring and top-k — LshKernelSpec pins it): an absent bucket is stored as an
    * explicit empty array, so absent-because-empty never aliases
    * absent-because-not-fetched.
    *
    * Sig-bound sizing (round 11): a capped probe on a skewed corpus can
    * carry up to maxCandidates + maxBucketSize (~7000) candidate sigs, so
    * a 16-20-key hot set needs ~10^5 resident sigs; at the old 2^16 bound
    * the hot set THRASHED the sig tier (every repeat refetched ~2000 sigs
    * — the 4M hot row read 61 ms instead of in-process). 2^17 sigs x 1 KB
    * ≈ 135 MB holds a realistic hot-key set and stays a flat driver
    * constant. */
  final val ProbeCacheMaxPostings: Long = DriverStatsMaxEntries
  final val ProbeCacheMaxSigs: Int = 1 << 17

  final class ProbeCache private[Lsh] {
    private[Lsh] val buckets =
      new java.util.LinkedHashMap[(Int, Long, Long), Array[Long]](128, 0.75f, true)
    private[Lsh] var residentPostings: Long = 0L
    private[Lsh] val sigsById =
      new java.util.LinkedHashMap[Long, Array[Long]](256, 0.75f, true)
  }

  /** Capped single probe through the per-index [[ProbeCache]] — the
    * serving path for indexes too big for the full driver replica.
    * Returns (id, score, 10-slot preview), best first; bit-identical to
    * [[querySignature]] with the same cap. Requires `maxCandidates > 0`
    * (an uncapped probe's candidate set is unbounded — it must stay
    * distributed). */
  def queryProbeCached(sigs: DataFrame, index: DataFrame,
                       qpRows: Array[(Int, Long, Long)], querySig: Array[Long],
                       k: Int, maxCandidates: Int,
                       fetchFrom: Option[DataFrame] = None): Seq[(Long, Double, Seq[Long])] = {
    require(maxCandidates > 0, "queryProbeCached requires a candidate cap")
    val pc = stateOf(index, create = true).probeCache
    // PHASE 1 (monitor): snapshot THIS probe's resident buckets (array
    // refs only — the snapshot makes the fold immune to a racing probe's
    // eviction). Residency comes FIRST so a fully resident hot probe runs
    // ZERO Spark jobs even without a driver bucket-size table
    // (>DriverStatsMaxEntries buckets, e.g. 16M docs): the fold enforces
    // the same band-prefix cap with the resident arrays' own lengths. The
    // monitor is never held across a Spark job: a cold miss costs a
    // ~0.27 s cluster fetch, and holding the lock through it serialized
    // every concurrent probe against the same index behind one cold key.
    val snap = new java.util.HashMap[(Int, Long, Long), Array[Long]]()
    pc.synchronized {
      qpRows.foreach { t =>
        val ids = pc.buckets.get(t) // get also marks LRU recency
        if (ids != null) snap.put(t, ids)
      }
    }
    // EFFECTIVE misses: only rows the fold can reach. Run with the
    // resident sizes (a miss counting 0), the fold passes every row it
    // would consult with the true sizes, so a hot repeat whose prefix
    // buckets are resident is covered WITHOUT knowing the other buckets'
    // sizes (testing "is every band row resident" made every hot repeat
    // a miss that paid the sizes lookup — 98 ms hot probes at 16M lean
    // serving instead of in-process).
    val missingAll = Array.newBuilder[(Int, Long, Long)]
    foldBands(qpRows, maxCandidates) { t =>
      val ids = snap.get(t)
      if (ids == null) { missingAll += t; 0 } else ids.length
    }
    // Trim the FETCH to the cap's band prefix (round 11): the fold only
    // ever consumes the smallest band prefix whose cumulative bucket sizes
    // reach the cap — typically one or two bands on a skewed corpus — yet
    // the miss fetch used to pull all 32 buckets. At 4M docs that
    // untrimmed fetch (up to 32 x maxBucketSize postings per probe) both
    // paid a wider fetch job and THRASHED the bounded cache: 20 rotating
    // probes exceeded ProbeCacheMaxPostings, every repeat became a miss,
    // and "hot" serving read 87-298 ms vs 4-6 ms at <=1M. The trim is the
    // same fold over the same sizes (the stats are grouped from this exact
    // capped index), so results are bit-identical while the per-probe
    // footprint shrinks ~16x. The sizes come from the driver bucket-size
    // table when warm; otherwise from one small key64-pruned lookup, paid
    // only by probes that miss — the trim holds at ANY index size. With a
    // bucketed serving table wired (the lean/disk tier) that lookup is a
    // BUCKET-PRUNED scan of it, so no whole-index stats frame ever needs
    // to exist or be cached (the lean-serving heap stays flat at 16M+
    // docs); otherwise it reads the cached stats table.
    val missing = {
      val all = missingAll.result()
      if (all.isEmpty) all
      else {
        val sizes = driverSizes(index).getOrElse {
          val keys = qpRows.map(_._2).distinct.toSeq
          sizeTable(fetchFrom match {
            case Some(src) => src.filter(col("key64").isin(keys: _*))
              .groupBy("band", "key64", "key64b").agg(count(lit(1)).as("n"))
            case None => bucketSizes(index).filter(col("key64").isin(keys: _*))
          })
        }
        val reach = foldBands(qpRows, maxCandidates)(t => sizes.size(t._2, t._3)).toSet
        all.filter(reach)
      }
    }
    // PHASE 2 (no lock): ONE fetch job for every missing bucket: key64-IN
    // literals reach the scan (bucket-pruned on a saved bucketed table);
    // exact-triple membership is re-checked on the driver because key64
    // alone may collide across bands. Two racing probes may both fetch a
    // bucket — harmless double work on identical data, the price of not
    // serializing every warm probe behind a cold one. `fetchFrom` (when
    // wired — QueryEngine.serveFromBucketed) points the fetch at the
    // SAVED key64-bucketed postings table instead of the cached full
    // index: the IN literals then engage bucket pruning + sorted
    // row-group skipping, so a cold probe's I/O is bounded by its own
    // buckets rather than a whole-index scan — the 100 TB cold tier.
    if (missing.nonEmpty) {
      val missingSet = missing.toSet
      val rows = fetchFrom.getOrElse(index)
        .filter(col("key64").isin(missing.map(_._2).distinct.toSeq: _*))
        .select("band", "key64", "key64b", "id").collect()
        .map(r => ((r.getInt(0), r.getLong(1), r.getLong(2)), r.getLong(3)))
        .filter { case (t, _) => missingSet.contains(t) }
        .groupBy(_._1)
      // an absent bucket is stored as an explicit empty array, so
      // absent-because-empty never aliases absent-because-not-fetched
      missing.foreach { t =>
        snap.put(t, rows.get(t).map(_.map(_._2).sorted).getOrElse(Array.empty[Long]))
      }
      // PHASE 3 (monitor): publish the fetch (skip triples a racing probe
      // already published — same data, and skipping keeps the residency
      // accounting exact), then evict least-recently-probed buckets past
      // the bound (the just-inserted entries are most recent).
      pc.synchronized {
        missing.foreach { t =>
          if (!pc.buckets.containsKey(t)) {
            val ids = snap.get(t)
            pc.buckets.put(t, ids)
            pc.residentPostings += ids.length
          }
        }
        val it = pc.buckets.entrySet().iterator()
        while (pc.residentPostings > ProbeCacheMaxPostings && it.hasNext) {
          pc.residentPostings -= it.next().getValue.length
          it.remove()
        }
      }
    }
    // fold over THIS probe's snapshot, never the shared map (which a
    // racing probe may be evicting): every row the fold reaches is in it
    val cands = {
      val found = new scala.collection.mutable.ArrayBuilder.ofLong
      foldBands(qpRows, maxCandidates) { t =>
        val ids = snap.get(t)
        if (ids == null) 0 else { found.addAll(ids); ids.length }
      }
      sortedDistinct(found.result())
    }
    // per-probe signature overlay: scoring reads ONLY this map, so LRU
    // eviction (by this probe or a racing one) can never silently drop a
    // candidate. Resident lookups under the monitor; the miss fetch — a
    // cluster job — again outside it.
    val probeSigs = new java.util.HashMap[Long, Array[Long]]()
    val missingIds = pc.synchronized {
      val b = Array.newBuilder[Long]
      cands.foreach { id =>
        val s = pc.sigsById.get(id)
        if (s != null) probeSigs.put(id, s) else b += id
      }
      b.result()
    }
    if (missingIds.nonEmpty) {
      val got = sigs.filter(col("doc_id").isin(missingIds.toSeq: _*))
        .select("doc_id", "sig").collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
      got.foreach { case (id, sig) => probeSigs.put(id, sig) }
      pc.synchronized {
        got.foreach { case (id, sig) => pc.sigsById.put(id, sig) }
        val sit = pc.sigsById.entrySet().iterator()
        while (pc.sigsById.size() > ProbeCacheMaxSigs && sit.hasNext) {
          sit.next(); sit.remove()
        }
      }
    }
    // the replica's scoring and top-k over the sorted distinct ids: slot
    // order is id order here too
    val top = new TopK(k, cands.length)
    var i = 0
    while (i < cands.length) {
      val sig = probeSigs.get(cands(i))
      if (sig != null) top.offer(score(matchCount(querySig, sig, 0, sig.length), sig.length), i)
      i += 1
    }
    top.result((i, s) => (cands(i), s, probeSigs.get(cands(i)).take(10).toSeq))
  }

  /** Allowed-band whitelist from per-(group, band) bucket sizes: for each
    * group, the smallest band prefix whose cumulative sizes reach the cap
    * (inclusive). `sized` is (groupCols..., band, n); returns
    * (groupCols..., band). The fold runs over one <=32-element array per
    * group — never a row-level window. */
  private def allowedBandPrefix(sized: DataFrame, groupCols: Seq[String],
                                maxCandidates: Int): DataFrame = {
    val grouped =
      if (groupCols.isEmpty) sized.agg(sort_array(collect_list(struct(col("band"), col("n")))).as("bn"))
      else sized.groupBy(groupCols.map(col): _*)
        .agg(sort_array(collect_list(struct(col("band"), col("n")))).as("bn"))
    grouped
      .select(groupCols.map(col) :+ explode(filter(
        transform(col("bn"), (x, i) => struct(
          x.getField("band").as("band"),
          aggregate(slice(col("bn"), lit(1), i), lit(0L),
            (a, y) => a + y.getField("n")).as("before"))),
        s => s.getField("before") < maxCandidates)).as("s"): _*)
      .select(groupCols.map(col) :+ col("s.band").as("band"): _*)
  }

  /** The query's (band, key64, key64b) bucket keys computed ON the driver
    * by evaluating the SAME Catalyst XxHash64 expression the index build
    * runs — bit-identical keys, no DataFrame, no plan analysis, no job.
    * The zero-overhead form of [[queryPostings]] for the driver-resident
    * serving path. */
  def queryKeysLocal(querySig: Array[Long], p: Params = Params()): Array[(Int, Long, Long)] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    (0 until p.bands).map { b =>
      val slice = Literal.create(
        new GenericArrayData(querySig.slice(b * p.rows, (b + 1) * p.rows)),
        ArrayType(LongType, containsNull = false))
      val bandLit = Literal(b)
      val k = XxHash64(Seq(bandLit, slice), 42L).eval(null).asInstanceOf[Long]
      val kb = XxHash64(Seq(slice, bandLit), 42L).eval(null).asInstanceOf[Long]
      (b, k, kb)
    }.toArray
  }

  /** Postings rows for a single query signature — a 32-row DataFrame built
    * on the driver; keys computed by the same Spark expressions so they
    * match the index side bit-for-bit. */
  def queryPostings(spark: SparkSession, querySig: Array[Long], p: Params = Params()): DataFrame = {
    import spark.implicits._
    val rows = (0 until p.bands).map { b =>
      (b, querySig.slice(b * p.rows, (b + 1) * p.rows).toSeq)
    }
    withBucketKeys(rows.toDF("band", "band_key"))
  }

  /** Candidate ids for a query signature: union of the query's band buckets,
    * deduplicated (minhash_lsh.py:76-96 minus the nondeterministic
    * 2000-candidate early exit — documented deviation, SURVEY §7.4). */
  def candidates(index: DataFrame, query: DataFrame): DataFrame =
    index.join(broadcast(query), joinKeys)
      .select("id").distinct()

  /** Full single-query top-k (O9-O11 + O19/O20): candidates from a
    * broadcast probe of the cached postings, deduplicated, scored, then
    * global top-k via TakeOrderedAndProject (per-partition partial top-k +
    * driver merge).
    *
    * `maxCandidates` reproduces the reference's candidate cap
    * (minhash_lsh.py:95-96) deterministically: instead of the reference's
    * insertion-order early exit, the probe uses the smallest PREFIX of
    * bands (band 0, 1, ...) whose cumulative bucket sizes reach the cap
    * (all bands when the total stays under it). Candidate sets match the
    * reference whenever the cap doesn't trigger; when it does, both
    * engines scan a truncated band prefix — ours reproducibly.
    * `maxCandidates <= 0` disables the cap.
    *
    * NOTE: unless the index's driver bucket-size table is warm
    * ([[warmDriverStats]], [[warmDriverIndex]]), a capped call runs one
    * tiny Spark job EAGERLY (the <=32-row bucket-stats lookup that picks
    * the band prefix) — the probe analog of the reference's per-bucket
    * dict lookups + early exit (minhash_lsh.py:76-96). Everything else
    * stays lazy. */
  def querySignature(sigs: DataFrame, index: DataFrame, querySig: Array[Long], k: Int,
                     p: Params = Params(), maxCandidates: Int = 0): DataFrame =
    querySignatureImpl(sigs, index, querySig, k, p, maxCandidates, index)

  /** `statsOf`: as in [[queryBatchImpl]]. */
  private def querySignatureImpl(sigs: DataFrame, index: DataFrame, querySig: Array[Long],
                                 k: Int, p: Params, maxCandidates: Int,
                                 statsOf: DataFrame): DataFrame = {
    val spark = sigs.sparkSession
    import spark.implicits._
    if (maxCandidates <= 0) {
      // UNCAPPED probe: keep the distinct() dedup — on a skewed corpus the
      // band-duplication factor multiplies scored rows up to 32x (the
      // round-1 measured 16M-vs-950k blowup), which the cap otherwise
      // bounds.
      val qp = queryPostings(spark, querySig, p)
      val cand = index.join(broadcast(qp), joinKeys).select("id").distinct()
      // the query vector travels as DATA (broadcast 1-row frame), not as a
      // 128-literal expression: every probe then reuses the same compiled
      // plan — codegen recompilation per query was the dominant latency cost
      import graft.functions.TopKByScore.top_k_by_score_distinct
      val qdf = Seq(Tuple1(querySig.toSeq)).toDF("qsig")
      val top = sigs.join(broadcast(cand), sigs("doc_id") === cand("id"))
        .crossJoin(broadcast(qdf))
        .select(
          col("id"),
          graft.functions.GraftFunctions.est_jaccard(col("sig"), col("qsig")).as("score"))
        .agg(top_k_by_score_distinct(col("score"), col("id"), k).as("topk"))
        .select(posexplode(col("topk")).as(Seq("pos", "hit")))
        .select(col("hit.id").as("id"), col("hit.score").as("score"))
      // re-attach the vector preview: the k-row top side broadcasts, the
      // cached sigs are scanned once with a codegen hash probe. The agg
      // already yields <= k rows; the trailing limit makes the final sort a
      // TakeOrderedAndProject (no range exchange) instead of a global Sort.
      sigs.select(col("doc_id"), slice(col("sig"), 1, 10).as("vector_preview"))
        .join(broadcast(top), col("doc_id") === top("id"))
        .select(col("id"), col("score"), col("vector_preview"))
        .orderBy(desc("score"), asc("id"))
        .limit(k)
    } else {
      // CAPPED probe, latency-tuned: the query hits exactly one bucket per
      // band, so its per-band hit counts are the <=32 bucket sizes under
      // its keys (driver-evaluated — [[queryKeysLocal]]). With the index's
      // driver bucket-size table warm they are table lookups and the probe
      // runs ZERO stats jobs, exactly the reference's in-process dict
      // lookups + early exit; otherwise one tiny join of the CACHED stats
      // table against the keys' LocalRelation (constant plan shape, no
      // codegen churn) fetches them. Either way [[foldBands]] picks the
      // allowed band prefix ON THE DRIVER, and the probe plan needs just
      // two jobs: build the candidate broadcast, and the scoring scan
      // whose top-k aggregate carries the vector preview as a payload (no
      // re-join, no final sort).
      val keys = queryKeysLocal(querySig, p)
      val sizes = driverSizes(statsOf).getOrElse(sizeTable(
        bucketSizes(statsOf).join(broadcast(keys.toSeq.toDF(joinKeys: _*)), joinKeys)))
      val allowed = foldBands(keys, maxCandidates)(t => sizes.size(t._2, t._3))
      // band-duplicated candidate rows are cap-bounded and the
      // id-deduplicating top-k aggregate absorbs them (per-id scores are
      // identical — same signature pair), so no distinct() exchange.
      val cand = index.join(broadcast(allowed.toSeq.toDF(joinKeys: _*)), joinKeys).select("id")
      import graft.functions.TopKByScore.top_k_by_score_distinct_preview
      val qdf = Seq(Tuple1(querySig.toSeq)).toDF("qsig")
      sigs.join(broadcast(cand), sigs("doc_id") === cand("id"))
        .crossJoin(broadcast(qdf))
        .agg(top_k_by_score_distinct_preview(
          graft.functions.GraftFunctions.est_jaccard(col("sig"), col("qsig")),
          col("doc_id"), slice(col("sig"), 1, 10), k).as("topk"))
        .select(posexplode(col("topk")).as(Seq("pos", "hit")))
        // the aggregate's eval() emits entries already sorted (score desc,
        // id asc); posexplode preserves array order, so no trailing sort
        .select(col("hit.id").as("id"), col("hit.score").as("score"),
          col("hit.preview").as("vector_preview"))
    }
  }

  /** Probe a disk-resident BUCKETED postings table (saved via
    * `QueryEngine.saveBucketed`) with bucket pruning: the query's 32
    * `key64` values reach the parquet scan as literal IN predicates, so
    * Spark reads ONLY the matching buckets' files — probe I/O stays flat
    * as the index grows, the disk-resident analog of the reference's
    * in-memory dict lookup (worker_tasks.py:79-117). The cached-DataFrame
    * probe (querySignature) scans the whole cached index per probe, which
    * is fine in memory at one node but not for a 100 TB on-disk index.
    * Results are identical to querySignature (same join, pre-filtered). */
  def querySignatureBucketed(sigs: DataFrame, bucketedIndex: DataFrame,
                             querySig: Array[Long], k: Int,
                             p: Params = Params(), maxCandidates: Int = 0): DataFrame = {
    // the 32 driver-evaluated keys must be LITERALS for bucket pruning
    val keys = queryKeysLocal(querySig, p).map(_._2).toSeq
    val pruned = bucketedIndex.filter(col("key64").isin(keys: _*))
    // a capped probe folds the caller's full table's sizes (see
    // queryBatchBucketed)
    querySignatureImpl(sigs, pruned, querySig, k, p, maxCandidates, bucketedIndex)
  }

  /** Batch probe: top-k per query signature, all queries through ONE
    * compiled plan (the Spark-native form of the reference's per-request
    * scatter — amortizes planning/codegen across the whole batch).
    * `queries` is (query_id, sig); output (query_id, rank, id, score).
    *
    * `maxCandidates` is the per-query band-prefix cap (the deterministic
    * form of the reference's max_candidates=2000 early exit,
    * minhash_lsh.py:95-96) — it bounds the scored rows per query, which
    * is what keeps throughput flat when bucket skew makes candidate sets
    * explode (a 20k-doc degenerate corpus yields ~160k hits/query;
    * scoring must not scale with that). `<= 0` disables the cap.
    *
    * The query postings side is broadcast (bounded: 32 rows per query);
    * the candidate set is NOT broadcast — it grows with batch size and
    * bucket skew, so AQE picks the join strategy. */
  def queryBatch(sigs: DataFrame, index: DataFrame, queries: DataFrame, k: Int,
                 p: Params = Params(), maxCandidates: Int = 0): DataFrame =
    queryBatchImpl(sigs, index, queries, k, p, maxCandidates, index)

  /** `statsOf`: the table handle whose bucket sizes the cap folds — the
    * index itself, or for a one-off view of it (the bucketed pruned scan)
    * the caller's full table, whose counts restricted by the probe join
    * are the view's: a fresh DataFrame per call would churn the
    * identity-keyed per-index LRU, each call building and caching a stats
    * table and evicting a live index's record. */
  private def queryBatchImpl(sigs: DataFrame, index: DataFrame, queries: DataFrame,
                             k: Int, p: Params, maxCandidates: Int,
                             statsOf: DataFrame): DataFrame = {
    import graft.functions.TopKByScore.top_k_by_score_distinct
    val qPost = withBucketKeys(queries.select(col("query_id"),
      posexplode(bandSlices(col("sig"), p)).as(Seq("band", "band_key"))))
    val capped =
      if (maxCandidates <= 0)
        index.join(broadcast(qPost), joinKeys).select("query_id", "band", "id")
      else {
        // Per-query cap WITHOUT materializing candidates: each query hits
        // one bucket per band, so its per-band hit count is that bucket's
        // size. When the index has a DRIVER bucket-size table and the
        // batch is driver-collectable, the whole query side goes local:
        // collect the batch once, compute each query's band keys by
        // driver-evaluating the same Catalyst XxHash64 expressions
        // ([[queryKeysLocal]] — bit-identical to the index build), fold
        // its allowed band prefix with [[foldBands]], and inject the
        // allowed postings of present buckets as a broadcast LocalRelation
        // — the distributed stats-join and per-query fold aggregation
        // stages vanish from the plan. Otherwise: join the
        // 32-rows-per-query postings against the CACHED bucket-stats table
        // (never the full index), fold each query's sorted sizes into its
        // allowed band prefix in-plan ([[allowedBandPrefix]]), and probe
        // the index for allowed (query, band)s only. Both shapes never
        // generate over-cap candidate rows — the reference's early-exit
        // cost shape.
        val localQPost = driverSizes(statsOf).flatMap { sizes =>
          val batch = queries.select(col("query_id"), col("sig"))
          val collected = batch.limit(DriverBatchMaxQueries + 1).collect()
          if (collected.length > DriverBatchMaxQueries) None
          else Some {
            val rows = collected.flatMap { r =>
              foldBands(queryKeysLocal(r.getSeq[Long](1).toArray, p), maxCandidates)(
                t => sizes.size(t._2, t._3))
                .collect { case (b, k64, k64b) if sizes.size(k64, k64b) > 0 =>
                  org.apache.spark.sql.Row(r.get(0), b, k64, k64b)
                }
            }
            import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
            val schema = StructType(batch.schema.head.copy(name = "query_id") +:
              Seq("band" -> IntegerType, "key64" -> LongType, "key64b" -> LongType)
                .map { case (n, t) => StructField(n, t, nullable = false) })
            import scala.jdk.CollectionConverters._
            queries.sparkSession.createDataFrame(rows.toSeq.asJava, schema)
          }
        }
        val qPostAllowed = localQPost.getOrElse {
          val sized = bucketSizes(statsOf)
            .join(broadcast(qPost), joinKeys)
            .select("query_id", "band", "n")
          val allowed = allowedBandPrefix(sized, Seq("query_id"), maxCandidates)
          qPost.join(allowed, Seq("query_id", "band"))
        }
        index.join(broadcast(qPostAllowed), joinKeys)
          .select("query_id", "band", "id")
      }
    // Capped batches skip the distinct() exchange on candidate pairs:
    // band-duplicated rows are cap-bounded per query and the
    // id-deduplicating top-k aggregate absorbs them in its map-side
    // partial (per-(query,id) scores are identical — same signature pair —
    // so the result equals top-k over the distinct set). One shuffle
    // total: the O(queries x k) partial top-k buffers. UNCAPPED batches
    // keep the dedup — without the cap, skewed buckets multiply scored
    // rows by the band-duplication factor (up to 32x).
    val cand =
      if (maxCandidates <= 0) capped.select("query_id", "id").distinct()
      else capped.select("query_id", "id")
    val cs = sigs.select(col("doc_id").as("id"), col("sig").as("sig_c"))
    val qs = queries.select(col("query_id"), col("sig").as("sig_q"))
    val grouped = cand.join(cs, "id").join(broadcast(qs), "query_id")
      .withColumn("score",
        graft.functions.GraftFunctions.est_jaccard(col("sig_c"), col("sig_q")))
      .groupBy("query_id")
      .agg(top_k_by_score_distinct(col("score"), col("id"), k).as("topk"))
    grouped.select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "hit")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("hit.id").as("id"), col("hit.score").as("score"))
  }

  /** Batch probe against a disk-resident BUCKETED postings table (saved
    * via `QueryEngine.saveBucketed`) with bucket pruning: the BATCH's
    * distinct `key64` values (≤ |queries| × bands longs — one tiny
    * driver collect over the query side only, never the index) reach the
    * parquet scan as literal IN predicates, so Spark reads ONLY the
    * matching buckets' files. Candidate-generation I/O is then bounded
    * by the batch's bucket membership, not the index size — the
    * disk-resident form of the flat-probe-cost claim, and the batch twin
    * of [[querySignatureBucketed]]. Results are identical to
    * [[queryBatch]] over the full index (the filter only removes rows
    * the equi-join would drop). */
  def queryBatchBucketed(sigs: DataFrame, bucketedIndex: DataFrame,
                         queries: DataFrame, k: Int,
                         p: Params = Params(), maxCandidates: Int = 0): DataFrame = {
    // key collection is driver-bounded: bucket pruning needs the keys as
    // literals, so this path is for latency-class batches (the serving
    // shape). A batch above the bound should run queryBatch over the
    // cached/parquet index directly — at that size the scan amortizes
    // and an IN-list of hundreds of thousands of literals would choke
    // planning long before the driver ran out of memory.
    val maxKeys = DriverBatchMaxQueries * p.bands
    val keys = withBucketKeys(
      queries.select(posexplode(bandSlices(col("sig"), p)).as(Seq("band", "band_key"))))
      .select("key64").distinct().limit(maxKeys + 1)
      .collect().map(_.getLong(0)).toSeq
    require(keys.length <= maxKeys,
      s"queryBatchBucketed: batch exceeds $maxKeys distinct bucket keys; " +
        "use queryBatch over the cached index for scan-class batches")
    val pruned = bucketedIndex.filter(col("key64").isin(keys: _*))
    // stats keyed off the CALLER'S table handle: a serving loop holding
    // one handle pays the full-table stats build once, then every probe
    // folds its cap at cached-stats cost
    queryBatchImpl(sigs, pruned, queries, k, p, maxCandidates, bucketedIndex)
  }

  /** All-pairs near-duplicate candidates from the index: ids sharing at
    * least one band bucket, normalized to a < b. The band-level join is the
    * scale path (no cross join ever materializes). */
  def candidatePairs(index: DataFrame): DataFrame = {
    val l = index.select(col("band"), col("key64"), col("key64b"), col("id").as("a"))
    val r = index.select(col("band"), col("key64"), col("key64b"), col("id").as("b"))
    l.join(r, joinKeys)
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Similarity self-join: candidate pairs scored with estimated Jaccard and
    * thresholded — the engine's `similarity_join` (SURVEY §7.1 step 4). */
  def similaritySelfJoin(sigs: DataFrame, idCol: String, sigCol: String,
                         threshold: Double, p: Params = Params()): DataFrame = {
    val idx = postings(sigs, idCol, sigCol, p)
    val pairs = candidatePairs(idx)
    val sa = sigs.select(col(idCol).cast("long").as("a"), col(sigCol).as("sig_a"))
    val sb = sigs.select(col(idCol).cast("long").as("b"), col(sigCol).as("sig_b"))
    pairs.join(sa, "a").join(sb, "b")
      .withColumn("score", graft.functions.GraftFunctions.est_jaccard(col("sig_a"), col("sig_b")))
      .filter(col("score") >= threshold)
      .select("a", "b", "score")
  }

  /** General two-sided similarity join: (a from left, b from right, score)
    * for pairs sharing at least one LSH band bucket with estimated Jaccard
    * >= threshold. Both sides are banded; candidates come from the
    * band-bucket equi-join (never a cross join). */
  def similarityJoin(leftSigs: DataFrame, rightSigs: DataFrame,
                     idCol: String, sigCol: String,
                     threshold: Double, p: Params = Params()): DataFrame = {
    val li = postings(leftSigs, idCol, sigCol, p)
      .select(col("band"), col("key64"), col("key64b"), col("id").as("a"))
    val ri = postings(rightSigs, idCol, sigCol, p)
      .select(col("band"), col("key64"), col("key64b"), col("id").as("b"))
    val pairs = li.join(ri, joinKeys).select("a", "b").distinct()
    val sa = leftSigs.select(col(idCol).cast("long").as("a"), col(sigCol).as("sig_a"))
    val sb = rightSigs.select(col(idCol).cast("long").as("b"), col(sigCol).as("sig_b"))
    pairs.join(sa, "a").join(sb, "b")
      .withColumn("score", graft.functions.GraftFunctions.est_jaccard(col("sig_a"), col("sig_b")))
      .filter(col("score") >= threshold)
      .select("a", "b", "score")
  }
}
