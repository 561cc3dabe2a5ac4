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

  /** Per-bucket posting counts `(band, key64, key64b, n)` for an index —
    * the index-build-time stats table every capped probe consults to pick
    * its band prefix WITHOUT materializing a single candidate row (the
    * Spark analog of the reference's early exit: it stops reading buckets
    * once max_candidates accumulate — minhash_lsh.py:95-96). Cached per
    * index DataFrame instance (identity): both long-lived index holders
    * (QueryEngine, SparkEntry's postings cache) reuse one stats build.
    * Bounded LRU (8 indices) — evicted and stopped-session entries are
    * unpersisted, so a long-lived service that periodically rebuilds its
    * index does not accumulate cached stats tables. */
  private val sizeCacheMax = 8
  private val sizeCache =
    new java.util.LinkedHashMap[DataFrame, DataFrame](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[DataFrame, DataFrame]): Boolean =
        if (size() > sizeCacheMax) {
          if (!e.getKey.sparkSession.sparkContext.isStopped)
            e.getValue.unpersist(blocking = false)
          true
        } else false
    }
  def bucketSizes(index: DataFrame): DataFrame = sizeCache.synchronized {
    val it = sizeCache.entrySet().iterator()
    while (it.hasNext) if (it.next().getKey.sparkSession.sparkContext.isStopped) it.remove()
    val hit = sizeCache.get(index)
    if (hit != null) hit
    else {
      val built = index.groupBy("band", "key64", "key64b").agg(count(lit(1)).as("n")).cache()
      sizeCache.put(index, built)
      built
    }
  }

  /** DRIVER-resident bucket stats for small-enough indexes: the
    * (band, key64, key64b) -> n map a capped single probe folds its band
    * prefix from with ZERO Spark jobs — the exact analog of the
    * reference's in-process dict lookups + early exit (minhash_lsh.py:
    * 76-96, where the whole index is driver-local anyway). Collected ONCE
    * per index at warm-up time ([[warmDriverStats]], called by
    * `QueryEngine.warmUp`); probes never trigger the collect. Indexes
    * whose stats exceed [[DriverStatsMaxEntries]] keep the distributed
    * join path — a driver map stops being scale-safe there (at 100 TB the
    * stats table itself is distributed). The same bound gates the
    * postings of the full serving replica ([[warmDriverIndex]]).
    *
    * Sizing note: the stats map is a boxed-tuple Scala Map at ~200-300
    * bytes/entry, so a full 2^20-entry map is ~200-300 MB of driver heap.
    * The replica's bucket table is open-addressed with two to four slots
    * per posting, each two key longs, a flag and a reference (~21
    * bytes), plus 4 bytes per posting in the member arrays and a 16-byte
    * header per bucket, so 2^20 postings cost at most ~65 MB. The 8-slot
    * LRU bounds the worst case at ~4 GB of stats maps plus replicas,
    * signatures included — a serving driver should be sized for that,
    * or this constant lowered. */
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
  private val statsMapCache =
    new java.util.LinkedHashMap[DataFrame, Map[(Int, Long, Long), Long]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[DataFrame, Map[(Int, Long, Long), Long]]): Boolean =
        size() > sizeCacheMax
    }

  /** Collect the index's bucket stats into the driver map if it is small
    * enough (one count + one collect over the CACHED stats table — warm-up
    * cost, not probe cost). Returns whether the driver map is available. */
  def warmDriverStats(index: DataFrame): Boolean = {
    val already = statsMapCache.synchronized {
      val it = statsMapCache.entrySet().iterator()
      while (it.hasNext) if (it.next().getKey.sparkSession.sparkContext.isStopped) it.remove()
      statsMapCache.containsKey(index)
    }
    if (already) true
    else {
      val stats = bucketSizes(index)
      if (stats.count() > DriverStatsMaxEntries) false
      else {
        val m = stats.collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
          .toMap
        statsMapCache.synchronized(statsMapCache.put(index, m))
        true
      }
    }
  }

  private def driverStats(index: DataFrame): Option[Map[(Int, Long, Long), Long]] =
    statsMapCache.synchronized(Option(statsMapCache.get(index)))

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
    * array at `position * width`, and an open-addressed (key64, key64b)
    * table whose buckets hold their members' positions ascending. */
  final class DriverIndex private[Lsh] (
      private[Lsh] val ids: Array[Long],
      private[Lsh] val width: Int,
      private[Lsh] val sigs: Array[Long],
      // positions of referenced ids with no signature row (never scored)
      private[Lsh] val unsigned: java.util.BitSet,
      private[Lsh] val table: Slots,
      // table slot -> the bucket's member positions, ascending
      private[Lsh] val members: Array[Array[Int]]) {
    private[Lsh] def bucket(key: Long, keyB: Long): Array[Int] = {
      val s = table.find(key, keyB)
      if (s < 0) null else members(s)
    }
  }

  /** Open-addressed (key64, key64b) slots for up to `n` keys at 25-50%
    * load, probed linearly from key64's folded low bits (key64 is already
    * an xxhash, so they spread evenly). */
  private[Lsh] final class Slots(n: Int) {
    val mask: Int = (Integer.highestOneBit(math.max(1, 2 * n - 1)) << 1) - 1
    val keys = new Array[Long](2 * (mask + 1))
    private val used = new Array[Boolean](mask + 1)

    private def probe(key: Long, keyB: Long): Int = {
      var s = (key ^ (key >>> 32)).toInt & mask
      while (used(s) && (keys(2 * s) != key || keys(2 * s + 1) != keyB)) s = (s + 1) & mask
      s
    }

    /** The slot (key, keyB) occupies, or -1. */
    def find(key: Long, keyB: Long): Int = {
      val s = probe(key, keyB)
      if (used(s)) s else -1
    }

    /** The slot of (key, keyB), claimed if absent. */
    def slot(key: Long, keyB: Long): Int = {
      val s = probe(key, keyB)
      if (!used(s)) { used(s) = true; keys(2 * s) = key; keys(2 * s + 1) = keyB }
      s
    }
  }

  private val driverIndexCache =
    new java.util.LinkedHashMap[DataFrame, DriverIndex](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[DataFrame, DriverIndex]): Boolean =
        size() > sizeCacheMax
    }

  /** Build the driver serving replica if the index is small enough (one
    * collect over the cached postings + one over the cached signatures —
    * warm-up cost). Returns whether the replica is available. A
    * signature table of mixed widths (or with a null signature) declines
    * the replica, so its probes go to the probe-cache tier instead. */
  def warmDriverIndex(sigs: DataFrame, index: DataFrame): Boolean = {
    val already = driverIndexCache.synchronized {
      val it = driverIndexCache.entrySet().iterator()
      while (it.hasNext) if (it.next().getKey.sparkSession.sparkContext.isStopped) it.remove()
      driverIndexCache.containsKey(index)
    }
    if (already) true
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
          val di = new DriverIndex(ids, width, flat, unsigned, table, members)
          driverIndexCache.synchronized(driverIndexCache.put(index, di))
          true
        }
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
    val slotOfPosting = postRows.map(r => table.slot(r.getLong(0), r.getLong(1)))
    val count = new Array[Int](table.mask + 1)
    slotOfPosting.foreach(s => count(s) += 1)
    val members = count.map(c => if (c == 0) null else new Array[Int](c))
    java.util.Arrays.fill(count, 0)
    var i = 0
    while (i < postRows.length) {
      val s = slotOfPosting(i)
      members(s)(count(s)) = java.util.Arrays.binarySearch(ids, postRows(i).getLong(2))
      count(s) += 1
      i += 1
    }
    members.foreach(m => if (m != null) java.util.Arrays.sort(m))
    (table, members)
  }

  def driverIndexFor(index: DataFrame): Option[DriverIndex] =
    driverIndexCache.synchronized(Option(driverIndexCache.get(index)))

  /** Test visibility: is a WARMED driver artifact (stats map or full
    * serving replica — the unbounded-per-index ones) still resident for
    * `index`? Pins the supersede-evict and close() contracts
    * (InvarianceSpec). Probe-cache entries are deliberately excluded:
    * any capped probe against an un-warmed index re-creates one, and
    * they are residency-bounded by construction. */
  private[graft] def hasDriverState(index: DataFrame): Boolean =
    statsMapCache.synchronized(statsMapCache.containsKey(index)) ||
      driverIndexCache.synchronized(driverIndexCache.containsKey(index))

  /** Release every driver-side artifact held for `index` (stats map,
    * serving replica, cached stats table) — called by
    * `QueryEngine.close()` so a closed engine's tens-of-MB replica does
    * not stay pinned on the driver until LRU eviction. */
  def evictDriverState(index: DataFrame): Unit = {
    statsMapCache.synchronized(statsMapCache.remove(index))
    driverIndexCache.synchronized(driverIndexCache.remove(index))
    probeCaches.synchronized(probeCaches.remove(index))
    sizeCache.synchronized {
      val cached = sizeCache.remove(index)
      if (cached != null && !index.sparkSession.sparkContext.isStopped)
        cached.unpersist(blocking = false)
    }
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
    foldBands(qpRows, maxCandidates) { (key, keyB) =>
      val ps = di.bucket(key, keyB)
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

  /** The capped band-prefix fold both driver tiers share: visit the
    * query's buckets in band order until `maxCandidates` members
    * accumulate (inclusive of the crossing bucket — the same takeWhile
    * the distributed plan folds; `maxCandidates <= 0` visits every band).
    * `visit` takes a bucket's (key64, key64b) and returns its member
    * count, 0 when the bucket is absent. */
  private def foldBands(qpRows: Array[(Int, Long, Long)], maxCandidates: Int)(
      visit: (Long, Long) => Int): Unit = {
    val byBand = qpRows.sortBy(_._1)
    var before = 0L
    var i = 0
    while (i < byBand.length && (maxCandidates <= 0 || before < maxCandidates)) {
      before += visit(byBand(i)._2, byBand(i)._3)
      i += 1
    }
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

  private val probeCaches =
    new java.util.LinkedHashMap[DataFrame, ProbeCache](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[DataFrame, ProbeCache]): Boolean =
        size() > sizeCacheMax
    }

  private def probeCacheFor(index: DataFrame): ProbeCache = probeCaches.synchronized {
    val it = probeCaches.entrySet().iterator()
    while (it.hasNext) if (it.next().getKey.sparkSession.sparkContext.isStopped) it.remove()
    var pc = probeCaches.get(index)
    if (pc == null) { pc = new ProbeCache; probeCaches.put(index, pc) }
    pc
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
    val pc = probeCacheFor(index)
    // Bound the FETCH to the cap's band prefix when the driver stats map
    // is warm (round 11): the fold below only ever consumes the smallest
    // band prefix whose cumulative bucket sizes reach the cap — typically
    // one or two bands on a skewed corpus — yet the miss fetch used to
    // pull all 32 buckets. At 4M docs that untrimmed fetch (up to
    // 32 x maxBucketSize postings per probe) both paid a wider fetch job
    // and THRASHED the bounded cache: 20 rotating probes exceeded
    // ProbeCacheMaxPostings, every repeat became a miss, and "hot" serving
    // read 87-298 ms vs 4-6 ms at <=1M. The trim computes the same prefix
    // the fold will take (identical cumulative rule over identical sizes —
    // the stats are grouped from this exact capped index), so results are
    // bit-identical while the per-probe footprint shrinks ~16x. When the
    // driver map is refused (bucket count above DriverStatsMaxEntries),
    // the sizes come from one tiny lookup against the cached stats table
    // instead — the trim holds at ANY index size.
    // PHASE 1 (monitor): snapshot the resident buckets for THIS probe
    // over the UNTRIMMED band-sorted rows (array refs only — the snapshot
    // makes the fold immune to a racing probe's eviction) and note what
    // is missing. Residency comes FIRST so a fully resident hot probe
    // runs ZERO Spark jobs even when the driver stats map is refused
    // (>DriverStatsMaxEntries buckets, e.g. 16M docs): the fold below
    // enforces the exact same cumulative band-prefix cap with the
    // resident arrays' own lengths (== the stats' n, grouped from this
    // exact capped index), so skipping the trim on the hot path is
    // bit-identical. The trim matters only for the FETCH, so it — and the
    // stats lookup it may need — is computed only when something is
    // missing. The monitor is never held across a Spark job: a cold miss
    // costs a ~0.27 s cluster fetch, and holding the lock through it
    // serialized every concurrent probe against the same index behind one
    // cold key.
    val sorted = qpRows.sortBy(_._1)
    val resident = new java.util.HashMap[(Int, Long, Long), Array[Long]]()
    pc.synchronized {
      sorted.foreach { t =>
        val ids = pc.buckets.get(t) // get also marks LRU recency
        if (ids != null) resident.put(t, ids)
      }
    }
    // EFFECTIVE misses: only rows the fold can actually reach. Walking
    // the band order with the fold's own stopping rule, a missing row
    // AFTER the resident prefix already reaches the cap can never be
    // consulted — so a hot repeat whose trim-prefix buckets are resident
    // is recognized as fully covered WITHOUT knowing the other buckets'
    // sizes (a previous cold probe only ever fetched the prefix, so the
    // naive "is every band row resident" test made every hot repeat look
    // like a miss and pay the sizes-lookup job — 98 ms hot probes at 16M
    // lean serving instead of in-process).
    val missingAll = {
      val b = Array.newBuilder[(Int, Long, Long)]
      var before = 0L
      var i = 0
      while (i < sorted.length && before < maxCandidates) {
        val ids = resident.get(sorted(i))
        if (ids == null) b += sorted(i) else before += ids.length
        i += 1
      }
      b.result()
    }
    // Trim the rows the FETCH will consider to the cap's band prefix
    // (round 11): the fold only ever consumes the smallest band prefix
    // whose cumulative bucket sizes reach the cap — typically one or two
    // bands on a skewed corpus — yet the miss fetch used to pull all 32
    // buckets. At 4M docs that untrimmed fetch (up to 32 x maxBucketSize
    // postings per probe) both paid a wider fetch job and THRASHED the
    // bounded cache: 20 rotating probes exceeded ProbeCacheMaxPostings,
    // every repeat became a miss, and "hot" serving read 87-298 ms vs
    // 4-6 ms at <=1M. The trim computes the same prefix the fold will
    // take (identical cumulative rule over identical sizes), so results
    // are bit-identical while the per-probe footprint shrinks ~16x. When
    // the driver map is refused the sizes come from one small lookup
    // against the cached stats table instead (key64-pruned; paid only by
    // probes that actually miss) — the trim holds at ANY index size.
    val probeRows: Array[(Int, Long, Long)] =
      if (missingAll.isEmpty) sorted
      else {
        val sizesOf: ((Int, Long, Long)) => Long = driverStats(index) match {
          case Some(m) => m.getOrElse(_, 0L)
          case None =>
            // stats refused AND this probe misses: recover its <=32 sizes
            // with one small job. With a bucketed serving table wired
            // (the lean/disk tier) the counts come from a BUCKET-PRUNED
            // scan of that table — no whole-index stats DF ever needs to
            // exist or be cached, which is what keeps the lean-serving
            // heap flat at 16M+ docs; otherwise from the cached stats
            // table (one-time groupBy over the cached index).
            val m = (fetchFrom match {
              case Some(src) =>
                src.filter(col("key64").isin(qpRows.map(_._2).distinct.toSeq: _*))
                  .groupBy("band", "key64", "key64b").agg(count(lit(1)).as("n"))
              case None =>
                bucketSizes(index)
                  .filter(col("key64").isin(qpRows.map(_._2).distinct.toSeq: _*))
            }).select("band", "key64", "key64b", "n").collect()
              .map(r => ((r.getInt(0), r.getLong(1), r.getLong(2)), r.getLong(3)))
              .toMap
            m.getOrElse(_, 0L)
        }
        var before = 0L
        sorted.takeWhile { t =>
          val ok = before < maxCandidates
          before += sizesOf(t)
          ok
        }
      }
    val missing = {
      val keep = probeRows.toSet
      missingAll.filter(keep.contains)
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
    val fetched = new java.util.HashMap[(Int, Long, Long), Array[Long]]()
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
        fetched.put(t, rows.get(t).map(_.map(_._2).sorted).getOrElse(Array.empty[Long]))
      }
      // PHASE 3 (monitor): publish the fetch (skip triples a racing probe
      // already published — same data, and skipping keeps the residency
      // accounting exact), then evict least-recently-probed buckets past
      // the bound (the just-inserted entries are most recent).
      pc.synchronized {
        missing.foreach { t =>
          if (!pc.buckets.containsKey(t)) {
            val ids = fetched.get(t)
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
    // fold over THIS probe's snapshot (resident ++ fetched — never the
    // shared map, which a racing probe may be evicting): a <=32-entry
    // lookup map bridges the (key64, key64b) fold signature to the
    // full-triple keys
    val byTriple = new java.util.HashMap[(Long, Long), Array[Long]]()
    probeRows.foreach { t =>
      val ids = { val r = resident.get(t); if (r != null) r else fetched.get(t) }
      byTriple.put((t._2, t._3), ids)
    }
    val cands = {
      val found = new scala.collection.mutable.ArrayBuilder.ofLong
      foldBands(probeRows, maxCandidates) { (key, keyB) =>
        val ids = byTriple.get((key, keyB))
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
    * NOTE: a capped call runs one tiny Spark job EAGERLY (the <=32-row
    * bucket-stats lookup that picks the band prefix) — the probe analog of
    * the reference's per-bucket dict lookups + early exit
    * (minhash_lsh.py:76-96), and the same eager shape as
    * `querySignatureBucketed`'s key collect. Everything else stays lazy. */
  def querySignature(sigs: DataFrame, index: DataFrame, querySig: Array[Long], k: Int,
                     p: Params = Params(), maxCandidates: Int = 0): DataFrame = {
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
      // band, so its per-band hit counts are the <=32 stats rows matching
      // its keys. When the index warmed its DRIVER stats map, those counts
      // are pure map lookups over the jobless LocalRelation collect of the
      // query's keys — the probe runs ZERO stats jobs, exactly the
      // reference's in-process dict lookups + early exit. Larger indexes
      // fall back to one tiny join against the CACHED stats table (the
      // probe side is a jobless LocalRelation broadcast; constant plan
      // shape, no codegen churn). Either way the allowed band prefix is
      // folded ON THE DRIVER — 32 additions — and the probe plan needs
      // just two jobs: build the candidate broadcast, and the scoring
      // scan whose top-k aggregate carries the vector preview as a
      // payload (no re-join, no final sort).
      val qp = queryPostings(spark, querySig, p)
      val sized = driverStats(index) match {
        case Some(m) =>
          qp.select("band", "key64", "key64b").collect()
            .flatMap { r =>
              m.get((r.getInt(0), r.getLong(1), r.getLong(2))).map(r.getInt(0) -> _)
            }.sortBy(_._1)
        case None =>
          bucketSizes(index).join(broadcast(qp), joinKeys)
            .select("band", "n").collect()
            .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      }
      var before = 0L
      val allowedBands = sized.takeWhile { case (_, n) =>
        val ok = before < maxCandidates; before += n; ok
      }.map(_._1).toSet
      val rows = (0 until p.bands).filter(allowedBands).map { b =>
        (b, querySig.slice(b * p.rows, (b + 1) * p.rows).toSeq)
      }
      val qpAllowed = withBucketKeys(rows.toDF("band", "band_key"))
      // band-duplicated candidate rows are cap-bounded and the
      // id-deduplicating top-k aggregate absorbs them (per-id scores are
      // identical — same signature pair), so no distinct() exchange.
      val cand = index.join(broadcast(qpAllowed), joinKeys).select("id")
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
    val spark = sigs.sparkSession
    val qp = queryPostings(spark, querySig, p)
    // 32 keys from a 32-row local relation — a driver-local collect, not
    // a cluster job; they must be LITERALS for bucket pruning to engage
    val keys = qp.select("key64").collect().map(_.getLong(0)).toSeq
    val pruned = bucketedIndex.filter(col("key64").isin(keys: _*))
    querySignature(sigs, pruned, querySig, k, p, maxCandidates)
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
    queryBatchImpl(sigs, index, queries, k, p, maxCandidates, None)

  /** `statsOverride`: bucket stats for a one-off index view (the bucketed
    * pruned scan) — bypasses [[bucketSizes]]' identity-keyed cache, which
    * a fresh DataFrame per call would churn (each miss builds and caches
    * a stats table and evicts a live index's). */
  private def queryBatchImpl(sigs: DataFrame, index: DataFrame, queries: DataFrame,
                             k: Int, p: Params, maxCandidates: Int,
                             statsOverride: Option[DataFrame]): DataFrame = {
    import graft.functions.TopKByScore.top_k_by_score_distinct
    val qPost = withBucketKeys(queries.select(col("query_id"),
      posexplode(bandSlices(col("sig"), p)).as(Seq("band", "band_key"))))
    val capped =
      if (maxCandidates <= 0)
        index.join(broadcast(qPost), joinKeys).select("query_id", "band", "id")
      else {
        // Per-query cap WITHOUT materializing candidates: each query hits
        // one bucket per band, so its per-band hit count is that bucket's
        // size. When the index warmed its DRIVER stats map and the batch
        // is driver-collectable, the whole query side goes local: collect
        // the batch once, compute each query's band keys by driver-
        // evaluating the same Catalyst XxHash64 expressions
        // ([[queryKeysLocal]] — bit-identical to the index build), fold
        // its allowed band prefix against the stats map (the same
        // takeWhile as the distributed fold: missing buckets contribute
        // nothing either way), and inject the allowed postings as a
        // broadcast LocalRelation — the distributed stats-join and
        // per-query fold aggregation stages vanish from the plan.
        // Otherwise: join the 32-rows-per-query postings against the
        // CACHED bucket-stats table (never the full index), fold each
        // query's sorted sizes into its allowed band prefix in-plan, and
        // probe the index for allowed (query, band)s only. Both shapes
        // never generate over-cap candidate rows — the reference's
        // early-exit cost shape.
        val localQPost = driverStats(index).flatMap { m =>
          val collected = queries.select(col("query_id"), col("sig"))
            .limit(DriverBatchMaxQueries + 1).collect()
          if (collected.length > DriverBatchMaxQueries) None
          else Some {
            val rows = collected.flatMap { r =>
              val keys = queryKeysLocal(r.getSeq[Long](1).toArray, p)
              var before = 0L
              val out = scala.collection.mutable.ArrayBuffer
                .empty[org.apache.spark.sql.Row]
              var i = 0
              while (i < keys.length && before < maxCandidates) {
                val (b, k64, k64b) = keys(i)
                m.get((b, k64, k64b)).foreach { n =>
                  out += org.apache.spark.sql.Row(r.get(0), b, k64, k64b)
                  before += n
                }
                i += 1
              }
              out
            }
            import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
            val schema = StructType(Seq(
              queries.schema.find(_.name == "query_id")
                .getOrElse(StructField("query_id", LongType)).copy(name = "query_id"),
              StructField("band", IntegerType, nullable = false),
              StructField("key64", LongType, nullable = false),
              StructField("key64b", LongType, nullable = false)))
            import scala.jdk.CollectionConverters._
            queries.sparkSession.createDataFrame(rows.toSeq.asJava, schema)
          }
        }
        val qPostAllowed = localQPost.getOrElse {
          val sized = statsOverride.getOrElse(bucketSizes(index))
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
    // stats keyed off the CALLER'S table handle (identity-cached): a
    // serving loop holding one handle pays the full-table stats build
    // once, then every probe folds its cap at cached-stats cost. The
    // per-call pruned view cannot be identity-cached, and its counts
    // restricted by the probe join are identical to the full table's.
    queryBatchImpl(sigs, pruned, queries, k, p, maxCandidates,
      Some(bucketSizes(bucketedIndex)))
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
