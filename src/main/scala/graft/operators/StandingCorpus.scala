package graft.operators

import graft.api.QueryEngine
import graft.core.{Kernels, Lsh, Shingling}
import graft.functions.GraftFunctions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Disk-resident STANDING-CORPUS dedup artifacts with partition-pruned
  * trickle probes and append-under-cap ingest — the piece that makes
  * incremental dedup (d16) and its streaming form (s14) actually
  * incremental at a 100 TB standing corpus.
  *
  * The one-shot [[Dedup.incrementalStatusIndexed]] is the right BULK
  * shape (one scan of the standing artifacts per large increment), but a
  * trickle ingest — a few hundred docs per micro-batch against a
  * 16M+ doc corpus — must not pay a corpus-sized scan per batch. Here
  * the three standing tables are laid out as hash-partitioned parquet
  * (`_pb = hash(key) mod P`, P sized so partitions stay ~fixed-row),
  * each described once as a [[StandingCorpus.Table]]:
  *
  *  - `hashes/`   (_h)                   partitioned by md5-prefix mod P
  *  - `sigs/`     (doc_id, sig)          partitioned by xxhash64(doc_id) mod P
  *  - `index/`    (id, band, key64, key64b) partitioned by key64 mod P
  *
  * Every probe of a table goes through ONE pruned read of it (`pruned`):
  * the probe's own keys give the `_pb` set and only those partitions are
  * read; past the table's partition ceiling the keys are also pushed to
  * parquet as an In filter (see [[StandingCorpus.HashRowsPerPart]]). The
  * base tables are read through a child session of the owner's, made
  * once per corpus with `spark.sql.parquet.pushdown.inFilterThreshold`
  * raised: a parquet scan takes that threshold from its own relation's
  * session, so the raised value follows the standing scans into any
  * query that reads them and reaches no other query of the owner.
  * Per-batch I/O is therefore bounded by (batch keys) x (rows per
  * partition) — independent of the standing corpus size once P exceeds
  * the batch's key count — instead of a full scan that grows linearly
  * with the corpus (measured 6/26/104 s per increment at 1M/4M/16M for
  * the scan form). Batches larger than `trickleMaxDocs` fall back to
  * the bulk scan path, which is cheaper per-doc at that size; both paths
  * return IDENTICAL verdicts (pruning only removes rows that cannot
  * join; StandingCorpusSpec pins equality).
  *
  * Ingest is APPEND-UNDER-CAP, the production discipline SURVEY §2.2
  * names (and [[graft.api.QueryEngine.addDocuments]] applies): a new
  * doc's postings are admitted only while their bucket holds fewer than
  * `maxBucketSize` standing entries — the standing index is never
  * re-capped. With monotonically increasing doc ids (arrival order =
  * id order, the contract of every gate fixture) this is bit-identical
  * to re-resolving keep-smallest-ids over the grown corpus, because a
  * bucket's cap-smallest ids are exactly its earliest arrivals; with
  * out-of-order ids an over-cap bucket may keep arrival-order instead
  * of id-order members (the documented production trade).
  *
  * Appends land in bounded in-memory DELTAS (per-batch localCheckpoints
  * — O(batch) each, never a re-copy of the standing state); probes union
  * base + deltas; when `compactEveryBatches` deltas accumulate, they are
  * folded into a new base VERSION on disk (LSM-style major compaction,
  * amortized O(corpus / compactEveryBatches) per batch).
  *
  * Signature family: md5-hashed word k-shingles (K=3 by default), the
  * oracle-replayable family every dedup gate uses.
  *
  * STANDING REPLICA. Below the gates the query replica uses
  * ([[Lsh.warmDriverIndex]]: at most `Lsh.DriverReplicaMaxDocs` (2^17)
  * base docs and `Lsh.DriverStatsMaxEntries` (2^20) postings, bounded by
  * nDocs x bands), the base tables also live on the driver, in the same
  * [[Lsh.DriverIndex]] that holds the absorbed deltas (and serves the
  * `/query` replica) — the reference's in-memory tables
  * (worker_tasks.py:79-117). A trickle batch is then signed on the
  * driver and answered from that one index of base ∪ deltas: classify,
  * classifyShared, absorb and classifyAbsorb over a driver-local
  * (LocalRelation) batch run ZERO Spark jobs. The gate is evaluated on
  * the base at build, open, compaction swap and compact; delta growth
  * between those points is bounded by compactEveryBatches x
  * trickleMaxDocs. Driver-heap cost of the flat layout: per doc its
  * 128-long signature (1 KiB) plus ~40 bytes of doc table and row
  * links; per posting a 4-byte member position, plus ~50-70 bytes per
  * bucket (key pair, slot, size, member count, member-array header),
  * so ~55-75 bytes per posting when most buckets hold one doc; per md5
  * 24-32 bytes (two longs and a slot). At the gate that is ~134 MB of
  * signatures at 2^17 docs plus at most ~75 MB of buckets at 2^20
  * postings. Above the gates the base stays on disk and the trickle fold
  * reads it through the pruned reads described above.
  *
  * Not thread-safe; call from a single ingest loop (Structured Streaming
  * serializes micro-batches per query).
  */
object StandingCorpus {

  /** Standing-table metadata persisted beside the versioned data dirs. */
  final case class Meta(version: Int, nDocs: Long, pHash: Int, pSig: Int,
                        pIdx: Int, kShingle: Int, byWord: Boolean,
                        bands: Int, numPerm: Int, maxBucketSize: Int,
                        threshold: Double) {
    def lsh: Lsh.Params = Lsh.Params(bands, numPerm, maxBucketSize)
  }

  /** Rows-per-partition targets: partitions stay small enough that a
    * trickle probe's touched-partition I/O is bounded by the BATCH's key
    * count (a 128-doc batch emits 4096 band keys; with 8192 postings per
    * partition the index probe reads ≤ 4096 x 8192 rows no matter how
    * large the standing corpus grows), and few enough that directory
    * listing stays sane (≤ MaxParts dirs per table).
    *
    * ABOVE MaxParts x perPart rows, a SECOND pruning level takes over
    * (round-14; previously the probe cost degraded linearly past the
    * partition ceiling — exactly at the measured 16M-doc scale): every
    * partition file is written SORTED on its probe key with small
    * parquet row groups ([[RowGroupBytes]]), and each probe pushes its
    * collected key set down as an In filter, so parquet row-group
    * min/max pruning bounds the rows read inside a fat partition by
    * (batch keys x rows-per-row-group) — corpus-independent again
    * (verified empirically: a 4096-key probe over sorted 1MB row groups
    * reads only the matching groups; StandingCorpusSpec pins bytes
    * read). Signature partitions are row-few because sig rows are fat
    * (128 longs each). */
  private[operators] val HashRowsPerPart = 8192L
  private[operators] val SigRowsPerPart = 512L
  private[operators] val IdxRowsPerPart = 8192L
  private val MinParts = 16
  private val MaxParts = 65536

  /** Parquet row-group size for the standing tables: small groups are
    * what makes row-group min/max pruning the sub-partition pruning
    * level once partitions grow past their row target (a fat partition
    * file splits into rows x ~15 B / 64 KiB groups; a probe key lands in
    * ~one group, so per-file I/O stays ~RowGroupBytes no matter how fat
    * the file gets). The bulk-scan penalty of more groups is footer
    * metadata only. */
  private val RowGroupBytes = 65536L

  /** Probe-key sets larger than this are not pushed as In filters
    * (partition pruning still applies) — bounds both the driver collect
    * and the per-row-group predicate evaluation cost. It is also the
    * parquet In threshold of the session the base tables are read in. */
  private[graft] val MaxPushedKeys = 32768

  /** One standing table, as its writer and every pruned read of it see
    * it: its dir `name`, its columns, its probe `key` column, its
    * partition bucket `_pb` over `p` partitions in Column form (the
    * writer; a Spark-side partition set) beside its driver form (the
    * partition set of driver-held keys), its rows-per-partition target,
    * and its partition count and row count under a [[Meta]]. */
  private[graft] final class Table[K](
      val name: String, val key: String, val cols: Seq[String],
      val pb: (org.apache.spark.sql.Column, Int) => org.apache.spark.sql.Column,
      val pbLocal: (K, Int) => Int, perPart: Long, val parts: Meta => Int, rows: Meta => Long) {
    private def over(p: Int, m: Meta): Boolean = p.toLong * perPart < rows(m)
    /** The fewest partitions (a power of two in [MinParts, MaxParts])
      * that keep `m`'s rows within the row target. */
    def partsFor(m: Meta): Int = {
      var p = MinParts
      while (p < MaxParts && over(p, m)) p *= 2
      p
    }
    /** Past the partition ceiling: MaxParts reached and the partitions
      * over their row target, so rows are written in small row groups
      * and probes push their keys. */
    def fat(m: Meta): Boolean = over(parts(m), m)
  }

  private[graft] val Hashes = new Table[String]("hashes", "_h", Seq("_h"),
    pbHash, pbHashLocal, HashRowsPerPart, _.pHash, _.nDocs)
  private[graft] val Sigs = new Table[Long]("sigs", "doc_id", Seq("doc_id", "sig"),
    pbSig, pbSigLocal, SigRowsPerPart, _.pSig, _.nDocs)
  private[graft] val Index = new Table[Long]("index", "key64", Seq("id", "band", "key64", "key64b"),
    pbIdx, pbIdxLocal, IdxRowsPerPart, _.pIdx, m => m.nDocs * m.bands)
  private val Tables: Seq[Table[_]] = Seq(Hashes, Sigs, Index)

  /** `m` with each table's partition count sized to its rows. */
  private def sized(m: Meta): Meta =
    m.copy(pHash = Hashes.partsFor(m), pSig = Sigs.partsFor(m), pIdx = Index.partsFor(m))

  /** The partition bucket of each standing table over `p` partitions —
    * hashes on the md5 hex `_h`, sigs on `doc_id`, the index on `key64` —
    * in its Column form beside its driver form. Build and probe MUST
    * agree, so each is defined here once and bound to its [[Table]];
    * StandingCorpusSpec pins each driver form equal to its Column form
    * and each written table's `_pb` column equal to its table's. */
  private[graft] def pbHash(h: org.apache.spark.sql.Column, p: Int) =
    pmod(conv(substring(h, 1, 15), 16, 10).cast("long"), lit(p.toLong)).cast("int")
  /** 15 hex chars < 2^60, so the unsigned conv() parse is an exact
    * parseLong. */
  private[graft] def pbHashLocal(h: String, p: Int): Int =
    Math.floorMod(java.lang.Long.parseLong(h.substring(0, 15), 16), p.toLong).toInt
  private[graft] def pbSig(id: org.apache.spark.sql.Column, p: Int) =
    pmod(xxhash64(id), lit(p.toLong)).cast("int")
  /** xxhash64 of a long through the XXH64 kernel Catalyst's codegen calls. */
  private[graft] def pbSigLocal(id: Long, p: Int): Int = Math.floorMod(
    org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(id, 42L), p.toLong).toInt
  private[graft] def pbIdx(key64: org.apache.spark.sql.Column, p: Int) =
    pmod(key64, lit(p.toLong)).cast("int")
  private[graft] def pbIdxLocal(key64: Long, p: Int): Int = Math.floorMod(key64, p.toLong).toInt

  /** Sign (id, text) rows with the md5 shingle family. */
  def sign(docs: DataFrame, meta: Meta, idCol: String = "doc_id",
           textCol: String = "text"): DataFrame =
    docs.select(col(idCol).cast("long").as(idCol),
      minhash_signature(shingle_hashes_md5(
        Shingling.shingles(col(textCol), meta.kShingle, byWord = meta.byWord))).as("sig"))

  /** Driver twin of [[sign]] plus the md5 hex of one text: the same
    * [[Kernels]] calls the Catalyst expressions wrap (Shingling's null
    * guard — a null text is the empty shingle set, hence the all-sentinel
    * signature — then word/char k-grams, md5-mod-p shingle hashes and the
    * clean MinHash family), and the hex through DigestUtils.md5Hex over
    * the same bytes, as Spark's `Md5` does. `utf8` is the text's UTF-8
    * bytes as Spark holds them; null = null text (null md5). */
  private[graft] def signLocal(utf8: Array[Byte], kShingle: Int,
                               byWord: Boolean): (String, Array[Long]) = {
    import org.apache.spark.unsafe.types.UTF8String
    val shingles =
      if (utf8 == null) new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
      else if (byWord) Kernels.wordShingles(UTF8String.fromBytes(utf8), kShingle)
      else Kernels.charShingles(UTF8String.fromBytes(utf8), kShingle)
    val sig = Kernels.minhashSignature(Kernels.shingleHashesMd5(shingles)).toLongArray()
    (if (utf8 == null) null else org.apache.commons.codec.digest.DigestUtils.md5Hex(utf8), sig)
  }

  /** The standing replica's gate (see the class doc): the query
    * replica's bounds, with postings bounded by nDocs x bands so the
    * check needs no count. */
  private[graft] def replicaFits(nDocs: Long, bands: Int): Boolean =
    nDocs <= Lsh.DriverReplicaMaxDocs && nDocs * bands <= Lsh.DriverStatsMaxEntries

  /** Run `tasks` concurrently — all but the last on their own daemon
    * threads, the last on the caller — and return or throw only once
    * every one has finished: a build must not return while a writer
    * thread still writes into its dir (a caller that catches and retries
    * into the same dir would race two writers on one path). The first
    * failure (the caller's own first) is rethrown with the others
    * attached as suppressed exceptions. */
  private def concurrently(tasks: (String, () => Unit)*): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = tasks.init.map { case (name, body) =>
      val t = new Thread(() => try body() catch { case e: Throwable => errs.add(e); () }, name)
      t.setDaemon(true)
      t.start()
      t
    }
    val own = try { tasks.last._2(); None } catch { case e: Throwable => Some(e) }
    ts.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val all = own.toSeq ++ errs.asScala
    all.headOption.foreach { first =>
      all.tail.foreach(first.addSuppressed)
      throw first
    }
  }

  /** The one writer of standing table `t`, into version dir `v` with
    * `m`'s partition count. */
  private def write(t: Table[_], df: DataFrame, m: Meta, v: String): Unit = {
    // repartition ON the bucket column so every partition dir is written
    // by exactly one task -> one file per dir; task count bounded below
    // nParts so tiny-partition task overhead stays sane. Rows are sorted
    // on the probe key WITHIN each partition file so the pushed In
    // filters prune at row-group granularity inside fat partitions —
    // but the SMALL row groups that make that pruning fine-grained are
    // written only once the table is actually past its partition ceiling
    // (fat files): below it every file is probe-read whole anyway, and
    // the extra group boundaries measurably tax the bulk scans
    // (~20% on the 1M-doc bulk contrast).
    val nParts = t.parts(m)
    val sorted = df.withColumn("_pb", t.pb(col(t.key), nParts))
      .repartition(math.max(32, math.min(nParts, 2048)), col("_pb"))
      .sortWithinPartitions(col("_pb"), col(t.key))
      .write.mode("overwrite")
    (if (t.fat(m)) sorted.option("parquet.block.size", RowGroupBytes) else sorted)
      .partitionBy("_pb").parquet(s"$v/${t.name}")
  }

  /** Build the standing artifacts from a deduplicated corpus. `sigs` may
    * be precomputed (id, sig) — pass null to sign `docs` here. One
    * O(corpus) pass, paid once; every increment afterwards reads only
    * its own buckets. */
  def build(docs: DataFrame, sigs: DataFrame, dir: String,
            threshold: Double = 0.5, idCol: String = "doc_id",
            textCol: String = "text", kShingle: Int = 3, byWord: Boolean = true,
            lsh: Lsh.Params = Lsh.Params()): StandingCorpus = {
    val spark = docs.sparkSession
    val nDocs = docs.count()
    val meta = sized(Meta(1, nDocs, 0, 0, 0,
      kShingle, byWord, lsh.bands, lsh.numPerm, lsh.maxBucketSize, threshold))
    val s = Option(sigs).getOrElse(sign(docs, meta, idCol, textCol))
      .select(col(idCol).cast("long").as("doc_id"), col("sig"))
    val v = s"$dir/v1"
    def writeDocHashes(): Unit = write(Hashes, docs.select(md5(col(textCol)).as("_h")), meta, v)
    // The three table writes are mutually independent once the signature
    // frame is materialized, so below the size gate ALL THREE overlap
    // (guide: submit independent jobs from driver threads so one job's
    // task tail back-fills the others): one eager localCheckpoint
    // materializes the (expensive) signature projection exactly once —
    // the job the serial path saved by reading back the written sig
    // table — and sigs + index both derive from the checkpoint, cutting
    // the critical path from (sigs write + sigs read + index write) to
    // max(one write). Gated on corpus size: at tens of millions of docs
    // the concurrent shuffles' combined disk footprint is the constraint
    // (the same reason compaction writes serially with GC between
    // tables), so big builds keep the serial order.
    val view =
      if (nDocs <= ParallelBuildMaxDocs) {
        val sMat = s.localCheckpoint(true)
        // under the replica gate each writer thread also collects its
        // table's rows of the driver view from the frame it writes — the
        // checkpointed signatures and postings, the docs' md5 projection —
        // never by reading the written parquet back
        val seeded = replicaFits(nDocs, lsh.bands)
        var (hs, ss, ps) = (Lsh.Rows(), Lsh.Rows(), Lsh.Rows())
        try concurrently(
          "graft-standing-build-hashes" -> (() => {
            writeDocHashes()
            if (seeded) hs = Lsh.loadMd5s(docs.select(md5(col(textCol)).as("_h")))
          }),
          "graft-standing-build-sigs" -> (() => {
            write(Sigs, sMat, meta, v)
            if (seeded) ss = Lsh.loadSigs(sMat)
          }),
          "graft-standing-build-index" -> (() =>
            if (!seeded) write(Index, Lsh.postings(sMat, "doc_id", "sig", lsh), meta, v)
            else {
              val post = Lsh.postings(sMat, "doc_id", "sig", lsh)
                .select("id", "band", "key64", "key64b").localCheckpoint(true)
              try {
                write(Index, post, meta, v)
                ps = Lsh.loadPostings(post)
              } finally QueryEngine.releaseFrame(post)
            }))
        // releaseFrame, not unpersist: Dataset.unpersist leaves a local
        // checkpoint's RDD persisted
        finally QueryEngine.releaseFrame(sMat)
        val ix = new Lsh.DriverIndex
        if (seeded) { ix.append(Lsh.concat(Seq(hs, ss, ps)), 0, null); ix } else null
      } else {
        writeDocHashes()
        write(Sigs, s, meta, v)
        // sign from the WRITTEN sig table so the (expensive) signature
        // projection is not recomputed for the postings pass
        write(Index, Lsh.postings(spark.read.parquet(s"$v/sigs").drop("_pb"),
          "doc_id", "sig", lsh), meta, v)
        null
      }
    writeMeta(dir, meta)
    new StandingCorpus(spark, dir, meta, view)
  }

  /** Past this corpus size [[build]] writes its three tables serially:
    * concurrent corpus-sized shuffles double the transient shuffle-file
    * disk footprint, the measured failure mode of large compactions. */
  private val ParallelBuildMaxDocs = 1L << 22

  /** Open standing artifacts previously written by [[build]] (or left by
    * a [[StandingCorpus.compact]]) — the serving-start path: no corpus
    * pass, just the meta read and lazy partitioned-table handles, plus,
    * under the replica gate, one concurrent read of the base tables into
    * the driver view. */
  def open(spark: SparkSession, dir: String): StandingCorpus = {
    val meta = readMeta(dir)
    // drop version dirs meta does not reference: a crash between a
    // background compaction completing and its swap (or between the
    // swap's meta write and the old-dir delete) leaves one orphan.
    // `.build-v*` dirs are crash leftovers of UNFINISHED builds (the
    // builder renames to v* only at completion), removed likewise —
    // a live builder's temp dir is only at risk from a second opener,
    // which the single-owner contract already forbids.
    new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory &&
        (f.getName.startsWith(".build-v") ||
          (f.getName.startsWith("v") && f.getName != s"v${meta.version}")))
      .foreach(deleteRecursively)
    // under the replica gate the constructor loads the driver view: the
    // three base tables read concurrently
    new StandingCorpus(spark, dir, meta, null)
  }

  /** A fresh dir under `java.io.tmpdir` for a throwaway corpus, deleted
    * with its contents at JVM exit. */
  def tempDir(prefix: String): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    sys.addShutdownHook(deleteRecursively(d))
    d
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete()
  }

  private def metaFile(dir: String) = new java.io.File(dir, "meta.json")

  private[operators] def writeMeta(dir: String, m: Meta): Unit = {
    val json =
      s"""{"version":${m.version},"nDocs":${m.nDocs},"pHash":${m.pHash},"pSig":${m.pSig},
         |"pIdx":${m.pIdx},"kShingle":${m.kShingle},"byWord":${m.byWord},
         |"bands":${m.bands},"numPerm":${m.numPerm},"maxBucketSize":${m.maxBucketSize},
         |"threshold":${m.threshold}}""".stripMargin.replace("\n", "")
    val f = metaFile(dir)
    f.getParentFile.mkdirs()
    val w = new java.io.FileWriter(f)
    try w.write(json) finally w.close()
  }

  private[operators] def readMeta(dir: String): Meta = {
    val src = scala.io.Source.fromFile(metaFile(dir))
    val json = try src.mkString finally src.close()
    def field(name: String): String = {
      val m = s""""$name":([^,}]+)""".r.findFirstMatchIn(json)
      m.getOrElse(sys.error(s"missing $name in ${metaFile(dir)}")).group(1)
    }
    Meta(field("version").toInt, field("nDocs").toLong, field("pHash").toInt,
      field("pSig").toInt, field("pIdx").toInt, field("kShingle").toInt,
      field("byWord").toBoolean, field("bands").toInt, field("numPerm").toInt,
      field("maxBucketSize").toInt, field("threshold").toDouble)
  }
}

final class StandingCorpus private (val spark: SparkSession, val dir: String,
                                    private var meta: StandingCorpus.Meta,
                                    builtView: Lsh.DriverIndex) {
  import StandingCorpus._

  /** Batches above this size classify via the bulk scan path (one
    * standing scan beats thousands of pruned partition reads there). */
  var trickleMaxDocs: Long = 4096L
  /** Fold deltas into a new on-disk base version after this many
    * absorbed batches. */
  var compactEveryBatches: Int = 64
  /** When true (default), scheduled compactions run on a BACKGROUND
    * thread: the new version is built beside the live one from a
    * snapshot of base+deltas, and the ingest thread swaps to it at the
    * start of the next classify/absorb once the build completes — the
    * ingest loop never stalls on the O(corpus) rewrite (measured ~7 min
    * at 16M docs when synchronous). Deltas absorbed while the build
    * runs stay live across the swap. [[compact]] remains the
    * synchronous form. */
  var compactInBackground: Boolean = true

  /** Override for the past-the-ceiling key pushdown: Some(true) forces
    * it on every probe regardless of table size (spec hook — pins the
    * pushed-filter path's trickle==bulk identity at spec scale, where
    * the gate otherwise never opens), Some(false) disables it even past
    * the ceiling (the measurement contrast BenchIncremental exposes),
    * None = the size-gated default. */
  private[graft] var keyPushdownOverride: Option[Boolean] = None

  private def ckpt(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftbridge.CheckpointStats.strip(df.localCheckpoint(true))

  /** The session every base-table read is planned in: a child of `spark`,
    * made once, whose parquet In threshold is MaxPushedKeys. Spark 4
    * converts an In with more values than that threshold (default 10)
    * into one gteq/lteq RANGE predicate for parquet pushdown, and probe
    * keys are uniform hashes — the range spans the whole domain and
    * prunes no row group. A parquet scan reads the threshold from its
    * relation's session, so a pushed-key probe keeps its OR-of-eq set
    * whichever session runs the query, while the owner's conf — and
    * every other query planned on it — stays as it was. The child copies
    * the owner's runtime confs once, here: a conf set on the owner later
    * does not reach queries rooted at a base read. */
  private val readSession = org.apache.spark.sql.graftbridge.Bridge.childSession(spark,
    "spark.sql.parquet.pushdown.inFilterThreshold" -> MaxPushedKeys.toString)

  private var version = meta.version
  private def vdir = s"$dir/v$version"
  /** Version `v`'s three base tables, read through [[readSession]]. */
  private def readBase(v: Int): Map[Table[_], DataFrame] =
    Tables.map(t => t -> readSession.read.parquet(s"$dir/v$v/${t.name}")).toMap
  private var bases = readBase(version)

  // per-batch increments (each O(batch)); probes union them. Trickle
  // absorbs append driver-local rows wrapped as LocalRelations (zero
  // cluster jobs); bulk absorbs append localCheckpointed frames.
  private val deltas: Map[Table[_], scala.collection.mutable.ArrayBuffer[DataFrame]] =
    Tables.map(_ -> scala.collection.mutable.ArrayBuffer.empty[DataFrame]).toMap
  private var deltaBatches = 0

  // ---- driver-side trickle fast path --------------------------------
  // A trickle batch is <= trickleMaxDocs docs; its md5s, signatures and
  // band keys all fit on the driver. The fast path collects the batch's
  // (id, text) rows — no job when the batch is a driver-local
  // LocalRelation — signs them on the driver through the Kernels the
  // Catalyst expressions wrap (signLocal), derives every probe key
  // driver-side (the same Catalyst XxHash64, evaluated locally —
  // Lsh.queryKeysLocal) and folds verdicts, the absorb cap discipline and
  // the delta append in-process. Under the replica gate the standing base
  // is in the driver view too and a batch runs ZERO Spark jobs; above it
  // the fold reads the base through three partition-pruned reads (exact,
  // candidate and signature tier) as cluster jobs. Verdicts are
  // bit-identical to the Spark trickle plan (same rows, same est-Jaccard
  // arithmetic, same cap fold — StandingCorpusSpec pins trickle==bulk and
  // replica==pruned); any case the local fold cannot faithfully
  // reproduce (null batch ids, a distributed delta from a bulk absorb,
  // over-bound candidate fan-out on the pruned reads) falls back to the
  // Spark plan.

  /** One collected batch row: boxed id (null-safe), md5 hex (null for a
    * null text) and signature. */
  private final case class BatchRow(id: java.lang.Long, h: String, sig: Array[Long])

  /** The driver rows of each absorbed delta generation — what its three
    * LocalRelation frames carry, as [[Lsh.DriverIndex.append]] takes them
    * — so a rebuilt view re-appends them without a job. */
  private val localDeltas = scala.collection.mutable.ArrayBuffer.empty[Lsh.Rows]
  private var deltasAllLocal = true

  /** Docs in the on-disk base — the replica gate's input. */
  private var baseDocs = meta.nDocs
  private var replicaOff = false
  private def wantReplica: Boolean = !replicaOff && replicaFits(baseDocs, meta.bands)

  /** Spec hook: true keeps the base off the driver whatever its size —
    * the pruned-read fold that corpora past the replica gate run (pins
    * that path at spec scale, where the gate otherwise always holds);
    * false = the size-gated default. Takes effect at once. */
  private[graft] def driverReplicaOff: Boolean = replicaOff
  private[graft] def driverReplicaOff_=(off: Boolean): Unit = {
    replicaOff = off
    val want = deltasAllLocal && wantReplica
    if (want != view.holdsBase) resetView(want)
  }

  /** The driver view the trickle fold reads: a [[Lsh.DriverIndex]] of
    * the local deltas and, when `holdsBase` (the standing replica), the
    * base tables too — each row once. Base rows load as the pruned joins
    * treat them: a null md5 or sig id is dropped (no join matches it), a
    * null sig never scores, a null posting id counts toward its bucket's
    * occupancy only. */
  private final case class View(ix: Lsh.DriverIndex, holdsBase: Boolean)

  /** Replaced or grown only under the owner's exclusive lock; volatile so
    * concurrent read-locked classifies see the current one. */
  @volatile private var view: View = _

  /** Rebuild the view from the local deltas, over a fresh read of the
    * base tables when `withBase`: three concurrent collects, one append. */
  private def resetView(withBase: Boolean): Unit = {
    val ix = new Lsh.DriverIndex
    if (withBase) {
      var (hs, ss, ps) = (Lsh.Rows(), Lsh.Rows(), Lsh.Rows())
      concurrently(
        "graft-standing-load-hashes" -> (() => hs = Lsh.loadMd5s(bases(Hashes))),
        "graft-standing-load-sigs" -> (() => ss = Lsh.loadSigs(bases(Sigs))),
        "graft-standing-load-index" -> (() => ps = Lsh.loadPostings(bases(Index))))
      ix.append(Lsh.concat(Seq(hs, ss, ps)), 0, null)
    }
    localDeltas.foreach(ix.append(_, 0, null))
    view = View(ix, withBase)
  }

  if (builtView != null) view = View(builtView, holdsBase = true) else resetView(wantReplica)

  /** Bounds on what a pruned-read fold will hold: standing postings
    * matched to one batch's buckets, and distinct standing candidate ids
    * whose signatures are fetched. Past either bound the probe falls back
    * to the distributed plan (which never collects candidates). */
  private val PostingsCollectBound = 1 << 19
  private val CandSigBound = MaxPushedKeys

  /** Collect and sign a trickle-sized batch on the driver. The collect
    * reads (id, text bytes) only, so over a LocalRelation batch the
    * optimizer folds it into the relation and no job runs; signing is
    * [[StandingCorpus.signLocal]], spread over the common fork-join pool.
    * None when the batch exceeds trickleMaxDocs (bulk territory), a
    * distributed delta exists (the local fold could not see it), or any
    * id is null (the distributed plan's null-key join semantics are not
    * worth reproducing locally). */
  private def collectBatch(batchDocs: DataFrame, idCol: String,
                           textCol: String): Option[Array[BatchRow]] = {
    if (!deltasAllLocal || trickleMaxDocs <= 0 ||
      trickleMaxDocs >= Int.MaxValue.toLong) return None
    // text as binary: the exact bytes Spark's Md5 and shingle kernels see
    val rows = batchDocs.select(col(idCol).cast("long"), col(textCol).cast("binary"))
      .limit(trickleMaxDocs.toInt + 1).collect()
    if (rows.length > trickleMaxDocs || rows.exists(_.isNullAt(0))) None
    else {
      val out = new Array[BatchRow](rows.length)
      java.util.stream.IntStream.range(0, rows.length).parallel().forEach { i =>
        val r = rows(i)
        val (h, sig) = signLocal(if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1),
          meta.kShingle, meta.byWord)
        out(i) = BatchRow(java.lang.Long.valueOf(r.getLong(0)), h, sig)
      }
      Some(out)
    }
  }

  private def localDf(rows: Seq[org.apache.spark.sql.Row],
                      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  private val hashSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("_h",
      org.apache.spark.sql.types.StringType, nullable = true)))
  private val sigSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("sig",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = true),
      nullable = true)))
  private val idxSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("band",
      org.apache.spark.sql.types.IntegerType, nullable = true),
    org.apache.spark.sql.types.StructField("key64",
      org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("key64b",
      org.apache.spark.sql.types.LongType, nullable = true)))
  private val tripleSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("band",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("key64",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("key64b",
      org.apache.spark.sql.types.LongType, nullable = false)))
  private val idSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType, nullable = false)))
  private val statusSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("status",
      org.apache.spark.sql.types.StringType, nullable = false)))

  /** Everything the driver fold learned about one classified batch —
    * handed from classify to absorb so classifyAbsorb never re-probes.
    * `base` is the pruned base read of the batch's buckets (null when
    * the view holds the base). */
  private final class DriverClassified(
      val rows: Array[BatchRow],
      val statuses: DataFrame,
      val statusById: Map[Long, String],
      val base: Lsh.DriverIndex)

  /** Base postings in the buckets of `quads` ((id, band, key64, key64b),
    * [[Lsh.postingsLocal]]): the index's pruned read joined to a
    * broadcast LocalRelation of the buckets, as a driver index. None past
    * PostingsCollectBound. */
  private def prunedBase(quads: Array[Long]): Option[Lsh.DriverIndex] = {
    val base = new Lsh.DriverIndex
    val triples = quads.indices.by(4)
      .map(i => Row(quads(i + 1).toInt, quads(i + 2), quads(i + 3))).distinct
    if (triples.nonEmpty) {
      val got = Lsh.loadPostings(pruned(Index, triples.map(_.getLong(1)).distinct)
        .join(broadcast(localDf(triples, tripleSchema)), Seq("band", "key64", "key64b"))
        .limit(PostingsCollectBound + 1))
      if (got.posts.length + 2 * got.nullPosts.length > 4 * PostingsCollectBound) return None
      base.append(got, 0, null)
    }
    Some(base)
  }

  /** The three-tier trickle classify folded on the driver. With the base
    * in the view every tier is a lookup; otherwise each tier first reads
    * the base through one pruned read joined to a broadcast LocalRelation
    * of the batch's own keys. None = fall back to the distributed plan
    * (over-bound fan-out on the pruned reads). */
  private def driverClassify(rows: Array[BatchRow]): Option[DriverClassified] = {
    val lv = view
    // exact tier: which of the batch's md5s exist in the base. On the
    // pruned path it is independent of the candidate -> signature chain,
    // so it runs on its own driver thread and the two pruned reads overlap
    // (guide §2.6) — per-batch latency is max(exact, cand+sig) instead of
    // their sum.
    val hs = rows.iterator.map(_.h).filter(_ != null).toSeq.distinct
    val standingHF =
      if (lv.holdsBase || hs.isEmpty) null
      else {
        val task = new java.util.concurrent.FutureTask[Set[String]](() =>
          pruned(Hashes, hs).join(broadcast(localDf(hs.map(Row(_)), hashSchema)),
            Seq("_h"), "left_semi").distinct().collect().map(_.getString(0)).toSet)
        val t = new Thread(task, "graft-trickle-exact")
        t.setDaemon(true)
        t.start()
        task
      }
    // the fallback returns wait for the exact tier too: no read of this
    // classify outlives it (a later swap may delete the version it reads)
    def awaitExact(): Set[String] =
      if (standingHF == null) Set.empty
      else try standingHF.get()
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    // candidate tier: the batch's own postings under the in-batch cap
    // (Lsh.postings' keep-smallest-ids), then base and view members of
    // their buckets
    val batchPosts = new Lsh.DriverIndex().append(Lsh.Rows(posts = Lsh.postingsLocal(
      rows.collect { case r if r.sig != null => (r.id.longValue(), r.sig) }, meta.lsh)),
      meta.maxBucketSize, null)
    val base =
      if (lv.holdsBase) null
      else prunedBase(batchPosts).getOrElse { awaitExact(); return None }
    val held = Seq(lv.ix, base).filter(_ != null)
    val candByBid = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.HashSet[Long]]
    batchPosts.indices.by(4).foreach { i =>
      val cands = candByBid.getOrElseUpdate(batchPosts(i), scala.collection.mutable.HashSet.empty)
      held.foreach(_.foreachMember(batchPosts(i + 2), batchPosts(i + 3))(cands += _))
    }
    // signature tier: on the pruned path, fetch every distinct candidate
    // id's base sigs into the base read (an id can be in base and view,
    // e.g. a batch id coinciding with a standing id); bound the fetch
    if (base != null && candByBid.nonEmpty) {
      val standIds = candByBid.valuesIterator.flatten.toArray.distinct
      if (standIds.length > CandSigBound) { awaitExact(); return None }
      val localI = localDf(standIds.map(Row(_)).toSeq, idSchema)
      base.append(Lsh.loadSigs(pruned(Sigs, standIds.toSeq).join(broadcast(localI), Seq("doc_id"))),
        0, null)
    }
    // verdict fold: exact > near > new, per distinct id
    val sigsByBid = rows.filter(_.sig != null).groupMap(_.id.longValue())(_.sig)
    val baseH = awaitExact()
    val exactIds = rows.iterator
      .filter(r => r.h != null && (baseH.contains(r.h) || lv.ix.holdsMd5(r.h)))
      .map(_.id.longValue()).toSet
    val thr = meta.threshold
    def isNear(bid: Long): Boolean = candByBid.get(bid).exists(_.exists(cid =>
      sigsByBid(bid).exists(bs => held.exists(_.near(cid, bs, thr)))))
    val statusById = scala.collection.mutable.HashMap.empty[Long, String]
    val stRows = rows.map { r =>
      val bid = r.id.longValue()
      val st = statusById.getOrElseUpdate(bid,
        if (exactIds.contains(bid)) "exact"
        else if (isNear(bid)) "near"
        else "new")
      Row(bid, st)
    }
    Some(new DriverClassified(rows, localDf(stRows.toSeq, statusSchema),
      statusById.toMap, base))
  }

  /** Driver-side absorb of a batch's `new` rows: in-batch cap + admit-
    * under-cap in one [[Lsh.DriverIndex.append]] into the view (the
    * driver form of Lsh.postings + Lsh.admitUnderCap over the same
    * standing counts), deltas appended as LocalRelations — no Spark job
    * when the view holds the base. `classified` is classify's pruned base
    * read of the batch's buckets; without it (and without the base in the
    * view) the counts come from the same pruned read over the new
    * postings' buckets. Returns false, having changed nothing, when that
    * read is over its bound (the caller falls back to the distributed
    * absorb). */
  private def driverAbsorb(newRows: Array[BatchRow],
                           classified: Option[Lsh.DriverIndex]): Boolean = {
    val lv = view
    if (newRows.nonEmpty) {
      val quads = Lsh.postingsLocal(newRows.map(r => (r.id.longValue(), r.sig)), meta.lsh)
      // each bucket's occupancy counted ONCE: from the view alone when it
      // holds the base, else the pruned base read plus the delta-only view
      val base =
        if (meta.maxBucketSize <= 0 || lv.holdsBase) null
        else classified.orElse(prunedBase(quads)).getOrElse(return false)
      val rows = Lsh.Rows(posts = quads, sigIds = newRows.map(_.id.longValue()),
        sigs = newRows.map(_.sig), md5s = Lsh.md5Pairs(newRows.iterator.map(_.h)))
      val d = rows.copy(posts = lv.ix.append(rows, meta.maxBucketSize, base))
      deltas(Hashes) += localDf(newRows.map(r => Row(r.h)).toSeq, hashSchema)
      deltas(Sigs) += localDf(newRows.map(r => Row(r.id, r.sig.toSeq)).toSeq, sigSchema)
      deltas(Index) += localDf(d.posts.indices.by(4).map(i =>
        Row(d.posts(i), d.posts(i + 1).toInt, d.posts(i + 2), d.posts(i + 3))), idxSchema)
      localDeltas += d
      meta = meta.copy(nDocs = meta.nDocs + newRows.length)
    }
    deltaBatches += 1
    if (deltaBatches >= compactEveryBatches) {
      if (compactInBackground) startBackgroundCompaction() else compact()
    }
    true
  }

  def currentMeta: Meta = meta
  def currentVersion: Int = version

  private def unionAll(base: DataFrame, deltas: Seq[DataFrame]): DataFrame =
    deltas.foldLeft(base)(_.unionByName(_))

  /** Standing table `t` for the BULK path (full, unpruned): the base and
    * its first `nDeltas` deltas. */
  private[graft] def full(t: Table[_], nDeltas: Int = Int.MaxValue): DataFrame =
    unionAll(bases(t).select(t.cols.map(col): _*), deltas(t).take(nDeltas).toSeq)

  /** THE pruned read of base table `t` for the distinct non-null probe
    * `keys`: only the `_pb` partitions they land in. When the table has
    * grown PAST ITS PARTITION CEILING ([[Table.fat]], or
    * keyPushdownOverride) and there are at most MaxPushedKeys keys, the
    * keys are ALSO pushed down as a parquet In filter: partition files
    * are key-sorted with small row groups, so row-group min/max pruning
    * bounds the rows read inside a fat partition by (keys x
    * rows-per-row-group) — corpus-independent again. Below the ceiling
    * the key push is deliberately OFF: with one row group per file it can
    * prune nothing, and evaluating it costs extra reads (dictionary pages
    * + column indexes — measured 3x the probe bytes at spec scale). Every
    * filter only removes rows that cannot match a key, so the trickle ==
    * bulk identity is unaffected (StandingCorpusSpec). */
  private def pruned[K](t: Table[K], keys: Seq[K]): DataFrame =
    prunedOn(t, keys.map(t.pbLocal(_, t.parts(meta))).distinct, keys)

  /** [[pruned]] for the keys in the one column of `keys`: a bounded
    * collect of its distinct non-null values (a null key has no standing
    * match, so its row falls through to 'new' as on the bulk path); past
    * MaxPushedKeys the partition set is computed in Spark and no key is
    * pushed. */
  private def pruned[K](t: Table[K], keys: DataFrame): DataFrame = {
    val k = col(keys.columns.head)
    val ks = keys.select(k).distinct().limit(MaxPushedKeys + 1).collect().toSeq
      .collect { case r if !r.isNullAt(0) => r.get(0).asInstanceOf[K] }
    if (ks.length <= MaxPushedKeys) pruned(t, ks)
    else prunedOn(t, keys.select(t.pb(k, t.parts(meta))).distinct().collect().toSeq
      .collect { case r if !r.isNullAt(0) => r.getInt(0) }, Nil)
  }

  private def prunedOn(t: Table[_], pbs: Seq[Int], keys: Seq[Any]): DataFrame = {
    val read = bases(t).filter(col("_pb").isin(pbs: _*))
    val push = keys.nonEmpty && keys.size <= MaxPushedKeys &&
      keyPushdownOverride.getOrElse(t.fat(meta))
    (if (push) read.filter(col(t.key).isin(keys: _*)) else read).select(t.cols.map(col): _*)
  }

  /** The Spark trickle plan's read of table `t` for the keys of `keys`:
    * its pruned base read and its deltas. */
  private def probe(t: Table[_], keys: DataFrame): DataFrame =
    unionAll(pruned(t, keys), deltas(t).toSeq)

  /** Classify one batch of (idCol, textCol) docs against the standing
    * corpus: 'exact' / 'near' / 'new' per id, bit-identical to
    * [[Dedup.incrementalStatusIndexed]] over the same standing state.
    * Small batches run the partition-pruned trickle path; larger ones
    * the bulk scan. Returns a MATERIALIZED (id, status) frame (safe to
    * hold across later absorbs). */
  def classify(batchDocs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    maybeSwapCompacted()
    val fast = collectBatch(batchDocs, idCol, textCol)
      .flatMap(driverClassify)
    fast match {
      case Some(c) => renameId(c.statuses, idCol)
      case None => classifyKeepingSigs(batchDocs, idCol, textCol)._3
    }
  }

  /** True when a background compaction finished (or failed) and awaits
    * its swap/cleanup on the owning thread. */
  def compactionReady: Boolean = pendingCompaction.exists(p =>
    p.done.get() || p.failed.get() != null)

  /** Perform the pending compaction swap (or failure cleanup) if ready —
    * the WRITE-locked entry a concurrent-serving boundary calls before
    * read-locked classifies. Single-owner ingest loops never need it
    * (classify/absorb swap inline). */
  def swapCompactedIfReady(): Unit = maybeSwapCompacted()

  /** [[classify]] for CONCURRENT callers holding a shared (read) lock —
    * classifies are read-only, so the HTTP boundary runs them
    * concurrently while absorbs stay exclusive (the round-14 verdict's
    * serving finding). Identical verdicts to [[classify]]; the one
    * difference is that the compaction swap is skipped (the caller swaps
    * under its write lock via [[swapCompactedIfReady]]), so no standing
    * state mutates on this path. The shared state it reads is safe
    * under concurrency: the driver view is read-only here, no conf is
    * set on any session, and the view, deltas, meta and base tables only
    * change under the caller's exclusive lock. */
  def classifyShared(batchDocs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val fast = collectBatch(batchDocs, idCol, textCol)
      .flatMap(driverClassify)
    fast match {
      case Some(c) => renameId(c.statuses, idCol)
      case None => classifyKeepingSigs(batchDocs, idCol, textCol, swap = false)._3
    }
  }

  private def renameId(statuses: DataFrame, idCol: String): DataFrame =
    if (idCol == "doc_id") statuses
    else statuses.withColumnRenamed("doc_id", idCol)

  /** classify, returning the materialized (batch, batchSigs, statuses)
    * triple so [[classifyAbsorb]] can absorb WITHOUT re-shingling and
    * re-signing the batch (the signature projection is the single most
    * expensive batch-sized compute in the loop). The SPARK fallback form
    * — the driver fast path handles trickle batches before this runs. */
  private def classifyKeepingSigs(batchDocs: DataFrame, idCol: String,
                                  textCol: String, swap: Boolean = true)
      : (DataFrame, DataFrame, DataFrame) = {
    if (swap) maybeSwapCompacted()
    val b = ckpt(batchDocs.select(col(idCol).cast("long").as(idCol),
      col(textCol).as(textCol)))
    val batchSigs = ckpt(sign(b, meta, idCol, textCol))
    val st = ckpt(classifyPlan(b, batchSigs, idCol, textCol))
    (b, batchSigs, st)
  }

  /** The classify plan (unmaterialized — spec hooks inspect its scans).
    * `b` and `batchSigs` should be materialized batch-sized frames. */
  private[graft] def classifyPlan(b: DataFrame, batchSigs: DataFrame,
                                  idCol: String, textCol: String): DataFrame = {
    val n = b.count()
    if (n > trickleMaxDocs)
      Dedup.incrementalStatusIndexed(full(Hashes), full(Sigs), full(Index),
        b, batchSigs, meta.threshold, idCol, textCol, meta.lsh)
    else {
      // TRICKLE path — the same joins as incrementalStatusIndexed, each
      // against a pruned standing read. Distinct id-level verdicts (a
      // duplicate batch id must yield ONE row per input row, not a
      // multiplied join).
      val bh = b.select(col(idCol), md5(col(textCol)).as("_h"))
      val exactIds = bh.join(probe(Hashes, bh.select("_h")), Seq("_h"), "left_semi")
        .select(col(idCol)).distinct()
      val batchKeys = ckpt(Lsh.postings(batchSigs, idCol, "sig", meta.lsh)
        .withColumnRenamed("id", "_bid"))
      val cand = ckpt(probe(Index, batchKeys.select("key64"))
        .join(batchKeys, Seq("band", "key64", "key64b"))
        .select(col("_bid"), col("id").as("_cid")).distinct())
      val sb = batchSigs.select(col(idCol).as("_bid"), col("sig").as("_sb"))
      val sc = probe(Sigs, cand.select("_cid"))
        .select(col("doc_id").as("_cid"), col("sig").as("_sc"))
      val nearIds = cand.join(sb, "_bid").join(sc, "_cid")
        .filter(est_jaccard(col("_sb"), col("_sc")) >= meta.threshold)
        .select(col("_bid").as(idCol)).distinct()
      b.select(col(idCol))
        .join(exactIds.withColumn("_e", lit(1)), Seq(idCol), "left")
        .join(nearIds.withColumn("_n", lit(1)), Seq(idCol), "left")
        .select(col(idCol),
          when(col("_e") === 1, "exact")
            .when(col("_n") === 1, "near")
            .otherwise("new").as("status"))
    }
  }

  /** Absorb a classified batch: its 'new' docs join the standing corpus
    * (hashes, signatures, and postings APPENDED UNDER THE CAP), so a
    * later batch repeating them classifies as a duplicate. `statuses` is
    * [[classify]]'s output for this batch. Per-batch cost is O(batch):
    * only the increments are checkpointed, never the standing state. A
    * trickle batch absorbs on the driver like [[classifyAbsorb]] (the
    * caller's statuses collected — no job for classify's own
    * LocalRelation output), so later batches stay on the fast path. */
  def absorb(batchDocs: DataFrame, statuses: DataFrame,
             idCol: String = "doc_id", textCol: String = "text"): Unit = {
    maybeSwapCompacted()
    val onDriver = collectBatch(batchDocs, idCol, textCol).exists { rows =>
      // a row is absorbed iff some status row of its id says 'new' (the
      // distributed path's left-semi join)
      val newIds = statuses.filter(col("status") === "new")
        .select(col(idCol).cast("long")).collect()
        .iterator.filterNot(_.isNullAt(0)).map(_.getLong(0)).toSet
      driverAbsorb(rows.filter(r => newIds.contains(r.id.longValue())), None)
    }
    if (!onDriver) absorbImpl(batchDocs, statuses, idCol, textCol, precomputedSigs = null)
  }

  private def absorbImpl(batchDocs: DataFrame, statuses: DataFrame,
                         idCol: String, textCol: String,
                         precomputedSigs: DataFrame): Unit = {
    maybeSwapCompacted()
    val newIds = statuses.filter(col("status") === "new").select(col(idCol))
    val newDocs = batchDocs.select(col(idCol).cast("long").as(idCol),
        col(textCol).as(textCol))
      .join(newIds, Seq(idCol), "left_semi")
    // classifyAbsorb hands its already-materialized batch signatures
    // through — filtering them to the new ids is row-identical to
    // re-signing newDocs (signatures are a pure function of the text)
    // and skips the loop's most expensive batch-sized recompute
    val newSigs = ckpt(
      if (precomputedSigs != null)
        precomputedSigs.join(newIds, Seq(idCol), "left_semi")
      else sign(newDocs, meta, idCol, textCol))
    val nNew = newSigs.count()
    if (nNew > 0) {
      deltas(Hashes) += ckpt(newDocs.select(md5(col(textCol)).as("_h")))
      deltas(Sigs) += ckpt(newSigs.select(col(idCol).as("doc_id"), col("sig")))
      // append-under-cap (Lsh.admitUnderCap — the shared cap owner):
      // count each touched bucket ONCE (pruned standing read + deltas),
      // admit the batch's smallest-id postings while the bucket stays
      // under maxBucketSize. postings() already keeps the batch's own
      // smallest ids, so standing-count + in-batch rank is the grown
      // bucket's occupancy for monotone ids.
      val newKeys = ckpt(Lsh.postings(newSigs, idCol, "sig", meta.lsh))
      val admitted =
        if (meta.maxBucketSize <= 0) Lsh.admitUnderCap(newKeys, null, meta.maxBucketSize)
        else {
          val keys = Seq("band", "key64", "key64b")
          val standCnt = probe(Index, newKeys.select("key64"))
            .join(broadcast(newKeys.select(keys.map(col): _*).distinct()), keys)
            .groupBy(keys.map(col): _*).agg(count(lit(1)).as("_cnt"))
          Lsh.admitUnderCap(newKeys, standCnt, meta.maxBucketSize)
        }
      deltas(Index) += ckpt(admitted)
      // a distributed delta blinds the driver fold — later trickle
      // probes fall back to the Spark plan until a compaction folds it
      deltasAllLocal = false
      localDeltas.clear()
      resetView(false)
      meta = meta.copy(nDocs = meta.nDocs + nNew)
    }
    deltaBatches += 1
    if (deltaBatches >= compactEveryBatches) {
      if (compactInBackground) startBackgroundCompaction() else compact()
    }
  }

  /** [[classify]] + [[absorb]] in one call — the streaming micro-batch
    * step. Returns the materialized statuses. Shares the batch's
    * materialized signatures between the two phases (absorb never
    * re-shingles). */
  def classifyAbsorb(batchDocs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    maybeSwapCompacted()
    val fast = collectBatch(batchDocs, idCol, textCol)
      .flatMap(driverClassify)
    fast match {
      case Some(c) =>
        driverAbsorb(c.rows.filter(r => c.statusById(r.id.longValue()) == "new"),
          Option(c.base))
        renameId(c.statuses, idCol)
      case None =>
        val (b, batchSigs, st) = classifyKeepingSigs(batchDocs, idCol, textCol)
        absorbImpl(b, st, idCol, textCol, precomputedSigs = batchSigs)
        st
    }
  }

  /** One background compaction at a time: the builder thread writes the
    * three tables of a NEW version from a snapshot of base + the first
    * `nDeltas` deltas, then flips `done`. All other mutable state stays
    * owned by the single ingest thread — it performs the swap itself at
    * the next classify/absorb (so no probe ever races a base-table
    * reassignment). */
  private final class PendingCompaction(val grown: Meta, val nDeltas: Int) {
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    var thread: Thread = _
    /** The new version's base tables, opened by the builder (published
      * to the swap by `done`). */
    var bases: Map[Table[_], DataFrame] = _
  }
  // volatile: compactionReady is read by serving threads outside the
  // corpus lock
  @volatile private var pendingCompaction: Option[PendingCompaction] = None
  @volatile private var compactionFailure: Option[Throwable] = None

  /** The error of the last background compaction that failed, kept until
    * a later compaction publishes a version (the next successful swap or
    * a [[compact]]). The failed build's deltas stay live, and the next
    * scheduled compaction retries. */
  def lastCompactionFailure: Option[Throwable] = compactionFailure

  /** Write the three standing tables for `grown` under its version dir.
    * Pure write — no mutable state touched (safe off-thread). Each
    * table's repartition shuffle is corpus-sized; the explicit GC after
    * each write lets ContextCleaner reclaim the finished shuffle's disk
    * files BEFORE the next table's shuffle starts (the default periodic
    * GC is 30 min away, and a 16M-doc compaction holding two ~12 GB
    * shuffles plus the half-written new version exhausted the bench
    * box's disk). */
  private def writeVersion(grown: Meta, tables: Seq[(Table[_], DataFrame)]): Unit = {
    // build into a dot-prefixed temp dir and rename into place at
    // completion (round-14 advice): an unfinished build is then never
    // confused with an adoptable orphan version — open()'s cleanup or a
    // second opener can no longer delete a half-built next version out
    // from under the builder
    val nv = s"$dir/.build-v${grown.version}"
    deleteRecursively(new java.io.File(nv))
    tables.foreach { case (t, df) =>
      write(t, df, grown, nv)
      System.gc()
    }
    val finalDir = new java.io.File(s"$dir/v${grown.version}")
    if (!new java.io.File(nv).renameTo(finalDir))
      sys.error(s"could not publish compacted version: rename $nv -> $finalDir failed")
  }

  private def grownMeta: Meta = sized(meta.copy(version = version + 1))

  /** Kick off a background compaction if none is running and there is
    * anything to fold. The snapshot covers the deltas present NOW;
    * later absorbs keep appending and survive the swap untouched. */
  private def startBackgroundCompaction(): Unit = {
    if (pendingCompaction.isDefined) return
    if (deltas.values.forall(_.isEmpty)) {
      deltaBatches = 0
      return
    }
    val p = new PendingCompaction(grownMeta, deltas(Hashes).length)
    val snapshot = Tables.map(t => t -> full(t, p.nDeltas))
    deltaBatches = 0
    p.thread = new Thread(() => {
      try {
        // isolate the O(corpus) rewrite from the ingest loop's jobs:
        // under the default FIFO scheduler the compaction's long write
        // stages take every free slot and the concurrent batch STARVES
        // (measured 262 s for a ~10 s batch at 16M) — in a FAIR-mode
        // session (spark.scheduler.mode=FAIR, set at context creation)
        // this pool caps the build at its fair share and concurrent
        // batches stay within ~2x their baseline. Under FIFO the
        // property is inert (the documented trade: set FAIR for
        // latency-sensitive ingest).
        spark.sparkContext.setLocalProperty("spark.scheduler.pool",
          "graft_compact")
        writeVersion(p.grown, snapshot)
        // open the new version's three partitioned tables HERE, for the
        // swap to adopt: each open lists its (tens of thousands of) dirs,
        // and a cold listing inside the next measured batch cost ~50 s at
        // 8M docs
        p.bases = readBase(p.grown.version)
      }
      catch { case t: Throwable => p.failed.set(t) }
      finally p.done.set(true)
    }, s"graft-standing-compact-v${p.grown.version}")
    p.thread.setDaemon(true)
    pendingCompaction = Some(p)
    p.thread.start()
  }

  /** Ingest-thread swap point: if a background compaction has finished,
    * adopt its version (meta keeps the CURRENT nDocs — only the layout
    * fields come from the snapshot), drop the folded deltas, persist the
    * meta, and remove the old version dir. On builder failure the deltas
    * stay live, the error is kept as [[lastCompactionFailure]], and the
    * next scheduled compaction retries. */
  private def maybeSwapCompacted(): Unit = pendingCompaction match {
    case Some(p) if p.done.get() =>
      pendingCompaction = None
      val err = p.failed.get()
      if (err != null) {
        compactionFailure = Some(err)
        System.err.println(s"[standing-corpus] background compaction failed " +
          s"(deltas retained, will retry): $err")
        deleteRecursively(new java.io.File(s"$dir/.build-v${p.grown.version}"))
        deleteRecursively(new java.io.File(s"$dir/v${p.grown.version}"))
      } else {
        compactionFailure = None
        val old = vdir
        meta = meta.copy(version = p.grown.version, pHash = p.grown.pHash,
          pSig = p.grown.pSig, pIdx = p.grown.pIdx)
        version = p.grown.version
        // persist the DISK-consistent doc count (the snapshot's — docs
        // absorbed during the build live only in the retained deltas);
        // the live in-memory meta keeps the current total (round-14
        // advice: a crash after this write must not overcount)
        writeMeta(dir, meta.copy(nDocs = p.grown.nDocs))
        bases = p.bases
        deltas.values.foreach(_.remove(0, p.nDeltas))
        baseDocs = p.grown.nDocs
        if (deltasAllLocal && p.nDeltas <= localDeltas.length) {
          localDeltas.remove(0, p.nDeltas)
          // the new base is the old one plus exactly the folded deltas, so
          // a view holding the base already holds the new one — nothing
          // reloads. A delta-only view (or a base now past the gate) drops
          // the folded deltas, which the pruned reads now find on disk.
          if (!(view.holdsBase && wantReplica)) resetView(false)
        } else {
          // a distributed-delta epoch folded away: the remaining deltas
          // (if any) may still be distributed — stay on the Spark path
          // until the buffers empty, then the local fold resumes (over a
          // fresh read of the base, under the gate)
          localDeltas.clear()
          deltasAllLocal = deltas(Hashes).isEmpty
          resetView(deltasAllLocal && wantReplica)
        }
        deleteRecursively(new java.io.File(old))
      }
    case _ => ()
  }

  /** Block until any in-flight background compaction has been built AND
    * swapped in — the quiesce point for tests, shutdown, and serving
    * handoff. */
  def awaitCompaction(): Unit = {
    pendingCompaction.foreach(_.thread.join())
    maybeSwapCompacted()
  }

  /** SYNCHRONOUS major compaction: fold the deltas into a NEW on-disk
    * base version (partition counts re-sized to the grown corpus),
    * refresh the meta, and drop the in-memory increments. Amortized over
    * `compactEveryBatches` absorbs when `compactInBackground` is off;
    * also the explicit quiesce-then-fold call. The previous version dir
    * is removed after the new one is fully written. */
  def compact(): Unit = {
    awaitCompaction() // a pending background build folds first
    // nothing to fold: all-duplicate batches accumulate deltaBatches but
    // no deltas — an O(corpus) rewrite would change nothing, so just
    // reset the batch counter (a dup-heavy stream must not pay a full
    // three-table rewrite every compactEveryBatches batches)
    if (deltas.values.forall(_.isEmpty)) {
      deltaBatches = 0
      return
    }
    val grown = grownMeta
    writeVersion(grown, Tables.map(t => t -> full(t)))
    writeMeta(dir, grown)
    compactionFailure = None
    val old = vdir
    // as at a swap: a view holding the base and every delta already holds
    // the compacted base
    val viewCurrent = deltasAllLocal && view.holdsBase
    meta = grown
    version = grown.version
    baseDocs = grown.nDocs
    bases = readBase(version)
    deltas.values.foreach(_.clear())
    localDeltas.clear(); deltasAllLocal = true
    if (!(viewCurrent && wantReplica)) resetView(wantReplica)
    deltaBatches = 0
    deleteRecursively(new java.io.File(old))
  }
}
