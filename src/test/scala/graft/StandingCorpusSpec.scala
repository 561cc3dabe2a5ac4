package graft

import graft.core.Lsh
import graft.operators.{Dedup, StandingCorpus}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** StandingCorpus: disk-resident incremental-dedup artifacts — trickle
  * (partition-pruned) classify must equal the bulk scan path bit for
  * bit, appends must stay under the bucket cap, and a trickle probe must
  * NOT read the whole standing corpus. */
class StandingCorpusSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    tempDir("graft-standing-spec")

  /** Synthetic corpus: 30-word docs; ids in [0, n). Doc i shares a text
    * family with i - (i % 5) so near-dups exist (one word differs). */
  private def mkDocs(ids: Seq[Long]): DataFrame =
    ids.map { i =>
      val fam = i - (i % 5)
      val words = (0 until 30).map(w => s"w${(fam * 31 + w) % 97}")
      val text =
        if (i % 5 == 0) words.mkString(" ")
        else (words.dropRight(1) :+ s"x$i").mkString(" ")
      (i, text)
    }.toDF("doc_id", "text")

  private def statuses(df: DataFrame): Seq[(Long, String)] =
    df.select("doc_id", "status").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq

  /** `body`'s result and the Spark jobs it started, on its thread or the
    * threads it spawned (counted by a job group they inherit; a marker
    * job flushes the listener queue before the count is read). */
  private def jobsIn[A](body: => A): (A, Int) = {
    val group = s"standing-spec-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(marker), "listener never saw the marker job")
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }

  private def postings(sc: StandingCorpus): Seq[(Long, Int, Long, Long)] =
    sc.fullIndex.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq

  private def assertSamePostings(a: StandingCorpus, b: StandingCorpus, what: String): Unit = {
    val (pa, pb) = (postings(a), postings(b))
    val (onlyA, onlyB) = (pa.diff(pb).size, pb.diff(pa).size)
    assert(onlyA == 0 && onlyB == 0, s"$what: $onlyA postings only in one, $onlyB only in the other")
  }

  private def words(tag: String): Seq[String] = (0 until 30).map(w => s"$tag$w")
  /** `tag`'s 30-word text with its first `n` words replaced: Jaccard
    * (30 - n) / (30 + n) to the original, so n = 3..6 (0.82..0.67) stays
    * under the 0.9 threshold of [[cappedCorpus]] while sharing many LSH
    * buckets with it. */
  private def variant(tag: String, n: Int, mark: String): String =
    ((0 until n).map(j => s"$mark$j") ++ words(tag).drop(n)).mkString(" ")

  /** mkDocs' near-dup families plus buckets at every occupancy a cap of 3
    * can see: five copies of one text (over cap), two of another, one of
    * a third. */
  private def cappedCorpus: DataFrame =
    mkDocs(0L until 60L).unionByName(
      ((100L until 105L).map(i => (i, words("c").mkString(" "))) ++
        Seq((105L, words("d").mkString(" ")), (106L, words("d").mkString(" ")),
          (107L, words("e").mkString(" ")))).toDF("doc_id", "text"))

  private def buildCapped(lsh: Lsh.Params): StandingCorpus =
    StandingCorpus.build(cappedCorpus, null, tmpDir(), threshold = 0.9, lsh = lsh)

  /** Five trickle batches with monotone ids: exact and near copies of
    * standing docs, new docs, duplicate batch ids, null texts, an
    * in-batch pair, and new variants that share buckets with standing
    * and absorbed docs at every occupancy. */
  private def trickleBatches: Seq[DataFrame] = {
    val base = mkDocs(Seq(0L, 5L, 10L)).select(col("text")).as[String].collect()
    def w(tag: String) = words(tag).mkString(" ")
    Seq(
      Seq((1000L, base(0)), (1001L, base(1).split(" ").dropRight(1).mkString(" ") + " y1"),
        (1002L, w("f")), (1002L, w("f")), (1003L, variant("c", 3, "va")),
        (1004L, variant("d", 3, "vb")), (1005L, null)),
      Seq((1010L, w("g")), (1011L, w("g")), (1012L, variant("e", 4, "vc")),
        (1013L, variant("f", 3, "vd")), (1014L, variant("d", 5, "ve")), (1015L, null)),
      Seq((1020L, variant("g", 3, "vf")), (1021L, variant("g", 4, "vg")), (1022L, w("f")),
        (1023L, w("c")), (1024L, variant("c", 5, "vh")), (1025L, variant("d", 4, "vi"))),
      Seq((1030L, variant("c", 4, "vj")), (1031L, variant("e", 3, "vk")),
        (1032L, variant("g", 5, "vl")), (1033L, base(2)), (1034L, variant("d", 6, "vm"))),
      Seq((1040L, variant("f", 5, "vn")), (1041L, variant("c", 6, "vo")), (1042L, w("h")),
        (1042L, w("h")), (1043L, variant("e", 5, "vp")))
    ).map(_.toDF("doc_id", "text"))
  }

  test("trickle classify equals the bulk scan path (exact/near/new + dup batch ids)") {
    val dir = tmpDir()
    val corpus = mkDocs(0L until 200L)
    val sc = StandingCorpus.build(corpus, null, dir)
    sc.driverReplicaOff = true // the pruned-read fold, as past the replica gate
    // batch: exact copies (re-keyed corpus texts), near-dups (one word
    // changed from a family base), fresh docs, and a DUPLICATE id
    val base = mkDocs(Seq(0L, 5L)).select(col("text")).as[String].collect()
    val batch = Seq(
      (1000L, base(0)),                                    // exact
      (1001L, base(1)),                                    // exact
      (1002L, base(0).split(" ").dropRight(1).mkString(" ") + " y1"), // near
      (1003L, (0 until 30).map(w => s"f$w").mkString(" ")), // fresh
      (1003L, (0 until 30).map(w => s"f$w").mkString(" ")), // dup id
      (1004L, (0 until 30).map(w => s"g$w").mkString(" "))  // fresh
    ).toDF("doc_id", "text")
    val trickle = statuses(sc.classify(batch))
    // bulk twin over the same standing artifacts
    val batchSigs = StandingCorpus.sign(batch, sc.currentMeta)
    val bulk = statuses(Dedup.incrementalStatus(
      corpus, StandingCorpus.sign(corpus, sc.currentMeta), batch, batchSigs))
    assert(trickle === bulk)
    assert(trickle.toMap.apply(1000L) === "exact")
    assert(trickle.toMap.apply(1002L) === "near")
    assert(trickle.toMap.apply(1003L) === "new")
  }

  test("absorb evolves state: a later batch sees earlier 'new' docs as dups") {
    val dir = tmpDir()
    val sc = StandingCorpus.build(mkDocs(0L until 100L), null, dir)
    val freshText = (0 until 30).map(w => s"q$w").mkString(" ")
    val nearText = (0 until 29).map(w => s"q$w").mkString(" ") + " qz"
    val b1 = Seq((500L, freshText)).toDF("doc_id", "text")
    val st1 = statuses(sc.classifyAbsorb(b1))
    assert(st1 === Seq((500L, "new")))
    val b2 = Seq((600L, freshText), (601L, nearText)).toDF("doc_id", "text")
    val st2 = statuses(sc.classifyAbsorb(b2)).toMap
    assert(st2(600L) === "exact", "repeat of an absorbed doc must be exact")
    assert(st2(601L) === "near", "near-dup of an absorbed doc must be near")
  }

  test("append-under-cap equals keep-smallest re-cap for monotone ids") {
    val dir = tmpDir()
    // one shared text -> every doc lands in the same buckets; cap 3
    val clique = (0L until 8L).map(i => (i, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val lsh = Lsh.Params(maxBucketSize = 3)
    val sc = StandingCorpus.build(clique, null, dir, lsh = lsh)
    // absorb two batches of fresh docs that ALSO share one new text
    val t2 = "one two three four five six seven"
    val b1 = (100L until 104L).map(i => (i, t2)).toDF("doc_id", "text")
    // batch-vs-standing semantics: batch-internal dups are all 'new'
    // (the d16 contract) — all four get absorbed, but their postings
    // must land under the cap
    val st1 = statuses(sc.classifyAbsorb(b1))
    assert(st1.forall(_._2 == "new"), s"fresh text vs standing is new: $st1")
    // a later repeat of the absorbed text is an exact dup
    val st2 = statuses(sc.classify(Seq((200L, t2)).toDF("doc_id", "text")))
    assert(st2 === Seq((200L, "exact")))
    // standing index buckets must hold at most cap entries
    val overCap = sc.fullIndex.groupBy("band", "key64", "key64b")
      .agg(count(lit(1)).as("n")).filter(col("n") > 3).count()
    assert(overCap === 0L, "no bucket may exceed the cap after appends")
    // re-cap twin: postings over the grown sig table, capped globally
    val grownSigs = sc.fullSigs
    val recap = Lsh.postings(grownSigs, "doc_id", "sig", lsh)
      .select("id", "band", "key64", "key64b")
    val appended = sc.fullIndex.select("id", "band", "key64", "key64b")
    assert(appended.exceptAll(recap).count() === 0L &&
      recap.exceptAll(appended).count() === 0L,
      "append-under-cap must equal global keep-smallest re-cap for monotone ids")
  }

  test("trickle probe reads a small fraction of the standing bytes") {
    val dir = tmpDir()
    val corpus = mkDocs(0L until 3000L)
    val sc = StandingCorpus.build(corpus, null, dir)
    sc.driverReplicaOff = true // the pruned-read fold, as past the replica gate
    // warm: file listing + first probe compile
    sc.classify(Seq((9000L, "warm up probe text one two three")).toDF("doc_id", "text"))
    val bytesRead = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          bytesRead.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
    }
    val standingBytes = {
      val d = new java.io.File(s"$dir/v1")
      def sz(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(sz).sum else f.length()
      sz(d)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val batch = Seq(
        (9001L, mkDocs(Seq(40L)).select(col("text")).as[String].head()),
        (9002L, (0 until 30).map(w => s"z$w").mkString(" "))
      ).toDF("doc_id", "text")
      val st = statuses(sc.classify(batch)).toMap
      Thread.sleep(300)
      assert(st(9001L) === "exact" && st(9002L) === "new")
    } finally spark.sparkContext.removeSparkListener(listener)
    info(s"trickle bytesRead=${bytesRead.get} standingBytes=$standingBytes")
    assert(bytesRead.get < standingBytes / 2,
      s"trickle probe read ${bytesRead.get} of $standingBytes standing bytes — pruning is not engaging")
  }

  test("compact folds deltas into a new version; open() resumes from disk") {
    val dir = tmpDir()
    val sc = StandingCorpus.build(mkDocs(0L until 100L), null, dir)
    val t = (0 until 30).map(w => s"c$w").mkString(" ")
    sc.classifyAbsorb(Seq((300L, t)).toDF("doc_id", "text"))
    sc.compact()
    assert(sc.currentVersion === 2)
    assert(!new java.io.File(s"$dir/v1").exists(), "old version dir removed")
    // post-compaction classify still sees the absorbed doc
    val st = statuses(sc.classify(Seq((400L, t)).toDF("doc_id", "text")))
    assert(st === Seq((400L, "exact")))
    // reopen from disk only
    val sc2 = StandingCorpus.open(spark, dir)
    assert(sc2.currentMeta.nDocs === 101L)
    val st2 = statuses(sc2.classify(Seq((401L, t)).toDF("doc_id", "text")))
    assert(st2 === Seq((401L, "exact")))
  }

  test("pushed-key probes (the past-the-ceiling path) equal the bulk verdicts") {
    val dir = tmpDir()
    val corpus = mkDocs(0L until 200L)
    val sc = StandingCorpus.build(corpus, null, dir)
    sc.keyPushdownOverride = Some(true) // the gate only opens past MaxParts x perPart
    sc.driverReplicaOff = true // the pruned-read fold, as past the replica gate
    val base = mkDocs(Seq(0L, 5L)).select(col("text")).as[String].collect()
    val batch = Seq(
      (1000L, base(0)),                                               // exact
      (1002L, base(1).split(" ").dropRight(1).mkString(" ") + " y1"), // near
      (1003L, (0 until 30).map(w => s"pk$w").mkString(" "))           // fresh
    ).toDF("doc_id", "text")
    val trickle = statuses(sc.classifyAbsorb(batch))
    val bulk = statuses(Dedup.incrementalStatus(
      corpus, StandingCorpus.sign(corpus, sc.currentMeta), batch,
      StandingCorpus.sign(batch, sc.currentMeta)))
    assert(trickle === bulk, "pushed-key trickle must equal the bulk path")
    assert(trickle.toMap.apply(1000L) === "exact")
    assert(trickle.toMap.apply(1002L) === "near")
    assert(trickle.toMap.apply(1003L) === "new")
    // the absorb (whose admit-under-cap count also reads through the
    // pushed probes) must have indexed the fresh doc
    val again = statuses(sc.classify(
      Seq((1100L, (0 until 30).map(w => s"pk$w").mkString(" "))).toDF("doc_id", "text")))
    assert(again === Seq((1100L, "exact")))
  }

  test("Lsh.admitUnderCap equals capBuckets over the grown union for monotone ids") {
    // the one-shared-owner pin (round-13 verdict #5): the append-time
    // admit discipline and the batch re-cap must be the same semantics
    val mk = (ids: Seq[Long]) => {
      val sigs = mkDocs(ids).select(col("doc_id"),
        graft.functions.GraftFunctions.minhash_signature(
          graft.functions.GraftFunctions.shingle_hashes_md5(
            graft.core.Shingling.shingles(col("text"), 3, byWord = true))).as("sig"))
      sigs
    }
    val lsh = Lsh.Params(maxBucketSize = 2)
    // shared text families force over-cap buckets across the split
    val standingSigs = mk(0L until 12L)
    val newSigs = mk(12L until 20L)
    val standing = Lsh.postings(standingSigs, "doc_id", "sig", lsh)
      .localCheckpoint(true)
    val newKeys = Lsh.postings(newSigs, "doc_id", "sig", lsh)
    val standCnt = standing
      .join(newKeys.select("band", "key64", "key64b").distinct(),
        Seq("band", "key64", "key64b"))
      .groupBy("band", "key64", "key64b").agg(count(lit(1)).as("_cnt"))
    val admitted = standing.select("id", "band", "key64", "key64b")
      .unionByName(Lsh.admitUnderCap(newKeys, standCnt, lsh.maxBucketSize))
    val recap = Lsh.postings(standingSigs.unionByName(mk(12L until 20L)),
      "doc_id", "sig", lsh).select("id", "band", "key64", "key64b")
    assert(admitted.exceptAll(recap).count() === 0L &&
      recap.exceptAll(admitted).count() === 0L,
      "admitUnderCap + standing must equal capBuckets over the union")
    // uncapped contract: everything admitted
    assert(Lsh.admitUnderCap(newKeys, null, 0).count() === newKeys.count())
  }

  test("background compaction: ingest continues, swap adopts the new version") {
    val dir = tmpDir()
    val sc = StandingCorpus.build(mkDocs(0L until 100L), null, dir)
    sc.compactEveryBatches = 1
    sc.compactInBackground = true
    val tA = (0 until 30).map(w => s"bg$w").mkString(" ")
    val tB = (0 until 30).map(w => s"bh$w").mkString(" ")
    // batch A triggers a background build; batch B absorbs while (or
    // right after) it runs — its delta must survive the swap
    assert(statuses(sc.classifyAbsorb(Seq((900L, tA)).toDF("doc_id", "text")))
      === Seq((900L, "new")))
    assert(statuses(sc.classifyAbsorb(Seq((901L, tB)).toDF("doc_id", "text")))
      === Seq((901L, "new")))
    sc.awaitCompaction()
    assert(sc.currentVersion >= 2, "background compaction must have swapped in")
    assert(!new java.io.File(s"$dir/v1").exists(), "old version dir removed")
    val st = statuses(sc.classify(
      Seq((910L, tA), (911L, tB)).toDF("doc_id", "text"))).toMap
    assert(st(910L) === "exact" && st(911L) === "exact",
      "both pre- and mid-compaction absorbs must be visible after the swap")
    // reopen from disk resumes at the compacted version
    sc.awaitCompaction()
    sc.compact()
    val sc2 = StandingCorpus.open(spark, dir)
    assert(sc2.currentMeta.nDocs === 102L)
    assert(statuses(sc2.classify(Seq((912L, tA)).toDF("doc_id", "text")))
      === Seq((912L, "exact")))
  }

  test("a failed background compaction is kept as state; ingest and the published version stay") {
    val dir = tmpDir()
    val sc = StandingCorpus.build(mkDocs(0L until 100L), null, dir)
    sc.compactEveryBatches = 1
    sc.compactInBackground = true
    // a regular file where the compacted version is published: the
    // build's final rename fails
    assert(new java.io.File(s"$dir/v2").createNewFile())
    val (tA, tB) = (words("cf").mkString(" "), words("cg").mkString(" "))
    assert(statuses(sc.classifyAbsorb(Seq((900L, tA)).toDF("doc_id", "text")))
      === Seq((900L, "new")))
    sc.awaitCompaction()
    assert(sc.lastCompactionFailure.exists(_.getMessage.contains("could not publish")),
      s"the failure is recorded: ${sc.lastCompactionFailure}")
    assert(sc.currentVersion === 1)
    assert(!new java.io.File(s"$dir/.build-v2").exists(), "the failed build's scratch is released")
    assert(statuses(sc.classify(Seq((910L, tA)).toDF("doc_id", "text"))) === Seq((910L, "exact")),
      "the absorbed doc stays live in the retained deltas")
    assert(StandingCorpus.open(spark, dir).currentVersion === 1)
    // the next compaction publishes and clears the failure
    assert(statuses(sc.classifyAbsorb(Seq((901L, tB)).toDF("doc_id", "text")))
      === Seq((901L, "new")))
    sc.awaitCompaction()
    assert(sc.lastCompactionFailure.isEmpty && sc.currentVersion === 2)
    val st = statuses(sc.classify(Seq((911L, tA), (912L, tB)).toDF("doc_id", "text"))).toMap
    assert(st(911L) === "exact" && st(912L) === "exact")
  }

  test("each standing table's driver partition bucket equals its Column form") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val longs = Gen.frequency(
      1 -> Gen.oneOf(Long.MinValue, Long.MinValue + 1, -1L, 0L, 1L, Long.MaxValue),
      1 -> Gen.choose(-1000L, 1000L),
      3 -> Gen.long)
    val hex = Gen.frequency(
      1 -> Gen.oneOf("0" * 32, "f" * 32, "7" + "f" * 31, "8" + "0" * 31),
      3 -> Gen.listOfN(32, Gen.oneOf("0123456789abcdef".toSeq)).map(_.mkString))
    val rowGen = for {
      text <- Gen.alphaNumStr
      h <- hex
      id <- longs
      key <- longs
    } yield Row(text, h, id, key)
    val rows = (0 until 500).flatMap(i => rowGen.apply(Gen.Parameters.default, Seed(20261019L + i)))
    assert(rows.length === 500)
    // an RDD-backed frame: the Column forms run as a codegen job
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), StructType(Seq(
      StructField("text", StringType), StructField("hex", StringType),
      StructField("id", LongType), StructField("key", LongType))))
      .withColumn("md5", md5(col("text")))
    for (p <- Seq(1, 3, 16, 97, 4096, 65536)) {
      df.select(col("md5"), col("hex"), col("id"), col("key"),
        StandingCorpus.pbHash(col("md5"), p), StandingCorpus.pbHash(col("hex"), p),
        StandingCorpus.pbSig(col("id"), p), StandingCorpus.pbIdx(col("key"), p))
        .collect().foreach { r =>
          val what = s"p=$p row=$r"
          assert(StandingCorpus.pbHashLocal(r.getString(0), p) === r.getInt(4), s"md5 $what")
          assert(StandingCorpus.pbHashLocal(r.getString(1), p) === r.getInt(5), s"hex $what")
          assert(StandingCorpus.pbSigLocal(r.getLong(2), p) === r.getInt(6), s"id $what")
          assert(StandingCorpus.pbIdxLocal(r.getLong(3), p) === r.getInt(7), s"key64 $what")
        }
    }
  }

  test("uncapped params (maxBucketSize <= 0): absorbed docs are still found by later batches") {
    val dir = tmpDir()
    // maxBucketSize <= 0 is Lsh.capBuckets' UNCAPPED contract — absorb
    // must append every posting, not drop them all (round-13 advice)
    val sc = StandingCorpus.build(mkDocs(0L until 50L), null, dir,
      lsh = Lsh.Params(maxBucketSize = 0))
    val fresh = (0 until 30).map(w => s"u$w").mkString(" ")
    val near = (0 until 29).map(w => s"u$w").mkString(" ") + " uz"
    assert(statuses(sc.classifyAbsorb(Seq((900L, fresh)).toDF("doc_id", "text")))
      === Seq((900L, "new")))
    val st = statuses(sc.classify(
      Seq((901L, fresh), (902L, near)).toDF("doc_id", "text"))).toMap
    assert(st(901L) === "exact", "uncapped absorb must index the new doc's hash")
    assert(st(902L) === "near", "uncapped absorb must append the new doc's postings")
  }

  test("null text rows classify as 'new' on both paths (no NPE in pruning)") {
    val dir = tmpDir()
    val sc = StandingCorpus.build(mkDocs(0L until 50L), null, dir)
    val batch = Seq((800L -> Option(mkDocs(Seq(0L)).select(col("text")).as[String].head())),
      (801L -> Option.empty[String]))
      .map { case (id, t) => (id, t.orNull) }.toDF("doc_id", "text")
    val trickle = statuses(sc.classify(batch))
    sc.trickleMaxDocs = 0L // force bulk
    val bulk = statuses(sc.classify(batch))
    assert(trickle === bulk, "null-keyed rows must fall through identically")
    assert(trickle.toMap.apply(801L) === "new")
    assert(trickle.toMap.apply(800L) === "exact")
  }

  test("all-duplicate batches (empty deltas) do not trigger a compaction rewrite") {
    val dir = tmpDir()
    val sc = StandingCorpus.build(mkDocs(0L until 50L), null, dir)
    sc.compactEveryBatches = 2
    sc.compactInBackground = false // this pins the SYNC scheduled path
    val dup = mkDocs(Seq(0L)).select(col("text")).as[String].head()
    // two all-dup batches hit the compaction trigger with nothing to fold
    assert(statuses(sc.classifyAbsorb(Seq((700L, dup)).toDF("doc_id", "text")))
      === Seq((700L, "exact")))
    assert(statuses(sc.classifyAbsorb(Seq((701L, dup)).toDF("doc_id", "text")))
      === Seq((701L, "exact")))
    assert(sc.currentVersion === 1,
      "empty deltas must short-circuit compact(), not rewrite the corpus")
    // and the counter actually reset: a real absorb later still compacts
    val fresh = (0 until 30).map(w => s"v$w").mkString(" ")
    sc.classifyAbsorb(Seq((702L, fresh)).toDF("doc_id", "text"))
    sc.classifyAbsorb(Seq((703L, dup)).toDF("doc_id", "text"))
    assert(sc.currentVersion === 2, "non-empty deltas must still compact on schedule")
    assert(statuses(sc.classify(Seq((704L, fresh)).toDF("doc_id", "text")))
      === Seq((704L, "exact")))
  }

  test("bulk fallback path (batch > trickleMaxDocs) matches trickle verdicts") {
    val dir = tmpDir()
    val sc = StandingCorpus.build(mkDocs(0L until 50L), null, dir)
    val batch = mkDocs(Seq(0L, 1L)).select((col("doc_id") + 700L).as("doc_id"), col("text"))
    val trickle = statuses(sc.classify(batch))
    sc.trickleMaxDocs = 1L // force the bulk path
    val bulk = statuses(sc.classify(batch))
    assert(trickle === bulk)
  }

  test("standing replica: verdicts and admitted postings equal the pruned-read fold") {
    // capped (over-cap standing buckets, in-batch cap, admit-under-cap
    // against base and delta counts) and uncapped params, with absorbs
    // on both sides of a background-compaction swap; the replica seeded
    // by build and the one open() loads from disk alike
    for (lsh <- Seq(Lsh.Params(maxBucketSize = 3), Lsh.Params(maxBucketSize = 0))) {
      val on = buildCapped(lsh)
      val reopened = StandingCorpus.open(spark, buildCapped(lsh).dir)
      val off = buildCapped(lsh)
      off.driverReplicaOff = true
      val all = Seq(on, reopened, off)
      all.foreach { sc =>
        sc.compactEveryBatches = 2
        sc.compactInBackground = true
      }
      val batches = trickleBatches
      batches.zipWithIndex.foreach { case (b, i) =>
        // batch 3 absorbs while (or right after) batch 2's background
        // compaction builds; batches 4-5 run on the swapped-in version
        if (i == 3) all.foreach(_.awaitCompaction())
        val st = statuses(on.classifyAbsorb(b))
        assert(st === statuses(reopened.classifyAbsorb(b)), s"reopened, batch ${i + 1}, $lsh")
        assert(st === statuses(off.classifyAbsorb(b)), s"batch ${i + 1}, $lsh")
      }
      all.foreach(_.awaitCompaction())
      assert(all.forall(_.currentVersion >= 2))
      assertSamePostings(on, reopened, s"admitted postings, reopened, $lsh")
      assertSamePostings(on, off, s"admitted postings, $lsh")
      // the swap kept the replica: a later batch still runs no job
      val again = batches.head
      val (st, jobs) = jobsIn(statuses(on.classify(again)))
      assert(jobs === 0, "a swap must not drop the replica")
      assert(st === statuses(off.classify(again)))
      assert(st.map(_._2).forall(_ != "new"), s"every doc of a re-posted batch is held: $st")
    }
  }

  test("trickle absorb stays on the driver path: classify + absorb, then classifyAbsorb at zero jobs") {
    val lsh = Lsh.Params(maxBucketSize = 3)
    val split = buildCapped(lsh)
    val joint = buildCapped(lsh)
    val batches = trickleBatches
    val st1 = split.classify(batches.head)
    split.absorb(batches.head, st1)
    assert(statuses(st1) === statuses(joint.classifyAbsorb(batches.head)))
    assertSamePostings(split, joint, "absorb must admit what classifyAbsorb admits")
    batches.tail.zipWithIndex.foreach { case (b, i) =>
      val (st, jobs) = jobsIn(statuses(split.classifyAbsorb(b)))
      assert(jobs === 0, s"batch ${i + 2} ran $jobs Spark jobs")
      assert(st === statuses(joint.classifyAbsorb(b)), s"batch ${i + 2}")
    }
    assertSamePostings(split, joint, "after batches 2-5")
  }

  test("driver batch signer equals StandingCorpus.sign (word/char; empty, short and null texts)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(20261019L)
    val pieces = Seq("a", "b", "ab", "abc", "é", "日本", "x1", " ", "  ", "\t", "\n")
    val texts: Seq[String] = (0 until 400).map { i =>
      i % 10 match {
        case 0 => null
        case 1 => ""
        case 2 => pieces(rnd.nextInt(pieces.size))
        case _ => Seq.fill(rnd.nextInt(30))(pieces(rnd.nextInt(pieces.size))).mkString
      }
    }
    // an RDD-backed frame: the Catalyst side runs as a codegen job, not
    // folded into a LocalRelation on the driver
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }, 4),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    for (byWord <- Seq(true, false); k <- Seq(1, 3, 5)) {
      val meta = StandingCorpus.Meta(1, 0L, 16, 16, 16, k, byWord, 32, 128, 5000, 0.5)
      val catalyst = StandingCorpus.sign(df, meta)
        .join(df.select(col("doc_id"), md5(col("text")).as("_h")), "doc_id")
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(2)) null else r.getString(2), r.getSeq[Long](1)))
        .toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        val (h, sig) = StandingCorpus.signLocal(
          if (t == null) null else t.getBytes(java.nio.charset.StandardCharsets.UTF_8), k, byWord)
        val (eh, esig) = catalyst(i.toLong)
        assert(h === eh, s"md5 of ${Option(t).map(_.take(20))}, k=$k, byWord=$byWord")
        assert(sig.toSeq === esig, s"sig of ${Option(t).map(_.take(20))}, k=$k, byWord=$byWord")
      }
    }
  }

  test("past the replica gate the trickle fold keeps its pruned reads") {
    // the gate: the query replica's 2^17 docs and 2^20 (= docs x bands) postings
    assert(StandingCorpus.replicaFits(32768L, 32) && !StandingCorpus.replicaFits(32769L, 32))
    assert(StandingCorpus.replicaFits(1L << 17, 4) && !StandingCorpus.replicaFits((1L << 17) + 1, 4))
    val sc = StandingCorpus.build(mkDocs(0L until 300L), null, tmpDir())
    val batch = Seq((5000L, mkDocs(Seq(40L)).select(col("text")).as[String].head()),
      (5001L, words("pg").mkString(" "))).toDF("doc_id", "text")
    val (onSt, onJobs) = jobsIn(statuses(sc.classify(batch)))
    assert(onJobs === 0, "under the gate a trickle classify runs no job")
    sc.driverReplicaOff = true // as a corpus past the gate
    val (offSt, offJobs) = jobsIn(statuses(sc.classify(batch)))
    assert(offJobs > 0, "past the gate the base is read through the pruned reads")
    assert(offSt === onSt)
    sc.driverReplicaOff = false // reloads the replica
    val (backSt, backJobs) = jobsIn(statuses(sc.classify(batch)))
    assert(backJobs === 0 && backSt === onSt)
  }

  test("a failed parallel build surfaces every writer's error and releases its checkpoints") {
    // a regular file where the corpus dir's parent should be: all three
    // table writes fail
    val blocker = java.io.File.createTempFile("graft-standing-spec", ".file")
    blocker.deleteOnExit()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[Exception](
      StandingCorpus.build(mkDocs(0L until 20L), null, s"${blocker.getPath}/corpus"))
    // (Spark attaches its own caller-stacktrace marker as one more)
    val attached = e.getSuppressed.filterNot(_.getClass.getSimpleName == "OriginalTryStackTraceException")
    assert(attached.length === 2,
      s"the two writer threads' errors ride on the thrown one: ${e.getSuppressed.toSeq}")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "the signature and postings checkpoints must be released")
  }
}
