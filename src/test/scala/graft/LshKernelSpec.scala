package graft

import graft.api.QueryEngine
import graft.core.Lsh
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The driver-local probe kernel — the flat-array replica
  * (Lsh.queryDriverIndex), the probe cache (Lsh.queryProbeCached) and the
  * driver-folded capped plans (Lsh.querySignature, Lsh.queryBatch) —
  * against the cold Catalyst plan, and the replica's zero-job contract. */
class LshKernelSpec extends SparkSpec {
  import LshKernelSpec.Corpus
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  private val corpusGen: Gen[Corpus] = for {
    p <- Gen.oneOf(Lsh.Params(bands = 8, numPerm = 16, maxBucketSize = 4),
      Lsh.Params(bands = 32, numPerm = 128, maxBucketSize = 3))
    alphabet = if (p.rows == 2) 3L else 2L
    n <- Gen.choose(8, 40)
    seed <- Gen.long
  } yield {
    val rnd = new scala.util.Random(seed)
    def sig() = Array.fill(p.numPerm)(rnd.nextLong(alphabet))
    val ids = rnd.shuffle((-n.toLong until 3L * n).toVector).take(n)
    val sigs = (0 until n).foldLeft(Vector.empty[Array[Long]]) { (made, i) =>
      made :+ (if (i > 0 && rnd.nextInt(4) == 0) made(rnd.nextInt(i)) else sig())
    }
    val unsigned = rnd.nextInt(n)
    val twin = (unsigned + 1 + rnd.nextInt(n - 1)) % n
    // the twin's second row keeps its first 10 slots, so the vector
    // preview is the same whichever of its rows scores best
    val second = sigs(twin).take(10) ++ sig().drop(10)
    Corpus(p, ids.zip(sigs) :+ (ids(twin) -> second), ids(unsigned), sig())
  }

  private def catalyst(sigs: DataFrame, index: DataFrame, q: Array[Long], k: Int,
                       p: Lsh.Params, cap: Int): Seq[(Long, Double, Seq[Long])] =
    Lsh.querySignature(sigs, index, q, k, p, maxCandidates = cap).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Long](2).toSeq)).toSeq

  /** Capped or uncapped `Lsh.queryBatch` at top-`k`, as each query's
    * (id, score) list, best first. */
  private def batch(sigs: DataFrame, index: DataFrame, qs: Seq[Array[Long]], k: Int,
                    p: Lsh.Params, cap: Int): Seq[Seq[(Long, Double)]] = {
    val queries = qs.zipWithIndex.map { case (q, i) => (i.toLong, q.toSeq) }.toDF("query_id", "sig")
    val got = Lsh.queryBatch(sigs, index, queries, k, p, maxCandidates = cap).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    qs.indices.map(i => got.filter(_._1 == i).sortBy(_._2).map(r => (r._3, r._4)).toSeq)
  }

  test("replica and probe-cache kernels equal the Catalyst plan over random corpora") {
    var probes = 0
    val (ks, caps) = (Seq(1, 5, 100), Seq(0, 1, 3, 2000))
    samples(corpusGen, 8, seed = 17L).foreach { c =>
      val all = c.rows.map { case (id, s) => (id, s.toSeq) }.toDF("doc_id", "sig")
      val index = Lsh.postings(all, "doc_id", "sig", c.p).cache()
      // the index references c.unsigned, but its signature row is gone
      val sigs = all.filter(col("doc_id") =!= c.unsigned).cache()
      val queries = Seq(c.rows.head._2, c.fresh)
      val combos = for (q <- queries.indices; k <- ks; cap <- caps) yield (q, k, cap)
      def ctx(q: Int, k: Int, cap: Int) = s"params=${c.p} n=${c.rows.length} q=$q k=$k cap=$cap"
      // the reference: the plan over the COLD index, whose capped probes
      // fold sizes fetched by a stats join — never a driver table below
      val want = combos.map { case (q, k, cap) =>
        (q, k, cap) -> catalyst(sigs, index, queries(q), k, c.p, cap)
      }.toMap
      // every tier below runs the one driver fold; the cold batch's
      // in-plan fold (allowedBandPrefix) anchors the reference to the
      // distributed one
      def assertBatches(tier: String): Unit = caps.foreach { cap =>
        batch(sigs, index, queries, ks.max, c.p, cap).zipWithIndex.foreach { case (got, q) =>
          assert(got == want((q, ks.max, cap)).map(h => (h._1, h._2)), s"$tier batch ${ctx(q, ks.max, cap)}")
        }
      }
      def assertProbeCache(tier: String): Unit = combos.foreach { case (q, k, cap) =>
        if (cap > 0) assert(Lsh.queryProbeCached(sigs, index, Lsh.queryKeysLocal(queries(q), c.p),
          queries(q), k, cap) == want((q, k, cap)), s"$tier probe cache ${ctx(q, k, cap)}")
      }
      assertBatches("cold")
      assertProbeCache("cold")
      assert(Lsh.warmDriverIndex(sigs, index))
      val di = Lsh.driverIndexFor(index).get
      combos.foreach { case (q, k, cap) =>
        val keys = Lsh.queryKeysLocal(queries(q), c.p)
        assert(Lsh.queryDriverIndex(di, keys, queries(q), k, cap) == want((q, k, cap)),
          s"replica ${ctx(q, k, cap)}")
        probes += 1
      }
      assertBatches("replica")
      // the bucket-size table alone, as for an index past the replica bounds
      Lsh.evictDriverState(index)
      assert(Lsh.warmDriverStats(index) && Lsh.driverIndexFor(index).isEmpty)
      combos.foreach { case (q, k, cap) =>
        assert(catalyst(sigs, index, queries(q), k, c.p, cap) == want((q, k, cap)),
          s"stats-only plan ${ctx(q, k, cap)}")
      }
      assertBatches("stats-only")
      assertProbeCache("stats-only")
      Lsh.evictDriverState(index)
      index.unpersist(); sigs.unpersist()
    }
    assert(probes == 8 * 2 * 12)
  }

  test("random appends grow the driver index as a boxed model does") {
    val w = 8
    val rnd = new scala.util.Random(20261020L)
    def hex() = Seq.fill(32)("0123456789abcdef"(rnd.nextInt(16))).mkString
    def sig() = Array.fill(w)(rnd.nextLong(3))
    for (round <- 0 until 40) {
      val ix = new Lsh.DriverIndex
      val outside = new Lsh.DriverIndex
      // the model: occupancy and members per (key64, key64b), rows per id, md5s
      val occ = scala.collection.mutable.Map.empty[(Long, Long), Int].withDefaultValue(0)
      val outOcc = scala.collection.mutable.Map.empty[(Long, Long), Int].withDefaultValue(0)
      val mem = scala.collection.mutable.Map.empty[(Long, Long), Vector[Long]].withDefaultValue(Vector.empty)
      val rows = scala.collection.mutable.Map.empty[Long, List[Array[Long]]].withDefaultValue(Nil)
      val md5s = scala.collection.mutable.Set.empty[String]
      val cap = Seq(0, 1, 3)(round % 3)
      def key() = { val k = rnd.nextInt(6).toLong; (k * 0x5851F42D4C957F2DL, -k) }
      val held = Seq.fill(12)(hex())
      for (_ <- 0 until 1 + rnd.nextInt(5)) {
        // out-of-order and repeated ids, null-id postings, null signatures
        val posts = Seq.fill(rnd.nextInt(20)) { val (k, kb) = key(); (rnd.nextInt(10) - 3L, k, kb) }
        val nulls = Seq.fill(rnd.nextInt(3))(key())
        val signed = Seq.fill(rnd.nextInt(6))((rnd.nextInt(12) - 3L, if (rnd.nextInt(4) == 0) null else sig()))
        val hs = Seq.fill(rnd.nextInt(4))(held(rnd.nextInt(held.size)))
        val outsidePosts = Seq.fill(rnd.nextInt(4))(key())
        outside.append(Lsh.Rows(nullPosts = outsidePosts.flatMap(t => Seq(t._1, t._2)).toArray), 0, null)
        outsidePosts.foreach(outOcc(_) += 1)
        val admitted = ix.append(Lsh.Rows(
          posts = posts.flatMap { case (id, k, kb) => Seq(id, 0L, k, kb) }.toArray,
          nullPosts = nulls.flatMap(t => Seq(t._1, t._2)).toArray,
          sigIds = signed.map(_._1).toArray, sigs = signed.map(_._2).toArray,
          md5s = Lsh.md5Pairs(hs.iterator)), cap, outside)
        val want = posts.filter { case (id, k, kb) =>
          val in = cap <= 0 || occ((k, kb)) + outOcc((k, kb)) < cap
          if (in) { occ((k, kb)) += 1; mem((k, kb)) :+= id }
          in
        }
        assert(admitted.toSeq == want.flatMap { case (id, k, kb) => Seq(id, 0L, k, kb) }, s"admitted, cap=$cap")
        nulls.foreach(occ(_) += 1)
        signed.foreach { case (id, s) => if (s != null) rows(id) ::= s }
        md5s ++= hs
      }
      for (k <- 0L until 6L; t = (k * 0x5851F42D4C957F2DL, -k)) {
        assert(ix.size(t._1, t._2) == occ(t), s"occupancy of $t, cap=$cap")
        val got = Vector.newBuilder[Long]
        ix.foreachMember(t._1, t._2)(got += _)
        assert(got.result() == mem(t), s"members of $t, cap=$cap")
      }
      for (id <- -3L until 9L; q <- rows(id) :+ sig()) {
        // near at the best row's score and not one slot above it: the id
        // scores by its best row, and an id without rows never scores
        val best = rows(id).map(s => s.indices.count(i => s(i) == q(i))).maxOption
        assert(best.forall(m => ix.near(id, q, m.toDouble / w)), s"id $id, cap=$cap")
        assert(!ix.near(id, q, best.fold(0.0)(m => (m + 1).toDouble / w)), s"id $id, cap=$cap")
      }
      held.foreach(h => assert(ix.holdsMd5(h) == md5s(h), s"md5 $h"))
    }
  }

  private def countJobs(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // the listener bus delivers asynchronously; any job the body ran
      // was submitted (and waited on) synchronously, so a bounded drain
      // is enough for its start event to reach the listener
      Thread.sleep(1000)
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a warmed replica probe runs zero Spark jobs at any k or cap") {
    val docs = spark.read.parquet(s"$testDataDir/documents.parquet")
    val eng = QueryEngine.build(docs,
      mp = graft.core.MinHashPipeline.Params(kShingle = 3)).warmUp()
    val di = Lsh.driverIndexFor(eng.index).get
    val qs = eng.sigs.filter(col("doc_id").isin(0L, 7L, 413L)).collect()
      .map(_.getSeq[Long](1).toArray)
    val jobs = countJobs {
      for (q <- qs; k <- Seq(1, 5, 1000); cap <- Seq(0, 1, 3, 2000)) {
        val hits = Lsh.queryDriverIndex(di, Lsh.queryKeysLocal(q, eng.params), q, k, cap)
        assert(hits.nonEmpty && hits.head._2 == 1.0)
        assert(eng.query(q, k, cap).take(hits.length).map(c => (c.id, c.score, c.vectorPreview)) == hits)
      }
    }
    assert(jobs == 0, s"replica probes fired $jobs Spark job(s); expected 0")
    eng.close()
  }

  test("a mixed-width signature table declines the replica and is served by the probe cache") {
    val rnd = new scala.util.Random(5)
    val wide = Array.fill(128)(rnd.nextLong(2))
    // doc 2 shares doc 1's first 64 slots, so both land in its buckets
    val rows = Seq(1L -> wide.toSeq, 2L -> wide.take(64).toSeq,
      3L -> Seq.fill(128)(rnd.nextLong(2)))
    val sigs = rows.toDF("doc_id", "sig").cache()
    val index = Lsh.postings(sigs, "doc_id", "sig").cache()
    assert(!Lsh.warmDriverIndex(sigs, index))
    assert(Lsh.driverIndexFor(index).isEmpty)
    for (cap <- Seq(1, 3, 2000)) {
      val want = catalyst(sigs, index, wide, 5, Lsh.Params(), cap)
      assert(want.map(_._1).contains(2L), s"cap=$cap")
      assert(Lsh.queryProbeCached(sigs, index, Lsh.queryKeysLocal(wide), wide, 5, cap) == want,
        s"cap=$cap")
    }
    Lsh.evictDriverState(index)
    index.unpersist(); sigs.unpersist()
  }
}

object LshKernelSpec {
  /** A small corpus: ids (negative ones included) in shuffled order,
    * signatures over a tiny alphabet so band buckets collide, some
    * signatures planted copies of others so equal scores force the
    * id-asc tiebreak, one referenced id whose signature row is dropped
    * from the signature table, and one id with a second, different
    * signature row (last in `rows`), which scores by its best row. */
  final case class Corpus(p: Lsh.Params, rows: Seq[(Long, Array[Long])],
                          unsigned: Long, fresh: Array[Long])
}
