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
    Corpus(p, ids.zip(sigs), ids(rnd.nextInt(n)), sig())
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
  /** A small corpus: distinct ids (negative ones included) in shuffled
    * order, signatures over a tiny alphabet so band buckets collide, some
    * signatures planted copies of others so equal scores force the
    * id-asc tiebreak, and one referenced id whose signature row is
    * dropped from the signature table. */
  final case class Corpus(p: Lsh.Params, rows: Seq[(Long, Array[Long])],
                          unsigned: Long, fresh: Array[Long])
}
