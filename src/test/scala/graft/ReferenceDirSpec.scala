package graft

import graft.core.MinHashPipeline
import graft.sources.ReferenceDir
import org.apache.spark.sql.functions._

/** The reference's complete `data/` directory as one boundary.
  *
  * Import direction: `refdir_fixture` was written by the REFERENCE'S OWN
  * code path (shingle_document + MinHash.batch_signature + np.save +
  * pickle.dump — tools/make_pickle_fixture.py); loading it and matching
  * the engine's ref-family kernel against the numpy-written sigs.npy is
  * a full-circle parity check with no Python at test time. Export
  * direction: save → load round-trip over engine-built frames. */
class ReferenceDirSpec extends SparkSpec {

  private def fixture = getClass.getResource("/refdir_fixture").getPath

  test("loads a CPython/numpy-written data/ dir; engine ref kernel matches its sigs.npy") {
    val loaded = ReferenceDir.load(spark, fixture)
    assert(loaded.meta == Map("num_perm" -> 128L, "k_shingle" -> 3L,
      "by_word" -> true, "seed" -> 42L))

    val docs = loaded.docs.orderBy("row_idx").collect()
    assert(docs.length == 5)
    assert(docs.map(_.getString(1)).toSeq ==
      (0 until 5).map(i => f"doc_$i%06d"))
    assert(docs(1).getString(2).startsWith("unicode: café"))

    // shingles.pkl (reference's shingle_document output) == the engine's
    // shingler over docs.pkl, including the <k-words whole-doc fallback
    // and the empty doc
    val engineSh = MinHashPipeline.withShingles(
        loaded.docs, "text", MinHashPipeline.Params(kShingle = 3))
      .select(col("row_idx"), array_sort(col("shingles")).as("sh"))
      .orderBy("row_idx").collect().map(_.getSeq[String](1))
    val fileSh = loaded.shingles.orderBy("row_idx").collect()
      .map(_.getSeq[String](1))
    assert(engineSh.toSeq == fileSh.toSeq)

    // sigs.npy (numpy-written from the reference's MinHash) == the
    // engine's SHA-1/wrap signature kernel recomputed from docs.pkl —
    // bit-for-bit, including the unicode doc
    val recomputed = MinHashPipeline.withSignature(
        loaded.docs, "text", MinHashPipeline.Params(kShingle = 3))
      .select("row_idx", "sig").orderBy("row_idx").collect()
      .map(_.getSeq[Long](1))
    val fromNpy = loaded.sigs.orderBy("row_idx").collect()
      .map(_.getSeq[Long](1))
    assert(fromNpy.length == 5)
    recomputed.zip(fromNpy).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"signature mismatch at row $i")
    }

    // hist_edges.npy (numpy-written: np.histogram per sig dimension) ==
    // Qed.histogramEdges over the same sigs — pins BOTH the uint64 ->
    // float64 conversion (round-to-odd for the high half) and the
    // linspace expression tree, bit-for-bit, 128 dims x 257 edges
    val fileEdges = loaded.edges.get.orderBy("dim").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1))
    val engEdges = graft.core.Qed.histogramEdges(loaded.sigs, "sig", unsigned = true)
      .orderBy("dim").collect()
      .map(r => r.getInt(0).toLong -> r.getSeq[Double](1))
    assert(fileEdges.length == 128 && fileEdges.forall(_._2.length == 257))
    engEdges.zip(fileEdges).foreach { case ((d1, a), (d2, b)) =>
      assert(d1 == d2)
      assert(a == b, s"edge mismatch at dim $d1")
    }
  }

  test("an engine serves /query straight from the reference's artifacts") {
    val engine = graft.api.QueryEngine.fromReferenceDir(spark, fixture).warmUp()
    try {
      assert(engine.mpParams.kShingle == 3 && engine.mpParams.byWord)
      val q0 = ReferenceDir.load(spark, fixture).sigs
        .orderBy("row_idx").head().getSeq[Long](1).toArray
      val res = engine.query(q0, k = 3)
      assert(res.head.id == 0L && res.head.score == 1.0)
      // raw text through the meta-restored shingle space signs with the
      // same ref-family kernel the fixture's sigs.npy was built with, so
      // it lands on its own doc with estimated Jaccard 1.0
      val resT = engine.queryText(
        "hello world of shingles and minhash signatures", k = 3)
      assert(resT.head.id == 0L && resT.head.score == 1.0)
    } finally engine.close()
  }

  test("histogramEdges widens a degenerate dimension ±0.5 like np.histogram") {
    import spark.implicits._
    val df = Seq((0L, Seq(3.0, 1.0)), (1L, Seq(3.0, 2.0))).toDF("vec_id", "v")
    val e = graft.core.Qed.histogramEdges(df, "v", nBins = 4)
      .orderBy("dim").collect().map(_.getSeq[Double](1))
    assert(e(0) == Seq(2.5, 2.75, 3.0, 3.25, 3.5)) // lo==hi -> [lo-.5, hi+.5]
    assert(e(1) == Seq(1.0, 1.25, 1.5, 1.75, 2.0))
  }

  test("save → load round-trips engine-built frames") {
    import spark.implicits._
    val out = tempDir("refdir_rt")
    val docs = Seq((0L, "alpha beta gamma delta"), (1L, "x y"), (2L, ""))
      .toDF("doc_id", "text")
    val shingled = MinHashPipeline.withSignature(docs, "text",
      MinHashPipeline.Params(kShingle = 3))
    ReferenceDir.save(docs,
      shingled.select(col("doc_id"), col("sig")),
      shingled.select(col("doc_id"), col("shingles")), out)
    val loaded = ReferenceDir.load(spark, out)
    assert(loaded.docs.orderBy("row_idx").collect().map(_.getString(2)).toSeq ==
      Seq("alpha beta gamma delta", "x y", ""))
    assert(loaded.meta("num_perm") == 128L)
    val sigBack = loaded.sigs.orderBy("row_idx").collect().map(_.getSeq[Long](1))
    val sigOrig = shingled.orderBy("doc_id").collect()
      .map(_.getAs[scala.collection.Seq[Long]]("sig"))
    assert(sigBack.toSeq == sigOrig.toSeq)
    val shBack = loaded.shingles.orderBy("row_idx").collect().map(_.getSeq[String](1))
    val shOrig = shingled.orderBy("doc_id")
      .select(array_sort(col("shingles"))).collect().map(_.getSeq[String](0))
    assert(shBack.toSeq == shOrig.toSeq)
  }
}
