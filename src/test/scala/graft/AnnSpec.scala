package graft

import graft.operators.Ann
import graft.functions.GraftFunctions._
import org.apache.spark.sql.functions._

/** ANN operators: IVF recall against brute force, RHP bucket self-match,
  * and CSV round-trip of a results table (O28's CSV sink). */
class AnnSpec extends SparkSpec {

  private lazy val embs =
    spark.read.parquet(s"$testDataDir/embeddings.parquet").cache()

  test("IVF with all clusters probed equals brute force exactly") {
    val cents = embs.filter(col("vec_id") < 6)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cv"))
    val queries = embs.filter(col("vec_id") < 8)
    val ivf = Ann.ivfTopK(embs, cents, queries, k = 5, nprobe = 6)
      .orderBy("query_id", "rank").collect().map(r => (r.getLong(0), r.getLong(2)))
    val brute = Ann.bruteForceTopK(embs, queries, k = 5, cosine_sim)
      .orderBy("query_id", "rank").collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(ivf.toSeq == brute.toSeq)
  }

  test("IVF nprobe=2 keeps decent recall and always finds the query itself") {
    val cents = embs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cv"))
    val queries = embs.filter(col("vec_id") < 20)
    val ivf = Ann.ivfTopK(embs, cents, queries, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // self-match: each query's own vector lives in its nearest cluster,
    // which is always probed -> rank 1 is the query itself
    (0L until 20L).foreach(q => assert(ivf.contains((q, 1, q)), s"query $q"))
    val brute = Ann.bruteForceTopK(embs, queries, k = 5, cosine_sim)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
    val hits = ivf.groupBy(_._1).map { case (q, rows) =>
      rows.map(_._3).toSet.intersect(brute(q).map(_._2).toSet).size
    }.sum
    assert(hits >= 20 * 5 * 0.5, s"recall too low: $hits/100")
  }

  test("multi-probe LSH candidates dominate single-probe rank-for-rank and lift recall toward exact") {
    val queries = embs.filter(col("vec_id") < 10)
    def hits(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSeq
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val single = hits(Ann.lshCosineTopK(embs, queries, k = 5, planes = 8))
    val multi = hits(Ann.multiProbeCosineTopK(embs, queries, k = 5, planes = 8))
    val exact = hits(Ann.bruteForceTopK(embs, queries, k = 5, cosine_sim))
    // candidate superset: every single-probe hit list is a subset of what
    // multi-probe could return, so overlap with exact never decreases
    val recall = (m: Map[Long, Seq[Long]]) =>
      exact.keys.toSeq.map(q => m.getOrElse(q, Nil).count(exact(q).contains)).sum
    assert(multi.keySet == exact.keySet) // probes always cover the query's own bucket
    assert(recall(multi) >= recall(single))
    // self-match: the query vector itself always survives at rank 1
    multi.foreach { case (q, ids) => assert(ids.head == q) }
  }

  test("filtered search returns only same-label hits and matches the restricted brute force") {
    val queries = embs.filter(col("vec_id") < 10)
    val got = Ann.filteredTopK(embs, queries, k = 5)
    val labels = embs.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    got.collect().foreach { r =>
      assert(labels(r.getLong(2)) == labels(r.getLong(0)),
        s"query ${r.getLong(0)} hit ${r.getLong(2)} crosses labels")
    }
    // per query, identical to brute force over only that query's label slice
    val qLabel = labels(3L)
    val restricted = Ann.bruteForceTopK(
      embs.filter(col("label") === qLabel), embs.filter(col("vec_id") === 3), k = 5, cosine_sim)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq.sorted
    val mine = got.filter(col("query_id") === 3)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq.sorted
    assert(mine == restricted)
  }

  test("RRF fusion ranks ids present in both lists above single-list ids at equal rank") {
    import spark.implicits._
    val a = Seq((1L, 1, 10L), (1L, 2, 11L), (1L, 3, 12L)).toDF("query_id", "rank", "id")
    val b = Seq((1L, 1, 20L), (1L, 2, 11L), (1L, 3, 21L)).toDF("query_id", "rank", "id")
    val fused = Ann.rrfFuse(a, b, k = 5).orderBy("rank")
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    // id 11 appears in both (ranks 2+2: 2/62) — beats every single-list id (max 1/61)
    assert(fused.head == (1, 11L), fused.toSeq.toString)
    // equal single-list scores tie-break by id: rank-1 ids 10 and 20 next
    assert(fused.slice(1, 3).map(_._2).toSeq == Seq(10L, 20L), fused.toSeq.toString)
  }

  test("results table writes and reads back as JSON lines") {
    val dir = tempDir("graft-json")
    val queries = embs.filter(col("vec_id") < 3)
    val res = Ann.bruteForceTopK(embs, queries, k = 3, cosine_sim)
    res.write.mode("overwrite").json(dir)
    val back = spark.read.json(dir)
    assert(back.count() == res.count())
    assert(back.columns.sorted.toSeq == Seq("id", "query_id", "rank"))
  }

  test("results table writes and reads back as CSV (O28 sink)") {
    val dir = tempDir("graft-csv")
    val queries = embs.filter(col("vec_id") < 5)
    val res = Ann.bruteForceTopK(embs, queries, k = 3, cosine_sim)
    res.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(dir)
    assert(back.count() == res.count())
    assert(back.columns.toSeq == Seq("query_id", "rank", "id"))
  }
}
