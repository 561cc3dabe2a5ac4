package graft

import graft.core.{Lsh, MinHashPipeline}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the plans must be the ones that survive a
  * 100x scale-up — broadcast joins for small sides, filters and column
  * pruning pushed into the parquet scan, TakeOrderedAndProject for global
  * top-k, partial aggregation for grouped top-k, no cartesian products on
  * the LSH path. */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q02 multi-way join broadcasts the dimension tables") {
    val p = plan(SparkEntry.queries("q02_revenue_by_nation")(spark, testDataDir))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("filter and column pruning reach the parquet scan") {
    val li = spark.read.parquet(s"$testDataDir/lineitem.parquet")
    val q = li.filter(col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    val p = plan(q)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"), p)
    // scan must read only the two referenced columns
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_extendedprice"), readSchema)
  }

  test("global top-k compiles to TakeOrderedAndProject (partial + merge)") {
    val docs = spark.read.parquet(s"$testDataDir/documents.parquet")
    val sigs = MinHashPipeline.withSignature(docs, "text",
      MinHashPipeline.Params(kShingle = 3)).select("doc_id", "sig")
    val index = Lsh.postings(sigs, "doc_id", "sig")
    val qSig = sigs.filter(col("doc_id") === 0).head().getSeq[Long](1).toArray
    val p = plan(Lsh.querySignature(sigs, index, qSig, 5))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    // single-query probe broadcasts the 32-row query side and the small
    // deduped candidate set — the big sides never shuffle
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("capped probes plan without any Window and with partial top-k") {
    val docs = spark.read.parquet(s"$testDataDir/documents.parquet")
    val sigs = MinHashPipeline.withSignature(docs, "text",
      MinHashPipeline.Params(kShingle = 3)).select("doc_id", "sig")
    // maxBucketSize=0: the postings build's (partitioned, over-cap-only)
    // window branch would otherwise appear in the plan string — this test
    // pins the PROBE path, which must carry no window at all (the r2 cap
    // was a partition-less WindowExec over every hit row)
    val p0 = Lsh.Params(maxBucketSize = 0)
    val index = Lsh.postings(sigs, "doc_id", "sig", p0)
    val qSig = sigs.filter(col("doc_id") === 0).head().getSeq[Long](1).toArray
    val single = plan(Lsh.querySignature(sigs, index, qSig, 5, p0, maxCandidates = 2000))
    assert(!single.contains("Window"), single.take(3000))
    assert(!single.contains("CartesianProduct"))
    val queries = sigs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("sig"))
    val batch = plan(Lsh.queryBatch(sigs, index, queries, 5, p0, maxCandidates = 2000))
    assert(!batch.contains("Window"), batch.take(3000))
    assert(!batch.contains("CartesianProduct"))
    assert(batch.contains("partial_top_k_by_score"), batch.take(3000))
  }

  test("grouped top-k aggregate runs with partial aggregation (map-side combine)") {
    import graft.functions.TopKByScore.top_k_by_score
    import spark.implicits._
    val df = Seq((1L, 0.5, 1L), (2L, 0.6, 2L)).toDF("query_id", "score", "id")
    val p = plan(df.groupBy("query_id").agg(top_k_by_score(col("score"), col("id"), 3)))
    // ObjectHashAggregate with partial_top_k... then final: two aggregate nodes
    val aggNodes = p.linesIterator.count(l => l.contains("HashAggregate"))
    assert(aggNodes >= 2, s"expected partial+final aggregate nodes\n$p")
    assert(p.contains("partial_top_k_by_score"), p.take(3000))
  }

  test("signature pipeline is a pure narrow projection (no shuffle)") {
    val docs = spark.read.parquet(s"$testDataDir/documents.parquet")
    val sigs = MinHashPipeline.withSignature(docs, "text",
      MinHashPipeline.Params(kShingle = 3)).select("doc_id", "sig")
    val p = plan(sigs)
    assert(!p.contains("Exchange"), p)
    // formatted mode marks whole-stage-codegen operators with '*'
    assert(p.contains("* Project"), p.take(2000))
    assert("""\(\d+\) Project \[codegen id :""".r.findFirstIn(p).isDefined, p.take(2000))
  }

  test("partition pruning: partitioned parquet scans only the matching partition") {
    val dir = tempDir("graft-part")
    spark.read.parquet(s"$testDataDir/documents.parquet")
      .write.mode("overwrite").partitionBy("lang").parquet(dir)
    val q = spark.read.parquet(dir).filter(col("lang") === "en")
      .select("doc_id", "n_chars")
    val p = plan(q)
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).get
    assert(scanLine.contains("lang"), scanLine)
    val langs = spark.read.parquet(s"$testDataDir/documents.parquet")
      .select("lang").distinct().count()
    assert(langs > 1) // pruning is meaningful
    val n = q.count()
    val expected = spark.read.parquet(s"$testDataDir/documents.parquet")
      .filter(col("lang") === "en").count()
    assert(n == expected)
  }

  test("io04 catalog query prunes partitions on the bucket column") {
    val q = SparkEntry.queries("io04_partitioned_pruned")(spark, testDataDir)
    val p = plan(q)
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).get
    assert(scanLine.contains("bucket"), scanLine)
    // the data filter must NOT appear as a post-scan Filter: pruning
    // happens at file listing, so only 3 of 8 bucket dirs are read
    assert(q.rdd.getNumPartitions <= 8, q.rdd.getNumPartitions.toString)
  }

  test("LSH candidate pair join is a hash join on fixed-width keys") {
    val docs = spark.read.parquet(s"$testDataDir/documents.parquet")
    val sigs = MinHashPipeline.withSignature(docs, "text",
      MinHashPipeline.Params(kShingle = 3)).select("doc_id", "sig")
    val pairs = Lsh.candidatePairs(Lsh.postings(sigs, "doc_id", "sig"))
    // assert on the AQE-FINAL plan: the static plan's size estimates are
    // scan-statistics-dependent (it may conservatively pick SortMergeJoin
    // before runtime stats arrive), and what runs at scale is the final
    // adaptive choice
    pairs.count()
    val p = plan(pairs)
    assert(p.contains("HashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"))
  }

  test("temperature mix: corpus rank window partitions (group, bucket); quotas broadcast") {
    val docs = spark.read.parquet(s"$testDataDir/documents.parquet")
      .select("doc_id", "lang")
    val p = plan(graft.operators.Sampling.temperatureMix(docs, "lang", 3.0))
    // the per-doc row_number window must carry the hash-bucket key — a
    // whole-language corpus sort must never form (the u06 two-phase rule)
    val rn = p.indexOf("row_number()")
    assert(rn >= 0, p.take(3000))
    val spec = p.substring(rn, math.min(p.length, rn + 300))
    assert(spec.contains("_bucket"), spec)
    // the group-sized quota and bucket-prefix tables broadcast back
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"))
  }

  test("embedding near-dup plans without a distinct exchange over scored pairs") {
    import graft.operators.Dedup
    val embs = spark.read.parquet(s"$testDataDir/embeddings.parquet")
    val q = Dedup.nearEmbeddingCosine(embs, threshold = 0.1, planes = 8)
    val p = plan(q)
    // each vector lands in exactly one RHP bucket, so pairs are unique by
    // construction: the only aggregate-shaped node allowed is none at all —
    // a HashAggregate in this plan means a distinct() crept back in
    assert(!p.contains("HashAggregate"), p.take(3000))
    assert(!p.contains("CartesianProduct"))
    // the whole query is: scan -> bucket equi-join -> score+filter; the
    // only exchanges are the join's two sides (or fewer if broadcast)
    val exchanges = p.linesIterator.count(l => l.trim.startsWith("Exchange") ||
      l.contains(") Exchange"))
    assert(exchanges <= 2, s"expected <= 2 exchanges, got $exchanges\n${p.take(3000)}")
  }

  test("PQ ADC scan streams packed codes against the broadcast LUT") {
    import graft.operators.Pq
    val embs = spark.read.parquet(s"$testDataDir/embeddings.parquet")
    val books = Pq.train(embs, m = 4, subDim = 16, k = 4, iters = 1)
    val codes = Pq.packCodes(Pq.encode(embs, books, m = 4, subDim = 16))
    val q = Pq.adcTopK(codes, books, embs.filter(col("vec_id") < 3),
      k = 5, m = 4, subDim = 16, codewords = 4)
    q.count()
    val p = plan(q)
    // the per-query LUT is tiny and explicitly broadcast (a broadcast
    // nested-loop against the streamed code rows — the brute-scan shape
    // over compressed rows); the codes side must never sort or shuffle
    // for scoring
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"))
    // partial+final grouped top-k (the reference's scatter/gather shape)
    assert(p.contains("partial_top_k_by_score") || p.contains("TopKByScore"),
      p.take(3000))
  }

  test("incremental dedup: no cartesian, exact tier is a semi-join, probes candidate-gated") {
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$testDataDir/documents.parquet")
    val sigs = MinHashPipeline.withSignature(docs, "text",
      MinHashPipeline.Params(kShingle = 3)).select("doc_id", "sig")
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
    val batch = docs.filter(col("doc_id") % 10 === 7)
    val q = Dedup.incrementalStatus(corpus,
      sigs.filter(col("doc_id") % 10 =!= 7), batch,
      sigs.filter(col("doc_id") % 10 === 7), threshold = 0.5)
    val p = plan(q)
    // batch x corpus must NEVER form: the near tier goes through the
    // banded candidate equi-join, the exact tier through one hash
    // semi-join — at 100 TB both sides of a cartesian would be corpora
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("LeftSemi"), p.take(3000))
  }
}
