package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.api.{QueryEngine, QueryService}

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.jdk.CollectionConverters._

/** End-to-end HTTP smoke of the reference's primary entry point
  * (query_service.py:139-196 / curl_query.sh): build the engine over the
  * checked-in reference corpus, POST the #1025 fixture vector over real
  * HTTP, and match reference_expected.json. */
class QueryServiceSpec extends SparkSpec {

  private lazy val mapper = new ObjectMapper()
  private lazy val expected = mapper.readTree(
    getClass.getResourceAsStream("/reference_expected.json"))
  private def longs(field: String): Seq[Long] =
    expected.get(field).elements().asScala.map(_.asLong()).toSeq
  private def doubles(field: String): Seq[Double] =
    expected.get(field).elements().asScala.map(_.asDouble()).toSeq

  private def post(port: Int, body: String): (Int, String) = {
    val client = HttpClient.newHttpClient()
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/query"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("POST /query on the #1025 fixture reproduces reference_expected.json over HTTP") {
    val corpus = spark.read.parquet(
      getClass.getResource("/reference_corpus.parquet").getPath)
    val eng = QueryEngine.build(corpus,
      mp = graft.core.MinHashPipeline.Params(kShingle = 1, byWord = true)).warmUp()
    val server = QueryService.serve(eng, port = 0)
    try {
      val port = server.getAddress.getPort
      val qSig = longs("query_sig")

      // full-band-scan semantics (max_candidates=0) -> the fixture's
      // deterministic top-5, ids AND scores, over the wire
      val (st, body) = post(port,
        s"""{"vector":[${qSig.mkString(",")}],"k":5,"max_candidates":0}""")
      assert(st == 200, body)
      val cands = mapper.readTree(body).get("candidates")
      assert(cands.size() == 5)
      val ids = (0 until 5).map(cands.get(_).get("id").asLong())
      val sims = (0 until 5).map(cands.get(_).get("score").asDouble())
      assert(ids == longs("det_top5_ids"))
      assert(sims == doubles("det_top5_sims"))
      // previews ride along (worker_tasks.py returns (id, score, preview))
      assert(cands.get(0).get("vector_preview").size() == 10)

      // transport parity: the default-capped POST byte-equals the
      // in-process queryJson the engine serves from its driver replica
      val (st2, body2) = post(port, s"""{"vector":[${qSig.mkString(",")}],"k":5}""")
      assert(st2 == 200)
      assert(body2 == eng.queryJson(qSig.toArray, k = 5))

      // error envelope mirrors the reference (query_service.py:162-163)
      val (st3, body3) = post(port, """{"k":5}""")
      assert(st3 == 400 && body3.contains("error"))
      val (st4, body4) = post(port, """not json""")
      assert(st4 == 400 && body4.contains("error"))
    } finally {
      server.stop(0)
      eng.close()
    }
  }

  test("POST /query rejects malformed vectors with a 400 envelope") {
    val corpus = spark.read.parquet(
      getClass.getResource("/reference_corpus.parquet").getPath)
    val eng = QueryEngine.build(corpus,
      mp = graft.core.MinHashPipeline.Params(kShingle = 1, byWord = true)).warmUp()
    val server = QueryService.serve(eng, port = 0)
    try {
      val port = server.getAddress.getPort
      val qSig = longs("query_sig")
      def rejected(vector: Seq[String], why: String): Unit = {
        val (st, body) = post(port, s"""{"vector":[${vector.mkString(",")}],"k":5}""")
        assert(st == 400 && mapper.readTree(body).get("error").asText().contains(why),
          s"$st $body")
      }
      // a short vector's bands hit real buckets (it used to throw in the
      // scoring loop and drop the connection); a long one was answered 200
      rejected(qSig.take(127).map(_.toString), "127 elements")
      rejected((qSig ++ Seq(1L, 2L)).map(_.toString), "130 elements")
      // "a" used to coerce to 0 and 1.5 to truncate to 1, both answered 200
      rejected("\"a\"" +: qSig.tail.map(_.toString), "vector[0]")
      rejected(qSig.init.map(_.toString) :+ "1.5", "vector[127]")
      // the well-formed vector still answers
      assert(post(port, s"""{"vector":[${qSig.mkString(",")}],"k":5}""")._1 == 200)
    } finally {
      server.stop(0)
      eng.close()
    }
  }

  test("a failure inside the /query handler answers 500 with the error envelope") {
    import spark.implicits._
    // a corrupt saved index: doc 2's signature is two slots wider than the
    // index's 128, so the replica declines and the probe cache's scoring
    // fails on it — the client must still get a response
    val rnd = new scala.util.Random(3)
    val sig = Seq.fill(128)(rnd.nextLong(1L << 40))
    val sigs = Seq(1L -> sig, 2L -> (sig ++ Seq(7L, 8L))).toDF("doc_id", "sig")
    val dir = tempDir("graft-corrupt-index")
    sigs.write.parquet(s"$dir/signatures")
    graft.core.Lsh.postings(sigs, "doc_id", "sig").write.parquet(s"$dir/postings")
    val eng = QueryEngine.load(spark, dir).warmUp()
    assert(graft.core.Lsh.driverIndexFor(eng.index).isEmpty)
    val server = QueryService.serve(eng, port = 0)
    try {
      val (st, body) = post(server.getAddress.getPort, s"""{"vector":[${sig.mkString(",")}],"k":5}""")
      assert(st == 500, body)
      assert(mapper.readTree(body).get("error").asText().startsWith("internal error"), body)
    } finally {
      server.stop(0)
      eng.close()
    }
  }

  test("concurrent mixed hot/cold load returns bit-identical responses (round 12)") {
    // the BenchHttp scenario at spec scale: an engine ABOVE warm-up's
    // replica path is not forced — use an un-warmed engine so probes
    // route through the shared LRU ProbeCache, where racing fetches and
    // evictions are possible. 8 client threads hammer overlapping hot
    // keys and thread-disjoint cold keys over real HTTP; every response
    // must byte-equal the single-threaded answer captured AFTER the run
    // (the cache's contract: hot/cold/racing all bit-identical).
    val docs = spark.read.parquet(s"$testDataDir/documents.parquet")
    val eng = QueryEngine.build(docs,
      mp = graft.core.MinHashPipeline.Params(kShingle = 3))
    val server = QueryService.serve(eng, port = 0)
    try {
      val port = server.getAddress.getPort
      val sigOf = eng.sigs.filter(org.apache.spark.sql.functions.col("doc_id") < 500)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
      val hot = Seq(3L, 9L, 21L, 413L)
      val results = new java.util.concurrent.ConcurrentHashMap[(Long, Int), String]()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      val futures = (0 until 8).map { t =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            val client = HttpClient.newHttpClient()
            // per-thread cold key (disjoint) + the shared hot set, x5
            val keys = (hot :+ (50L + t)) ++ hot ++ hot ++ hot ++ hot
            keys.zipWithIndex.foreach { case (id, j) =>
              val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/query"))
                .POST(HttpRequest.BodyPublishers.ofString(
                  s"""{"vector":[${sigOf(id).mkString(",")}],"k":5}""")).build()
              results.put((id, t * 1000 + j),
                client.send(req, HttpResponse.BodyHandlers.ofString()).body())
            }
          }
        })
      }
      futures.foreach(_.get())
      pool.shutdown()
      // expected answers, single-threaded, after the dust settles
      val expectedById = (hot ++ (0 until 8).map(50L + _)).map { id =>
        id -> eng.queryJson(sigOf(id), k = 5)
      }.toMap
      results.forEach { (key, body) =>
        assert(body == expectedById(key._1), s"id=${key._1} diverged under load")
      }
      assert(results.size() == 8 * 21)
    } finally {
      server.stop(0)
      eng.close()
    }
  }

  test("POST /dedup classifies micro-batches and evolves the standing corpus over HTTP") {
    import spark.implicits._
    val docs = (0L until 120L).map { i =>
      val fam = i - (i % 5)
      (i, (0 until 25).map(w => s"w${(fam * 31 + w) % 97}").mkString(" "))
    }.toDF("doc_id", "text")
    val dir = tempDir("graft-dedup-http")
    val standing = graft.operators.StandingCorpus.build(docs, null, dir)
    val lshEng = QueryEngine.build(
      spark.read.parquet(s"$testDataDir/documents.parquet"))
    val server = QueryService.serve(lshEng, None, Some(standing), port = 0)
    try {
      val port = server.getAddress.getPort
      def dpost(body: String): (Int, String) = {
        val client = HttpClient.newHttpClient()
        val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/dedup"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(body)).build()
        val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
        (resp.statusCode(), resp.body())
      }
      val dupText = docs.filter($"doc_id" === 0L).head().getString(1)
      val freshText = (0 until 25).map(w => s"hz$w").mkString(" ")
      // batch 1: one exact dup + one fresh, absorbed
      val (c1, b1) = dpost(
        s"""{"docs":[{"id":9000,"text":"$dupText"},{"id":9001,"text":"$freshText"}],"absorb":true}""")
      assert(c1 == 200, b1)
      assert(b1 ==
        """{"statuses":[{"id":9000,"status":"exact"},{"id":9001,"status":"new"}]}""",
        "statuses must come back in request order")
      // batch 2: the absorbed fresh text must now be an exact dup —
      // state evolved THROUGH the HTTP boundary
      val (c2, b2) = dpost(
        s"""{"docs":[{"id":9100,"text":"$freshText"}],"absorb":false}""")
      assert(c2 == 200 && b2.contains(""""status":"exact""""), b2)
      // classify-only must NOT have evolved state: repeat with a new id
      val (c3, b3) = dpost(
        s"""{"docs":[{"id":9200,"text":"classify only probe text one two"}],"absorb":false}""")
      assert(c3 == 200 && b3.contains(""""status":"new""""), b3)
      val (c4, b4) = dpost(
        s"""{"docs":[{"id":9201,"text":"classify only probe text one two"}],"absorb":false}""")
      assert(c4 == 200 && b4.contains(""""status":"new""""),
        s"classify-only must not absorb: $b4")
      // error envelopes
      assert(dpost("""{"absorb":true}""")._1 == 400)
      assert(dpost("""{"docs":[]}""")._1 == 400)
      assert(dpost("""{"docs":[{"text":"no id"}]}""")._1 == 400)
      assert(dpost("not json")._1 == 400)
    } finally {
      server.stop(0)
      lshEng.close()
    }
  }

  test("POST /vquery serves vector probes: served tier answers, errors enveloped") {
    import org.apache.spark.sql.functions.col
    // round 12: the embedding-side probe over the same HTTP server — a
    // warmed VectorEngine answers /vquery from the in-process serving
    // tier; responses must equal the engine API bit-for-bit.
    val embs = spark.read.parquet(s"$testDataDir/embeddings.parquet")
    val lshEng = QueryEngine.build(
      spark.read.parquet(s"$testDataDir/documents.parquet")).warmUp()
    val vecEng = graft.api.VectorEngine.build(embs).warmUp().warmServing()
    val server = QueryService.serve(lshEng, Some(vecEng), port = 0)
    try {
      val port = server.getAddress.getPort
      def vpost(body: String): (Int, String) = {
        val client = HttpClient.newHttpClient()
        val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/vquery"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(body)).build()
        val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
        (resp.statusCode(), resp.body())
      }
      for (vid <- Seq(0L, 7L, 63L)) {
        val v = embs.filter(col("vec_id") === vid).head().getSeq[Float](1).toArray
        val want = vecEng.query(v, k = 5, mode = "ivfpq", nprobe = 3)
          .map { case (id, rank) => s"""{"id":$id,"rank":$rank}""" }
          .mkString("""{"candidates":[""", ",", "]}")
        val (code, body) = vpost(
          s"""{"vector":[${v.mkString(",")}],"k":5,"nprobe":3,"mode":"ivfpq"}""")
        assert(code == 200, body)
        assert(body == want, s"vid=$vid")
      }
      // defaults: k=10, nprobe=3, mode=ivfpq
      val v0 = embs.filter(col("vec_id") === 0L).head().getSeq[Float](1).toArray
      val (cDef, bDef) = vpost(s"""{"vector":[${v0.mkString(",")}]}""")
      assert(cDef == 200)
      assert(bDef == vecEng.query(v0, k = 10, mode = "ivfpq", nprobe = 3)
        .map { case (id, rank) => s"""{"id":$id,"rank":$rank}""" }
        .mkString("""{"candidates":[""", ",", "]}"))
      // the /query context is untouched by the second endpoint
      val someSig = lshEng.sigs.limit(1).head().getSeq[Long](1).toArray
      val (cq, bq) = post(port, s"""{"vector":[${someSig.mkString(",")}],"k":3}""")
      assert(cq == 200 && bq.startsWith("""{"candidates":["""))
      // error envelope: bad body, empty vector, unknown mode
      assert(vpost("""{"k":5}""")._1 == 400)
      assert(vpost("""{"vector":[]}""")._1 == 400)
      val (cBad, bBad) = vpost(s"""{"vector":[${v0.mkString(",")}],"mode":"nope"}""")
      assert(cBad == 400 && bBad.contains("unknown mode"), bBad)
    } finally {
      server.stop(0)
      vecEng.close()
      lshEng.close()
    }
  }

  test("stop leaves no non-daemon handler thread holding the JVM open") {
    val corpus = spark.read.parquet(
      getClass.getResource("/reference_corpus.parquet").getPath)
    val eng = QueryEngine.build(corpus,
      mp = graft.core.MinHashPipeline.Params(kShingle = 1, byWord = true)).warmUp()
    val qSig = longs("query_sig")
    val before = Thread.getAllStackTraces.keySet.asScala.toSet
    val server = QueryService.serve(eng, port = 0)
    try {
      val port = server.getAddress.getPort
      // several concurrent posts, so the pool holds more than one thread
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        val fs = (0 until 8).map { _ =>
          pool.submit(() => post(port, s"""{"vector":[${qSig.mkString(",")}],"k":5}"""))
        }
        fs.foreach(f => assert(f.get()._1 == 200))
      } finally pool.shutdown()
      assert(pool.awaitTermination(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      server.stop(0)
      eng.close()
    }
    val lingering = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && !t.isDaemon && !before(t))
    assert(lingering.isEmpty,
      s"non-daemon threads left after stop: ${lingering.map(_.getName).mkString(", ")}")
  }
}
