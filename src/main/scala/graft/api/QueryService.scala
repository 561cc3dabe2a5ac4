package graft.api

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** HTTP transport for [[QueryEngine]] — the reference's primary entry
  * point (`POST /query`, query_service.py:139-196) over the JDK's
  * built-in `com.sun.net.httpserver` (no new dependency).
  *
  * Request:  `{"vector": [<u64 signature>...], "k": 10,
  * "max_candidates": 2000}` (k optional, default 10 —
  * query_service.py:46; max_candidates optional, default the
  * reference's 2000 cap (minhash_lsh.py:70), 0 = full band scan —
  * the engine's deterministic semantics, SURVEY §7.4).
  * Response: `{"candidates": [{"id":..,"score":..,"vector_preview":
  * [..]}]}`, score-desc, padded with id=-1/score=0.0 to k (O12/O21).
  *
  * Serving shape: a warmed engine answers a single-vector probe from the
  * driver replica with ZERO Spark jobs, in-process — served at ~1.5 ms
  * p50 over HTTP on a 20k-doc index (perfbench `query`, 4-core box) — so
  * a cached thread pool of handlers is plenty; the heavy lifting (index
  * build) happened before `serve`. Errors mirror the reference's
  * envelope (query_service.py:162-163): a malformed body, a missing
  * vector, a non-integral element or a vector whose length is not the
  * index's signature width returns 400 `{"error": ...}`, and any other
  * failure inside a handler returns 500 with the same envelope instead of
  * dropping the connection. */
object QueryService {
  // TCP_NODELAY on exchange sockets: without it, small request/response
  // pairs stall on the Nagle + delayed-ACK interaction — measured as a
  // flat ~50 ms per POST against a few-ms in-process probe (BenchHttp's
  // first run: p50 48-56 ms at EVERY concurrency). The JDK server reads
  // this property once, in ServerConfig's static init, so it must be set
  // before the first HttpServer is created — this object owns every
  // create call, so its own initializer is early enough.
  System.setProperty("sun.net.httpserver.nodelay", "true")

  private val mapper = new ObjectMapper()

  /** Standalone entry: `runMain graft.api.QueryService <corpus> [port]`
    * — build + warm an index and serve, the end-to-end demo of the
    * reference's service (curl_query.sh). `<corpus>` is either a parquet
    * corpus of (doc_id, text) or the reference's own `data/` output
    * directory (detected by `sigs.npy` — served via
    * [[QueryEngine.fromReferenceDir]] with no conversion step). */
  def main(args: Array[String]): Unit = {
    val corpus = args(0)
    val port = if (args.length > 1) args(1).toInt else 8000
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val engine =
      (if (new java.io.File(s"$corpus/sigs.npy").exists())
        QueryEngine.fromReferenceDir(spark, corpus)
      else QueryEngine.build(spark.read.parquet(corpus))).warmUp()
    val server = serve(engine, port)
    println(s"[query-service] serving POST /query on port ${server.getAddress.getPort}")
    Thread.currentThread().join()
  }

  /** Start serving `engine` on `port` (0 = ephemeral; read the bound
    * port from the returned server). Caller owns the server lifecycle
    * (`stop`) and the engine's (`close`). */
  def serve(engine: QueryEngine, port: Int): HttpServer =
    serve(engine, None, port)

  /** As [[serve]], optionally also exposing a [[VectorEngine]] at
    * `POST /vquery` — the embedding-side probe over the same server
    * (the reference serves only signature probes; a user replacing it
    * for vector workloads needs the same HTTP boundary). Request:
    * `{"vector": [<float>...], "k": 10, "nprobe": 3, "mode": "ivfpq"}`
    * (all but vector optional); response
    * `{"candidates": [{"id":..,"rank":..}]}`, rank 1 best. With the
    * vector engine's serving model warm ([[VectorEngine.warmServing]])
    * a hot ivfpq probe is the zero-Spark-job in-process path, so the
    * handler cost mirrors `/query`'s. */
  def serve(engine: QueryEngine, vec: Option[VectorEngine], port: Int): HttpServer =
    serve(engine, vec, None, port)

  /** As [[serve]], optionally also exposing a standing-corpus dedup
    * state at `POST /dedup` — the trickle-ingest boundary (the one
    * engine surface that had no HTTP row: a crawler posts a micro-batch,
    * gets per-doc verdicts, and the batch's `new` docs join the standing
    * corpus so the NEXT post sees them as duplicates).
    *
    * Request: `{"docs":[{"id":1,"text":"..."}...], "absorb":true}`
    * (absorb optional, default true — false = classify-only probe).
    * Response: `{"statuses":[{"id":1,"status":"exact"|"near"|"new"}...]}`
    * in request order. MUTATING requests (absorb) SERIALIZE on the
    * corpus write lock (StandingCorpus is single-ingest-loop by
    * contract — HTTP concurrency must not interleave two absorbs);
    * CLASSIFY-ONLY requests are read-only probes and run CONCURRENTLY
    * under the read lock (the round-14 verdict's serving finding: the
    * old whole-corpus monitor queued c8 classify p50 at ~8 s of pure
    * waiting). A micro-batch request runs no Spark job while the
    * standing corpus is under its driver-replica gate, and a few
    * partition-pruned reads past it — never a corpus scan
    * (BenchHttpDedup measures the boundary, incl. the zero-mismatch
    * check under concurrency). */
  def serve(engine: QueryEngine, vec: Option[VectorEngine],
            dedup: Option[graft.operators.StandingCorpus], port: Int): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/query", (exchange: HttpExchange) => handle(engine, exchange))
    vec.foreach { v =>
      server.createContext("/vquery", (exchange: HttpExchange) => handleVec(v, exchange))
    }
    dedup.foreach { d =>
      val lock = new java.util.concurrent.locks.ReentrantReadWriteLock()
      server.createContext("/dedup", (exchange: HttpExchange) => handleDedup(d, lock, exchange))
    }
    // a real handler pool: the JDK default runs EVERY handler on the
    // single dispatcher thread, serializing all requests — measured as a
    // hard ~220 qps ceiling at any client concurrency (BenchHttp). The
    // probe paths are thread-safe by design (monitor-disciplined caches,
    // spec-pinned under concurrent load), so handlers parallelize freely;
    // cached pool = zero threads when idle. Daemon threads: HttpServer.stop
    // never shuts its executor down, and idle non-daemon pool threads would
    // hold the JVM open for the pool's 60 s keep-alive after a stop.
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(handlerThreads))
    server.start()
    server
  }

  private val handlerThreadCount = new java.util.concurrent.atomic.AtomicInteger()
  private val handlerThreads: java.util.concurrent.ThreadFactory = (r: Runnable) => {
    val t = new Thread(r, s"graft-http-handler-${handlerThreadCount.incrementAndGet()}")
    t.setDaemon(true)
    t
  }

  private def errorJson(msg: String): String =
    s"""{"error":${mapper.writeValueAsString(msg)}}"""

  /** Answer one exchange: 405 unless POST, else `answer(body)`; any
    * exception `answer` lets escape becomes a 500 envelope, so a client
    * always receives a response. Error strings are Jackson-serialized:
    * parser messages can embed quotes/control chars (source excerpts),
    * which an interpolated envelope would emit as invalid JSON. */
  private def respond(ex: HttpExchange)(answer: String => (Int, String)): Unit = {
    try {
      val (status, body) =
        try {
          if (ex.getRequestMethod != "POST") (405, errorJson("POST required"))
          else answer(new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
        } catch {
          case scala.util.control.NonFatal(e) => (500, errorJson(s"internal error: $e"))
        }
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(status, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
    } finally ex.close()
  }

  private def handle(engine: QueryEngine, ex: HttpExchange): Unit =
    respond(ex) { raw =>
      parse(raw) match {
        case Left(err) => (400, errorJson(err))
        case Right((vector, k, maxCand)) =>
          // QueryEngine.query rejects a vector of the wrong width
          try (200, toJson(engine.query(vector, k, maxCand)))
          catch { case e: IllegalArgumentException => (400, errorJson(String.valueOf(e.getMessage))) }
      }
    }

  private def handleVec(engine: VectorEngine, ex: HttpExchange): Unit =
    respond(ex) { raw =>
      parseVec(raw) match {
        case Left(err) => (400, errorJson(err))
        case Right((vector, k, nprobe, mode)) =>
          try {
            val hits = engine.query(vector, k, mode, nprobe)
            (200, hits.map { case (id, rank) => s"""{"id":$id,"rank":$rank}""" }
              .mkString("""{"candidates":[""", ",", "]}"))
          } catch {
            // a lean engine refusing a float-rescoring mode, or an
            // unknown mode: the caller's error, reference envelope
            case e @ (_: IllegalStateException | _: IllegalArgumentException) =>
              (400, errorJson(String.valueOf(e.getMessage)))
          }
      }
    }

  private def handleDedup(standing: graft.operators.StandingCorpus,
                          lock: java.util.concurrent.locks.ReentrantReadWriteLock,
                          ex: HttpExchange): Unit =
    respond(ex) { raw =>
      parseDedup(raw) match {
        case Left(err) => (400, errorJson(err))
        case Right((docs, absorb)) =>
          val spark = standing.spark
          val df = spark.createDataFrame(
            java.util.Arrays.asList(docs.map { case (id, text) =>
              org.apache.spark.sql.Row(id, text) }: _*),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("doc_id",
                org.apache.spark.sql.types.LongType, nullable = false),
              org.apache.spark.sql.types.StructField("text",
                org.apache.spark.sql.types.StringType, nullable = true))))
          // single-ingest-loop contract for MUTATION: absorbs hold
          // the write lock exclusively. Classifies are read-only and
          // share the read lock — concurrent probes no longer queue
          // behind each other; any completed background compaction
          // is swapped under the write lock FIRST so the read-locked
          // path never mutates standing state.
          val st =
            if (absorb) {
              val w = lock.writeLock(); w.lock()
              try standing.classifyAbsorb(df) finally w.unlock()
            } else {
              if (standing.compactionReady) {
                val w = lock.writeLock(); w.lock()
                try standing.swapCompactedIfReady() finally w.unlock()
              }
              val r = lock.readLock(); r.lock()
              try standing.classifyShared(df) finally r.unlock()
            }
          val byId = st.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
          (200, docs.map { case (id, _) =>
            s"""{"id":$id,"status":"${byId(id)}"}"""
          }.mkString("""{"statuses":[""", ",", "]}"))
      }
    }

  /** Parse `{"docs":[{"id":n,"text":s}...], "absorb":b}`. */
  private def parseDedup(raw: String): Either[String, (Seq[(Long, String)], Boolean)] =
    try {
      val root = mapper.readTree(raw)
      val docs = root.get("docs")
      if (docs == null || !docs.isArray || docs.isEmpty)
        Left("missing or empty docs")
      else {
        val out = Vector.newBuilder[(Long, String)]
        var err: String = null
        var i = 0
        while (i < docs.size() && err == null) {
          val d = docs.get(i)
          if (d == null || !d.hasNonNull("id")) err = s"docs[$i] missing id"
          // asLong() silently coerces non-numeric ids to 0 — two
          // malformed docs would then collide on id 0 and read each
          // other's verdict from the byId map; reject instead.
          // BOTH checks: canConvertToLong alone only range-checks
          // doubles, so fractional ids (1.2, 1.7) would truncate and
          // could still collide on the same long; canConvertToExactIntegral
          // alone accepts out-of-long-range BigIntegers that asLong clamps
          else if (!d.get("id").canConvertToLong ||
                   !d.get("id").canConvertToExactIntegral)
            err = s"docs[$i] id is not an integral number"
          else out += ((d.get("id").asLong(),
            if (d.hasNonNull("text")) d.get("text").asText() else null))
          i += 1
        }
        if (err != null) Left(err)
        else {
          val absorb =
            if (root.hasNonNull("absorb")) root.get("absorb").asBoolean(true) else true
          Right((out.result(), absorb))
        }
      }
    } catch { case e: Exception => Left(s"malformed JSON: ${e.getMessage}") }

  /** Parse `{"vector":[<float>...], "k":n, "nprobe":n, "mode":s}`. */
  private def parseVec(raw: String): Either[String, (Array[Float], Int, Int, String)] =
    try {
      val root = mapper.readTree(raw)
      val vec = root.get("vector")
      if (vec == null || !vec.isArray || vec.isEmpty)
        Left("missing or empty vector")
      else {
        val arr = new Array[Float](vec.size())
        var i = 0
        while (i < arr.length) { arr(i) = vec.get(i).asDouble().toFloat; i += 1 }
        val k = if (root.hasNonNull("k")) root.get("k").asInt(10) else 10
        val np = if (root.hasNonNull("nprobe")) root.get("nprobe").asInt(3) else 3
        val mode = if (root.hasNonNull("mode")) root.get("mode").asText("ivfpq") else "ivfpq"
        if (k <= 0) Left("k must be positive")
        else if (np <= 0) Left("nprobe must be positive")
        else Right((arr, k, np, mode))
      }
    } catch { case e: Exception => Left(s"malformed JSON: ${e.getMessage}") }

  private def toJson(cands: Seq[QueryEngine.Candidate]): String =
    cands.map { c =>
      s"""{"id":${c.id},"score":${c.score},"vector_preview":[${c.vectorPreview.mkString(",")}]}"""
    }.mkString("""{"candidates":[""", ",", "]}")

  /** Parse `{"vector":[...], "k":n, "max_candidates":n}`; jackson rides
    * in from Spark's own classpath. Long.MIN/MAX-range values only —
    * signatures are mod 2^61-1, well inside. */
  private def parse(raw: String): Either[String, (Array[Long], Int, Int)] =
    try {
      val root = mapper.readTree(raw)
      val vec = root.get("vector")
      if (vec == null || !vec.isArray || vec.isEmpty)
        Left("missing or empty vector")
      else {
        // asLong() silently coerces "a" to 0 and truncates 1.5 to 1 —
        // shifted scores, answered 200; reject as parseDedup does ids
        val bad = (0 until vec.size()).find { i =>
          !vec.get(i).canConvertToLong || !vec.get(i).canConvertToExactIntegral
        }
        val arr = Array.tabulate(vec.size())(vec.get(_).asLong())
        val k = if (root.hasNonNull("k")) root.get("k").asInt(10) else 10
        val mc = if (root.hasNonNull("max_candidates"))
          root.get("max_candidates").asInt(2000) else 2000
        if (bad.isDefined) Left(s"vector[${bad.get}] is not an integral number")
        else if (k <= 0) Left("k must be positive") else Right((arr, k, mc))
      }
    } catch { case e: Exception => Left(s"malformed JSON: ${e.getMessage}") }
}
