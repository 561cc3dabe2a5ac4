package perfbench

import graft.api.{QueryEngine, QueryService}
import graft.core.{Lsh, MinHashPipeline}
import graft.sources.SyntheticCorpus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import scala.collection.mutable.ArrayBuffer

/** `query`: the reference's own use. An index over the reference's
  * generator at the reference's scale (20k docs, vocab 20, ~40 words,
  * unigram shingles, 128 perms, 32x4 bands, bucket cap 5000), served over
  * `POST /query` to one closed-loop client from the driver replica, then
  * 1000-query `queryBatch` calls over the same index. The traced run adds
  * an 80k-doc index, past the replica's 2^20-postings gate, to time the
  * probe-cache tier. */
object QueryWorkload {
  val RefDocs = 20000L
  /** Large enough that the capped index stays above the replica's
    * postings gate (about 1.16M postings at 80k docs). */
  val ScaleDocs = 80000L
  val K = 5
  val MaxCandidates = 2000
  val Mp: MinHashPipeline.Params = MinHashPipeline.Params(kShingle = 1)
  val Lp: Lsh.Params = Lsh.Params()
  val BatchQueries = 1000
  /** Distinct measured query signatures. Both measured phases start at the
    * head of this pool, so served answers and batch answers cover the
    * same queries. */
  val MeasuredPool = 1000
  val WarmPool = 1000
  /** Closed-loop `/query` clients: with the server's handler threads they
    * fill three of the four cores, so one core's speed does not set the
    * whole phase's latency. */
  val Clients = 3
  /** Share of `--seconds` for the served phase; batches take the rest. */
  val ServedShare = 0.5

  final case class Served(queries: Array[Int], status: Array[Int], bodies: Array[String],
                          latNs: Array[Long]) {
    def p50ms: Double = Stats.median(latNs.toSeq.map(_ / 1e6))
  }

  /** [[Clients]] closed loops over `pool` for `seconds`; client c sends
    * entries c, c + Clients, c + 2 Clients, ... */
  def serveLoop(port: Int, pool: Array[Array[Long]], seconds: Double): Served = {
    val t0 = System.nanoTime()
    val runs = (0 until Clients).map { c =>
      val qs = ArrayBuffer.empty[Int]; val st = ArrayBuffer.empty[Int]
      val bs = ArrayBuffer.empty[String]; val ls = ArrayBuffer.empty[Long]
      val t = new Thread(() => {
        val http = new Http(port)
        var q = c
        while ((System.nanoTime() - t0) / 1e9 < seconds) {
          val (s, b, ns) = http.post("/query", Http.queryBody(pool(q % pool.length), K, MaxCandidates))
          qs += q % pool.length; st += s; bs += b; ls += ns
          q += Clients
        }
      }, s"perfbench-query-$c")
      t.start()
      (t, qs, st, bs, ls)
    }
    runs.foreach(_._1.join())
    Served(runs.flatMap(_._2).toArray, runs.flatMap(_._3).toArray, runs.flatMap(_._4).toArray,
      runs.flatMap(_._5).toArray)
  }

  /** Warm-up over a pool the measured phases never send: at least
    * `minSec`, then until the medians of the last two 50-request windows
    * agree within 5%, or `maxSec` passes. Returns the requests sent. */
  def warmServe(http: Http, pool: Array[Array[Long]], minSec: Double, maxSec: Double): Int = {
    val t0 = System.nanoTime()
    val lat = ArrayBuffer.empty[Double]
    def elapsed = (System.nanoTime() - t0) / 1e9
    def settled = lat.length >= 100 && {
      val a = Stats.median(lat.takeRight(100).take(50).toSeq)
      math.abs(Stats.median(lat.takeRight(50).toSeq) - a) <= 0.05 * a
    }
    while (elapsed < maxSec && (elapsed < minSec || !settled)) {
      lat += http.post("/query", Http.queryBody(pool(lat.length % pool.length), K, MaxCandidates))._3.toDouble
    }
    lat.length
  }

  def batchFrame(ctx: Ctx, pool: Array[Array[Long]], n: Int = BatchQueries): DataFrame = {
    import ctx.spark.implicits._
    (0 until n).map(i => (i.toLong, pool(i % pool.length).toSeq)).toDF("query_id", "sig")
  }

  /** queryBatch rows -> answers by query id. */
  def batchAnswers(rows: Array[org.apache.spark.sql.Row]): Map[Long, Seq[Checks.Hit]] =
    rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1).map { case (q, hs) => q -> hs.sortBy(_._2).map(h => (h._3, h._4)).toSeq }

  /** Inputs shared by the plain and the traced run. */
  final class Setup(val ctx: Ctx) {
    import ctx.spark
    val corpus: DataFrame = SyntheticCorpus.docs(spark, RefDocs, seed = ctx.seedFor(1)).cache()
    corpus.count()
    private val querySigs =
      SyntheticCorpus.docs(spark, (WarmPool + MeasuredPool).toLong, seed = ctx.seedFor(3))
        .orderBy("doc_id").select("text").collect().map(r => QueryEngine.signText(r.getString(0), Mp))
    val warmQ: Array[Array[Long]] = querySigs.take(WarmPool)
    val measQ: Array[Array[Long]] = querySigs.drop(WarmPool)
    ctx.log("inputs ready")

    /** raw text -> signatures -> capped postings -> cached -> warmUp. */
    def build(docs: DataFrame): QueryEngine = QueryEngine.build(docs, mp = Mp, lp = Lp).warmUp()

    def buildRef(): QueryEngine = {
      val e = build(corpus)
      if (Lsh.driverIndexFor(e.index).isEmpty) ctx.die("the 20k-doc index has no driver replica")
      e
    }

    /** Warm the server on the warm-up pool. */
    def warmServed(http: Http): Unit =
      ctx.log(s"served warm-up: ${warmServe(http, warmQ, 2.5, 4.0)} requests")

    /** Warm the batch path on the warm-up pool; returns its seconds. */
    def warmBatch(engine: QueryEngine): Double = {
      val (_, wb) = Clock.time(engine.queryBatch(batchFrame(ctx, warmQ), K, MaxCandidates).collect())
      ctx.log(f"batch warm-up: $wb%.2f s")
      wb
    }
  }

  def run(ctx: Ctx): Result = {
    val s = new Setup(ctx)
    if (ctx.trace.enabled) traced(s) else plain(s)
  }

  private def plain(s: Setup): Result = {
    val ctx = s.ctx
    val (ref, buildS) = Clock.time(s.buildRef())
    val server = QueryService.serve(ref, 0)
    try {
      val http = new Http(server.getAddress.getPort)
      // each measured phase right after its own warm-up; the batch warm-up
      // between them counts as set-up
      s.warmServed(http)
      val servedAt = ctx.sinceStart
      val served = serveLoop(server.getAddress.getPort, s.measQ, ServedShare * ctx.seconds)
      val setupS = servedAt + s.warmBatch(ref)
      val batchTimes = ArrayBuffer.empty[Double]
      var firstBatch: Map[Long, Seq[Checks.Hit]] = null
      var batchFailed = 0
      val tb = System.nanoTime()
      while ((System.nanoTime() - tb) / 1e9 < (1 - ServedShare) * ctx.seconds) {
        try {
          val (rows, t) = Clock.time(ref.queryBatch(batchFrame(ctx, s.measQ), K, MaxCandidates).collect())
          if (firstBatch == null) firstBatch = batchAnswers(rows)
          batchTimes += t
        } catch {
          case e: Exception => ctx.log(s"batch failed: $e"); batchFailed += 1
        }
      }
      ctx.log(f"index built in $buildS%.2f s; measured ${served.latNs.length} requests " +
        f"(p50 ${served.p50ms}%.3f ms), batches ${batchTimes.map(t => f"$t%.2f").mkString(" ")} s")

      val problems = check(s, ref, served, firstBatch)
      problems.take(20).foreach(p => ctx.log(s"CHECK FAILED: $p"))
      val perS = batchTimes.length * BatchQueries / batchTimes.sum
      Result(problems.isEmpty, served.latNs.length + batchTimes.length + batchFailed,
        served.status.count(_ != 200) + batchFailed,
        Seq(Metric("setup_s", setupS, "s"), Metric("p50_ms", served.p50ms, "ms"),
          Metric("per_s", perS, "1/s")),
        Seq(Metric("setup_s", setupS, "s"), Metric("index_build_s", buildS, "s"),
          Metric("served_ref_p50_ms", served.p50ms, "ms"),
          Metric("batch_queries_per_s", perS, "1/s")))
    } finally server.stop(0)
  }

  /** Every output check of the plain run, on the signatures read back
    * from the engine; returns the violations. */
  private def check(s: Setup, engine: QueryEngine, served: Served,
                    firstBatch: Map[Long, Seq[Checks.Hit]]): Seq[String] = {
    val problems = ArrayBuffer.empty[String]
    val sigs = new java.util.HashMap[Long, Array[Long]]()
    engine.sigs.collect().foreach(r => sigs.put(r.getLong(0), r.getSeq[Long](1).toArray))
    val answers = scala.collection.mutable.HashMap.empty[Int, Seq[Checks.Hit]]
    served.queries.indices.foreach { i =>
      if (served.status(i) == 200) {
        val hits = Http.parseCandidates(served.bodies(i))
        Checks.answer(s.measQ(served.queries(i)), hits, sigs.get, K, Lp.rows)
          .foreach(p => problems += s"request $i: $p")
        answers.getOrElseUpdate(served.queries(i), hits)
      }
    }
    // top-1 against the brute-force best over the whole corpus
    val all = sigs.values().toArray(Array.empty[Array[Long]])
    answers.keys.toSeq.sorted.take(20).foreach { q =>
      val best = all.iterator.map(Checks.estJaccard(s.measQ(q), _)).max
      Checks.topOne(answers(q), best).foreach(p => problems += s"query $q: $p")
    }
    if (firstBatch == null) problems += "no batch completed"
    else (0 until BatchQueries).foreach { q =>
      val hits = firstBatch.getOrElse(q.toLong, Nil)
      Checks.answer(s.measQ(q), hits, sigs.get, K, Lp.rows, padded = false)
        .foreach(p => problems += s"batch query $q: $p")
      answers.get(q).flatMap(Checks.sameAnswer(_, hits))
        .foreach(p => problems += s"query $q served vs batch: $p")
    }
    problems.toSeq
  }

  /** The traced run: the plain phases once more, then each layer's public
    * functions called directly on the same inputs, then the probe-cache
    * tier on an 80k-doc index. */
  private def traced(s: Setup): Result = {
    val ctx = s.ctx
    val tr = ctx.trace
    val (ref, plainBuild) = Clock.time(s.buildRef())
    // the same build, layer by layer, into a second copy of the index; the
    // always-true filter keeps Spark's cache manager from matching the
    // plain build's cached signatures and postings
    val sigs = tr.span("core.sign") {
      val d = MinHashPipeline.withSignature(s.corpus.filter(col("doc_id") >= 0), "text", Mp)
        .select(col("doc_id").cast("long").as("doc_id"), col("sig")).cache()
      d.count(); d
    }
    val index = tr.span("core.postings") {
      val (p, release) = Lsh.postingsWithScratch(sigs, "doc_id", "sig", Lp)
      val i = p.cache(); i.count(); release(); i
    }
    tr.span("api.warmup") {
      sigs.count(); index.count(); Lsh.warmDriverStats(index); Lsh.warmDriverIndex(sigs, index)
    }
    Lsh.evictDriverState(index); index.unpersist(); sigs.unpersist()
    def dur(name: String): Double = tr.named(name).map(_.seconds).sum
    def us(name: String): Double = Stats.median(tr.named(name).map(_.seconds * 1e6))

    val server = QueryService.serve(ref, 0)
    try {
      val http = new Http(server.getAddress.getPort)
      s.warmServed(http)
      tr.drain()
      val (jobs0, gc0) = (tr.jobsStarted.get, Clock.gcSeconds())
      val served = serveLoop(server.getAddress.getPort, s.measQ, ServedShare * ctx.seconds)
      tr.drain()
      val (windowJobs, windowGc) = (tr.jobsStarted.get - jobs0, Clock.gcSeconds() - gc0)

      // the first served requests again, layer by layer, then through the engine
      val di = Lsh.driverIndexFor(ref.index).get
      val replay = served.queries.take(400)
      replay.foreach { q =>
        val keys = tr.span("core.probe_keys")(Lsh.queryKeysLocal(s.measQ(q), Lp))
        tr.span("core.replica_probe")(Lsh.queryDriverIndex(di, keys, s.measQ(q), K, MaxCandidates))
      }
      replay.foreach(q => tr.span("api.query")(ref.query(s.measQ(q), K, MaxCandidates)))
      // candidates before the cap, on a sample
      val cands = (0 until 5).map { q =>
        tr.span("core.candidates")(
          Lsh.candidates(ref.index, Lsh.queryPostings(ctx.spark, s.measQ(q), Lp)).count().toDouble)
      }
      val meanCands = cands.sum / cands.length
      // one plain and one traced 1000-query batch, after a warm-up batch
      s.warmBatch(ref)
      val (_, plainBatch) = Clock.time(ref.queryBatch(batchFrame(ctx, s.measQ), K, MaxCandidates).collect())
      tr.span("core.batch")(
        Lsh.queryBatch(ref.sigs, ref.index, batchFrame(ctx, s.measQ), K, Lp, MaxCandidates).collect())

      // the probe-cache tier: an index past the replica gate, probed with
      // 100 warm-up queries and then 100 measured ones
      val scale = s.build(SyntheticCorpus.docs(ctx.spark, ScaleDocs, seed = ctx.seedFor(2)))
      if (Lsh.driverIndexFor(scale.index).isDefined)
        ctx.die("the 80k-doc index fits the driver replica; it must be served by the probe cache")
      s.warmQ.take(100).foreach(q => scale.query(q, K, MaxCandidates))
      tr.drain()
      val jobsScale0 = tr.jobsStarted.get
      s.measQ.take(100).foreach { q =>
        val keys = Lsh.queryKeysLocal(q, Lp)
        tr.span("core.cached_probe")(Lsh.queryProbeCached(scale.sigs, scale.index, keys, q, K, MaxCandidates))
      }
      s.measQ.take(100).foreach(q => tr.span("api.query.scale")(scale.query(q, K, MaxCandidates)))
      tr.drain()
      val scaleJobs = tr.jobsStarted.get - jobsScale0
      val batchCost = tr.costOfNames("core.batch")
      val buildCost = tr.costOfNames("core.sign", "core.postings", "api.warmup")
      tr.write(new java.io.File(ctx.outDir, s"traces/query-${ctx.seed}.jsonl"))

      val layerSum = dur("core.sign") + dur("core.postings") + dur("api.warmup")
      val report = LayerReport(plainBuild, dur("core.sign"), dur("core.postings"), dur("api.warmup"),
        buildCost, served.p50ms, us("api.query") / 1e3, us("core.probe_keys") / 1e3,
        us("core.replica_probe") / 1e3, windowJobs.toDouble / served.latNs.length, meanCands,
        K / meanCands, windowJobs.toDouble, windowGc)
      Result(correct = true, served.latNs.length, 0, report.metrics, Seq(
        Metric("core.sign_s", dur("core.sign"), "s"),
        Metric("core.postings_s", dur("core.postings"), "s"),
        Metric("api.warmup_s", dur("api.warmup"), "s"),
        Metric("build.spark_jobs", buildCost.jobs.get.toDouble, "count"),
        Metric("build.shuffle_write_bytes", buildCost.shuffleWriteBytes.get.toDouble, "bytes"),
        Metric("build.spill_bytes", buildCost.spillBytes.get.toDouble, "bytes"),
        Metric("build.task_cpu_s", buildCost.taskCpuNs.get / 1e9, "s"),
        Metric("build.gc_s", buildCost.gcMs.get / 1e3, "s"),
        Metric("index_build.plain_s", plainBuild, "s"),
        Metric("index_build.layer_sum_s", layerSum, "s"),
        Metric("index_build.unattributed_s", plainBuild - layerSum, "s"),
        Metric("core.probe_keys_us", us("core.probe_keys"), "us"),
        Metric("core.replica_probe_us", us("core.replica_probe"), "us"),
        Metric("api.query_us.ref", us("api.query"), "us"),
        Metric("served_ref.plain_us", served.p50ms * 1e3, "us"),
        Metric("served_ref.layer_sum_us", us("core.probe_keys") + us("core.replica_probe"), "us"),
        Metric("api.http_query_us", served.p50ms * 1e3 - us("api.query"), "us"),
        Metric("probe.spark_jobs", windowJobs.toDouble, "count"),
        Metric("probe.gc_s", windowGc, "s"),
        Metric("core.candidates_per_query", meanCands, "count"),
        Metric("core.topk_per_candidate", K / meanCands, "ratio"),
        Metric("core.batch_s", dur("core.batch"), "s"),
        Metric("batch.plain_s", plainBatch, "s"),
        Metric("batch.spark_jobs", batchCost.jobs.get.toDouble, "count"),
        Metric("batch.shuffle_bytes",
          (batchCost.shuffleReadBytes.get + batchCost.shuffleWriteBytes.get).toDouble, "bytes"),
        Metric("core.cached_probe_us", us("core.cached_probe"), "us"),
        Metric("api.query_us.scale", us("api.query.scale"), "us"),
        Metric("probe_cache.spark_jobs", scaleJobs.toDouble, "count")))
    } finally server.stop(0)
  }
}
