package perfbench

import graft.api.{QueryEngine, QueryService}
import graft.core.Lsh
import graft.operators.StandingCorpus
import graft.sources.SyntheticCorpus
import org.apache.spark.sql.DataFrame

import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.mutable.ArrayBuffer

/** `ingest`: the trickle `POST /dedup` boundary, writes beside reads. A
  * `StandingCorpus` (word unigrams, threshold 0.5) over `docsLlm` docs is
  * served to two closed-loop clients: one posts absorbing 128-doc batches
  * (re-keyed copies of standing docs, repeats of the previous batch's new
  * docs, unseen docs; ids monotone), the other posts classify-only
  * batches drawn from standing copies and from texts the absorbing client
  * never posts, so each of its docs has exactly one correct verdict.
  *
  * No background compaction ever runs: the corpus compacts after
  * `compactEveryBatches` (64) absorbs and a run absorbs at most
  * [[MaxAbsorbs]] batches. */
object IngestWorkload {
  val StandingDocs = 10000L
  val Batch = 128
  val Threshold = 0.5
  val MaxAbsorbs = 56
  /** Unseen docs available to the absorbing client / the classify client. */
  val FreshDocs = 8000
  val UnseenDocs = 4000
  val WarmSeconds = 8.0

  /** One measured window: its start (seconds since the run began), the
    * posts that started inside it, and the Spark jobs started and JVM GC
    * seconds spent during it. */
  final case class Window(start: Double, absorbs: Seq[Post], classifies: Seq[Post],
                          sparkJobs: Long, gcS: Double)

  final case class Post(docs: Seq[(Long, String)], status: Int, body: String, startNs: Long, ns: Long) {
    def ms: Double = ns / 1e6
  }

  /** The inputs and the client-side state of one run. */
  final class Inputs(ctx: Ctx) {
    import ctx.spark
    private val generated =
      SyntheticCorpus.docsLlm(spark, StandingDocs + FreshDocs, seed = ctx.seedFor(1))
        .orderBy("doc_id").collect().map(_.getString(1))
    val standingTexts: Array[String] = generated.take(StandingDocs.toInt)
    /** Docs past the standing range from the same generator: their
      * duplicate families overlap the standing ones. */
    val fresh: Array[String] = generated.drop(StandingDocs.toInt)
    /** Singleton texts from another generator seed, never absorbed. */
    val unseen: Array[String] =
      SyntheticCorpus.docsLlm(spark, UnseenDocs.toLong, dupFrac = 0.0, seed = ctx.seedFor(5))
        .orderBy("doc_id").collect().map(_.getString(1))
    val standingSet: Set[String] = standingTexts.toSet
    val docs: DataFrame = frame(standingTexts.indices.map(i => (i.toLong, standingTexts(i))))

    def frame(rows: Seq[(Long, String)]): DataFrame = {
      import spark.implicits._
      rows.toDF("doc_id", "text")
    }

    // absorbing client state (one thread at a time)
    private var nextId = 1000000000L
    private var copyAt = 0
    private var freshAt = 0
    private var prevNew: Seq[String] = Nil
    /** Texts absorbed as `new`, with the ids they were posted under. */
    val absorbed = ArrayBuffer.empty[(Long, String)]
    val absorbedSet = scala.collection.mutable.HashSet.empty[String]

    def nextAbsorbBatch(): Seq[(Long, String)] = synchronized {
      val copies = (0 until Batch / 4).map(i => standingTexts((copyAt + i) % standingTexts.length))
      copyAt += Batch / 4
      val repeats = prevNew.take(Batch / 4)
      val nFresh = Batch - copies.length - repeats.length
      if (freshAt + nFresh > fresh.length) ctx.die("fresh pool exhausted")
      val unseenDocs = fresh.slice(freshAt, freshAt + nFresh)
      freshAt += nFresh
      (copies ++ repeats ++ unseenDocs).map { t => nextId += 1; (nextId, t) }
    }

    /** Checks one absorbing reply against the texts the corpus held
      * before it, then records what it absorbed. */
    def absorbReply(docs: Seq[(Long, String)], got: Seq[(Long, String)]): Option[String] = synchronized {
      val p = Checks.statusOrder(docs.map(_._1), got)
        .orElse(Checks.exactIff(docs, got, t => standingSet(t) || absorbedSet(t)))
      val fresh = docs.zip(got).collect { case ((id, t), (_, "new")) => (id, t) }
      absorbed ++= fresh
      absorbedSet ++= fresh.map(_._2)
      prevNew = fresh.map(_._2)
      p
    }

    // classify client state
    private var classifyId = 2000000000L
    private var standAt = 0
    private var unseenAt = 0

    def nextClassifyBatch(): Seq[(Long, String)] = synchronized {
      val copies = (0 until Batch / 2).map { i =>
        standingTexts(standingTexts.length - 1 - (standAt + i) % standingTexts.length)
      }
      standAt += Batch / 2
      val others = (0 until Batch / 2).map(i => unseen((unseenAt + i) % unseen.length))
      unseenAt += Batch / 2
      (copies ++ others).map { t => classifyId += 1; (classifyId, t) }
    }
  }

  /** The standing corpus behind `POST /dedup` and the two clients. */
  final class Service(ctx: Ctx, in: Inputs, standing: StandingCorpus) {
    // /query needs an engine; this one is never built or probed
    private val engine = QueryEngine.build(SyntheticCorpus.docs(ctx.spark, 1000))
    private val server = QueryService.serve(engine, None, Some(standing), 0)
    private val port = server.getAddress.getPort
    val problems = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    private val absorbs = ArrayBuffer.empty[Post]
    private val classifies = ArrayBuffer.empty[Post]

    def absorbCount: Int = absorbs.synchronized(absorbs.length)

    private def onAbsorb(p: Post): Unit = {
      if (p.status == 200)
        in.absorbReply(p.docs, Http.parseStatuses(p.body)).foreach(e => problems.add(s"absorb: $e"))
      absorbs.synchronized(absorbs += p)
    }

    /** A closed loop on its own thread until `stop` is set (the absorbing
      * one also stops at [[MaxAbsorbs]]). A request that throws is
      * recorded with status -1. */
    private def client(absorb: Boolean, stop: AtomicBoolean): Thread = {
      val http = new Http(port)
      val t = new Thread(() => {
        while (!stop.get() && (!absorb || absorbCount < MaxAbsorbs)) {
          val docs = if (absorb) in.nextAbsorbBatch() else in.nextClassifyBatch()
          val start = System.nanoTime()
          val p =
            try {
              val (s, b, ns) = http.post("/dedup", Http.dedupBody(docs, absorb))
              Post(docs, s, b, start, ns)
            } catch { case e: Exception => Post(docs, -1, e.toString, start, 0L) }
          if (absorb) onAbsorb(p) else classifies.synchronized(classifies += p)
        }
      }, if (absorb) "perfbench-absorb" else "perfbench-classify")
      t.setDaemon(true)
      t
    }

    /** Starts the clients and keeps them running through a warm-up (at
      * most `warmSec`; with absorbs, until the last three absorbs' median
      * is within 10% of the three before) and a window of `seconds`.
      * Returns what happened inside the window. */
    def phase(warmSec: Double, seconds: Double, absorbing: Boolean = true): Window = {
      val a0 = absorbCount
      val c0 = classifies.synchronized(classifies.length)
      val stop = new AtomicBoolean(false)
      val ts = (if (absorbing) Seq(client(absorb = true, stop)) else Nil) :+ client(absorb = false, stop)
      ts.foreach(_.start())
      val t0 = System.nanoTime()
      def settled: Boolean = {
        val recent = absorbs.synchronized(absorbs.drop(a0).map(_.ns.toDouble).toSeq)
        recent.length >= 6 && {
          val a = Stats.median(recent.takeRight(6).take(3))
          math.abs(Stats.median(recent.takeRight(3)) - a) <= 0.1 * a
        }
      }
      while ((System.nanoTime() - t0) / 1e9 < warmSec && !(absorbing && settled)) Thread.sleep(20)
      val (w0, at) = (System.nanoTime(), ctx.sinceStart)
      val (jobs0, gc0) = (ctx.trace.jobsStarted.get, Clock.gcSeconds())
      val w1 = w0 + (seconds * 1e9).toLong
      while (System.nanoTime() < w1) Thread.sleep(20)
      val (jobs, gc) = (ctx.trace.jobsStarted.get - jobs0, Clock.gcSeconds() - gc0)
      stop.set(true)
      ts.foreach(_.join())
      def inWindow(ps: Seq[Post]) = ps.filter(p => p.startNs >= w0 && p.startNs < w1)
      val warmA = absorbs.synchronized(absorbs.drop(a0).filter(_.startNs < w0).toSeq)
      val warmC = classifies.synchronized(classifies.drop(c0).filter(_.startNs < w0).toSeq)
      if (warmSec > 0) log(ctx, "warm-up", warmA, warmC)
      Window(at, inWindow(absorbs.synchronized(absorbs.drop(a0).toSeq)),
        inWindow(classifies.synchronized(classifies.drop(c0).toSeq)), jobs, gc)
    }

    /** The classify-only replies and every `near` verdict, checked. */
    def check(): Unit = {
      val all = classifies.synchronized(classifies.toSeq)
      // classify-only texts are standing or never absorbed: one right verdict
      all.filter(_.status == 200).foreach { p =>
        Checks.statusOrder(p.docs.map(_._1), Http.parseStatuses(p.body))
          .orElse(Checks.exactIff(p.docs, Http.parseStatuses(p.body),
            t => in.standingSet(t) || in.absorbedSet(t)))
          .foreach(e => problems.add(s"classify: $e"))
      }
      val near = (all ++ absorbs.synchronized(absorbs.toSeq)).filter(_.status == 200).flatMap { p =>
        p.docs.zip(Http.parseStatuses(p.body)).collect { case ((id, t), (_, "near")) => (id, t) }
      }
      nearCheck(near).foreach(e => problems.add(s"near: $e"))
      ctx.log(s"${near.length} near verdicts checked")
      problems.forEach(p => ctx.log(s"CHECK FAILED: $p"))
    }

    /** Best estimated Jaccard of each near doc against every standing and
      * absorbed doc, by brute force over signatures from the corpus's own
      * signing function. */
    private def nearCheck(near: Seq[(Long, String)]): Option[String] = {
      def sigs(texts: Seq[String]): Array[Array[Long]] =
        StandingCorpus.sign(in.frame(texts.indices.map(i => (i.toLong, texts(i)))), standing.currentMeta)
          .orderBy("doc_id").collect().map(_.getSeq[Long](1).toArray)
      val corpusSigs = sigs(in.standingTexts.toSeq ++ in.absorbed.map(_._2))
      val best = near.map(_._1).zip(sigs(near.map(_._2)).map { q =>
        corpusSigs.iterator.map(Checks.estJaccard(q, _)).max
      }).toMap
      Checks.nearJustified(near.map(_._1), best, Threshold)
    }

    def close(): Unit = { server.stop(0); standing.awaitCompaction() }
  }

  private def log(ctx: Ctx, tag: String, a: Seq[Post], c: Seq[Post]): Unit =
    ctx.log(s"$tag: ${a.length} absorbs ${a.map(p => f"${p.ms / 1e3}%.2f").mkString(" ")}, " +
      s"${c.length} classifies ${c.map(p => f"${p.ms / 1e3}%.2f").mkString(" ")}")

  def run(ctx: Ctx): Result = {
    val in = new Inputs(ctx)
    def dir(name: String) = new java.io.File(ctx.outDir, s"standing/$name-${ctx.seed}").getAbsolutePath
    val (standing, buildS) = Clock.time(
      StandingCorpus.build(in.docs, null, dir("ingest"), threshold = Threshold, kShingle = 1))
    ctx.log(f"standing corpus built in $buildS%.2f s")
    if (ctx.trace.enabled) return traced(ctx, in, standing, buildS, dir("layers"))
    val svc = new Service(ctx, in, standing)
    try {
      val w = svc.phase(WarmSeconds, ctx.seconds)
      val (setupS, ma, mc) = (w.start, w.absorbs, w.classifies)
      log(ctx, "measured", ma, mc)
      svc.check()
      val all = ma ++ mc
      val p50 = Stats.median(ma.map(_.ms))
      val perS = ma.map(_.docs.length).sum / ma.map(_.ms / 1e3).sum
      Result(svc.problems.isEmpty, all.length, all.count(_.status != 200),
        Seq(Metric("setup_s", setupS, "s"),
          Metric("p50_ms", p50, "ms"), Metric("per_s", perS, "1/s")),
        Seq(Metric("setup_s", setupS, "s"), Metric("standing_build_s", buildS, "s"),
          Metric("ingest_docs_per_s", perS, "1/s"), Metric("ingest_batch_p50_ms", p50, "ms"),
          Metric("classify_batch_p50_ms", Stats.median(mc.map(_.ms)), "ms")))
    } finally svc.close()
  }

  /** The traced run: the build once more layer by layer, the served
    * phases, a classify-only phase without absorbs, then batches through
    * the corpus's public functions directly. */
  private def traced(ctx: Ctx, in: Inputs, standing: StandingCorpus, plainBuild: Double,
                     layerDir: String): Result = {
    val tr = ctx.trace
    val meta = standing.currentMeta
    val sigs = tr.span("standing.sign") {
      val s = StandingCorpus.sign(in.docs, meta).cache(); s.count(); s
    }
    tr.span("standing.write") {
      StandingCorpus.build(in.docs, sigs, layerDir, threshold = Threshold, kShingle = 1)
    }
    tr.span("standing.open")(StandingCorpus.open(ctx.spark, layerDir))
    sigs.unpersist()
    def dur(name: String): Double = tr.named(name).map(_.seconds).sum
    def ms(name: String): Seq[Double] = tr.named(name).sortBy(_.startNs).map(_.seconds * 1e3)

    val svc = new Service(ctx, in, standing)
    try {
      val w = svc.phase(WarmSeconds, ctx.seconds)
      val (ma, mc, windowJobs, windowGc) = (w.absorbs, w.classifies, w.sparkJobs, w.gcS)
      log(ctx, "measured", ma, mc)
      val paused = svc.phase(0.0, 3.0, absorbing = false).classifies
      log(ctx, "classify alone", Nil, paused)

      // absorbing batches straight through the corpus's public functions
      val baseIndex = ctx.spark.read.parquet(s"${standing.dir}/v${standing.currentVersion}/index")
      val cands = ArrayBuffer.empty[Double]; val dups = ArrayBuffer.empty[Double]
      (0 until 4).foreach { _ =>
        val docs = in.nextAbsorbBatch()
        val df = in.frame(docs)
        val bs = tr.span("standing.batch_sign")(StandingCorpus.sign(df, meta).collect())
        tr.span("standing.classify")(standing.classifyShared(df).collect())
        val st = tr.span("standing.classify_absorb")(standing.classifyAbsorb(df).collect())
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        in.absorbReply(docs, docs.map(d => d._1 -> st(d._1))).foreach(e => svc.problems.add(s"direct: $e"))
        import ctx.spark.implicits._
        val keys = Lsh.postings(bs.map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq.toDF("doc_id", "sig"),
          "doc_id", "sig", meta.lsh).select("band", "key64", "key64b").distinct()
        cands += tr.span("core.candidates")(Lsh.candidates(baseIndex, keys).count().toDouble)
        dups += st.values.count(_ != "new").toDouble
      }
      svc.check()
      tr.drain()
      val buildCost = tr.costOfNames("standing.sign", "standing.write", "standing.open")
      val batchCosts = tr.named("standing.classify_absorb").map(tr.inclusive)
      tr.write(new java.io.File(ctx.outDir, s"traces/ingest-${ctx.seed}.jsonl"))

      val absorbP50 = Stats.median(ma.map(_.ms))
      val classifyP50 = Stats.median(mc.map(_.ms))
      val pausedP50 = Stats.median(paused.map(_.ms))
      val perBatch = ms("standing.classify_absorb").zip(ms("standing.classify"))
      val report = LayerReport(plainBuild, dur("standing.sign"), dur("standing.write"),
        dur("standing.open"), buildCost, absorbP50, Stats.median(ms("standing.classify_absorb")),
        Stats.median(ms("standing.batch_sign")), Stats.median(ms("standing.classify")),
        Stats.median(batchCosts.map(_.jobs.get.toDouble)), cands.sum / cands.length,
        dups.sum / cands.sum, windowJobs.toDouble, windowGc)
      Result(svc.problems.isEmpty, ma.length + mc.length, (ma ++ mc).count(_.status != 200),
        report.metrics, Seq(
          Metric("standing.sign_s", dur("standing.sign"), "s"),
          Metric("standing.write_s", dur("standing.write"), "s"),
          Metric("standing.output_bytes", buildCost.outputBytes.get.toDouble, "bytes"),
          Metric("standing_build.plain_s", plainBuild, "s"),
          Metric("standing_build.layer_sum_s", dur("standing.sign") + dur("standing.write"), "s"),
          Metric("standing.batch_sign_ms", Stats.median(ms("standing.batch_sign")), "ms"),
          Metric("standing.classify_ms", Stats.median(ms("standing.classify")), "ms"),
          Metric("standing.classify_absorb_ms", Stats.median(ms("standing.classify_absorb")), "ms"),
          Metric("standing.absorb_share_ms", Stats.median(perBatch.map { case (a, c) => a - c }), "ms"),
          Metric("standing.batch_spark_jobs", Stats.median(batchCosts.map(_.jobs.get.toDouble)), "count"),
          Metric("standing.batch_bytes_read", Stats.median(batchCosts.map(_.inputBytes.get.toDouble)), "bytes"),
          Metric("ingest_batch.plain_ms", absorbP50, "ms"),
          Metric("classify_batch.plain_ms", classifyP50, "ms"),
          Metric("classify_batch.alone_ms", pausedP50, "ms"),
          Metric("api.http_dedup_ms", pausedP50 - Stats.median(ms("standing.classify")), "ms"),
          Metric("api.dedup_contention_ms", classifyP50 - pausedP50, "ms")))
    } finally svc.close()
  }
}
