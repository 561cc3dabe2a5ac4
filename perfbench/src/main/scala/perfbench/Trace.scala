package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** Spark's own accounting charged to one span. */
final class SparkCost {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val taskCpuNs = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val inputBytes = new AtomicLong
  val outputBytes = new AtomicLong
  val gcMs = new AtomicLong

  def fields: Seq[(String, Long)] = Seq(
    "jobs" -> jobs.get, "stages" -> stages.get, "task_cpu_ns" -> taskCpuNs.get,
    "shuffle_read_bytes" -> shuffleReadBytes.get,
    "shuffle_write_bytes" -> shuffleWriteBytes.get, "spill_bytes" -> spillBytes.get,
    "input_bytes" -> inputBytes.get, "output_bytes" -> outputBytes.get,
    "gc_ms" -> gcMs.get)

  def add(o: SparkCost): Unit = {
    jobs.addAndGet(o.jobs.get); stages.addAndGet(o.stages.get)
    taskCpuNs.addAndGet(o.taskCpuNs.get)
    shuffleReadBytes.addAndGet(o.shuffleReadBytes.get)
    shuffleWriteBytes.addAndGet(o.shuffleWriteBytes.get)
    spillBytes.addAndGet(o.spillBytes.get)
    inputBytes.addAndGet(o.inputBytes.get); outputBytes.addAndGet(o.outputBytes.get)
    gcMs.addAndGet(o.gcMs.get)
  }
}

final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder for the traced run. A span is recorded around each call
  * the benchmark makes into a layer's public function: name, start, end
  * and the enclosing span. Spark work is charged to a span through a
  * local property that the calling thread sets for the span's duration;
  * a listener maps each job's stages to that span and adds up the task
  * metrics. Everything stays in memory until [[write]]. With tracing off
  * no listener is attached and [[span]] only runs its body. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val Key = "perfbench.span"
  private val spans = ArrayBuffer.empty[Span]
  private val nextId = new AtomicLong
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val costs = new ConcurrentHashMap[Int, SparkCost]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  /** Every job started in the session, tagged or not. */
  val jobsStarted = new AtomicLong

  private def costOf(id: Int): SparkCost = costs.computeIfAbsent(id, _ => new SparkCost)
  private def spanOf(stage: Int): Option[Int] =
    if (stageSpan.containsKey(stage)) Some(stageSpan.get(stage)) else None

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsStarted.incrementAndGet()
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      tag.foreach { t =>
        val id = t.toInt
        costOf(id).jobs.incrementAndGet()
        e.stageInfos.foreach(si => stageSpan.putIfAbsent(si.stageId, id))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      spanOf(e.stageInfo.stageId).foreach(id => costOf(id).stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) spanOf(e.stageId).foreach { id =>
        val c = costOf(id)
        c.taskCpuNs.addAndGet(m.executorCpuTime)
        c.shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        c.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
        c.gcMs.addAndGet(m.jvmGCTime)
      }
    }
  }
  if (enabled) spark.sparkContext.addSparkListener(listener)

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val id = nextId.incrementAndGet().toInt
      val parent = stack.get.headOption.getOrElse(0)
      val prev = sc.getLocalProperty(Key)
      stack.set(id :: stack.get)
      sc.setLocalProperty(Key, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(Key, prev)
        stack.set(stack.get.tail)
        spans.synchronized(spans += Span(id, name, parent, t0, t1))
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def named(name: String): Seq[Span] = spans.synchronized(spans.filter(_.name == name).toSeq)

  /** Spark cost of a span plus every span nested in it. */
  def inclusive(s: Span): SparkCost = {
    val all = spans.synchronized(spans.toList)
    val out = new SparkCost
    def walk(id: Int): Unit = {
      Option(costs.get(id)).foreach(out.add)
      all.filter(_.parent == id).foreach(c => walk(c.id))
    }
    walk(s.id)
    out
  }

  /** Summed inclusive cost of every span with one of these names. */
  def costOfNames(names: String*): SparkCost = {
    val out = new SparkCost
    names.flatMap(named).foreach(s => out.add(inclusive(s)))
    out
  }

  /** One JSON object per span, in start order. */
  def write(file: java.io.File): Unit = {
    drain()
    file.getParentFile.mkdirs()
    val all = spans.synchronized(spans.sortBy(_.startNs).toList)
    val t0 = all.headOption.map(_.startNs).getOrElse(0L)
    val w = new java.io.PrintWriter(file, "UTF-8")
    try all.foreach { s =>
      val c = Option(costs.get(s.id)).map(_.fields).getOrElse(Nil)
      val extra = c.map { case (k, v) => s""","$k":$v""" }.mkString
      w.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ms":${(s.startNs - t0) / 1e6},"end_ms":${(s.endNs - t0) / 1e6}$extra}""")
    } finally w.close()
  }
}

/** The per-layer metrics every traced run prints. Each workload fills the
  * same roles from its own layers (README.md maps them):
  *  - build: the one-off operation `ready_s` times, run once plain and once
  *    split into its sign, index and finish layers, with Spark's accounting
  *    over those layer spans;
  *  - op: the operation `p50_ms` times, through its public entry (plain),
  *    as the bare engine call (engine), and as its key-derivation and
  *    probe layers, with its Spark jobs, candidate count and useful share;
  *  - window: Spark jobs and JVM GC time over the measured phase. */
final case class LayerReport(
    buildPlainS: Double, buildSignS: Double, buildIndexS: Double, buildFinishS: Double,
    buildCost: SparkCost,
    opPlainMs: Double, opEngineMs: Double, opKeysMs: Double, opProbeMs: Double,
    opSparkJobs: Double, opCandidates: Double, opUsefulRatio: Double,
    windowSparkJobs: Double, windowGcS: Double) {
  def metrics: Seq[Metric] = {
    val layerSum = buildSignS + buildIndexS + buildFinishS
    Seq(
      Metric("build.plain_s", buildPlainS, "s"),
      Metric("build.layer_sum_s", layerSum, "s"),
      Metric("build.unattributed_s", buildPlainS - layerSum, "s"),
      Metric("build.sign_s", buildSignS, "s"),
      Metric("build.index_s", buildIndexS, "s"),
      Metric("build.finish_s", buildFinishS, "s"),
      Metric("build.spark_jobs", buildCost.jobs.get.toDouble, "count"),
      Metric("build.stages", buildCost.stages.get.toDouble, "count"),
      Metric("build.task_cpu_s", buildCost.taskCpuNs.get / 1e9, "s"),
      Metric("build.shuffle_write_bytes", buildCost.shuffleWriteBytes.get.toDouble, "bytes"),
      Metric("build.spill_bytes", buildCost.spillBytes.get.toDouble, "bytes"),
      Metric("build.output_bytes", buildCost.outputBytes.get.toDouble, "bytes"),
      Metric("build.gc_s", buildCost.gcMs.get / 1e3, "s"),
      Metric("op.plain_ms", opPlainMs, "ms"),
      Metric("op.engine_ms", opEngineMs, "ms"),
      Metric("op.transport_ms", opPlainMs - opEngineMs, "ms"),
      Metric("op.keys_ms", opKeysMs, "ms"),
      Metric("op.probe_ms", opProbeMs, "ms"),
      Metric("op.spark_jobs", opSparkJobs, "count"),
      Metric("op.candidates", opCandidates, "count"),
      Metric("op.useful_ratio", opUsefulRatio, "ratio"),
      Metric("window.spark_jobs", windowSparkJobs, "count"),
      Metric("window.gc_s", windowGcS, "s"))
  }
}
