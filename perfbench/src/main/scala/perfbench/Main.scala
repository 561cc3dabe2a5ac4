package perfbench

import org.apache.spark.sql.SparkSession

import java.time.Instant

/** One metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload hands back: whether every output check held, how many
  * operations it attempted and how many failed, and its metrics. `metrics`
  * are the role-named metrics that every workload prints (BENCHMARK.json);
  * `named` are the same numbers, and more, under the workload's own names. */
final case class Result(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[Metric],
                        named: Seq[Metric]) {
  def json: String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${Result.obj(metrics)}}"""
}

object Result {
  def obj(ms: Seq[Metric]): String = ms.map { m =>
    require(!m.value.isNaN && !m.value.isInfinite, s"metric ${m.name} is ${m.value}")
    s""""${m.name}": {"value": ${m.value}, "unit": "${m.unit}"}"""
  }.mkString("{", ", ", "}")
}

/** Everything a workload needs from the command line and the session. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val trace: Trace, val outDir: java.io.File, t0EpochNs: Long) {
  /** Seconds since the run started (the launch of this JVM). */
  def sinceStart: Double = (Main.epochNs() - t0EpochNs) / 1e9

  /** A generator seed for one input stream, derived from `--seed`. */
  def seedFor(stream: Int): Int =
    scala.util.hashing.MurmurHash3.finalizeHash(
      scala.util.hashing.MurmurHash3.mix(seed.hashCode, stream), 2) & 0x3fffffff

  /** Fails the run (exit code 1, no result printed). */
  def die(msg: String): Nothing = throw new IllegalStateException(msg)

  def log(msg: String): Unit = System.err.println(f"[perfbench $sinceStart%7.2fs] $msg")
}

object Main {
  def epochNs(): Long = { val i = Instant.now(); i.getEpochSecond * 1000000000L + i.getNano }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    // every run first shows that each output check rejects a corrupted result
    SelfTest.run()
    if (workload == "selftest") { println("""{"selftest": "passed"}"""); sys.exit(0) }
    val t0 = opts.get("t0-ns").map(_.toLong).getOrElse(epochNs())
    val out = new java.io.File(opt("out"))
    val cores = opt("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(out, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(out, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, opt("seed").toLong, opt("seconds").toDouble,
      new Trace(spark, opt("trace") == "1"), out, t0)
    ctx.log("spark session ready")
    val result =
      try workload match {
        case "query" => QueryWorkload.run(ctx)
        case "dedup-bulk" => DedupWorkload.run(ctx)
        case "ingest" => IngestWorkload.run(ctx)
        case other => ctx.die(s"unknown workload $other")
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          sys.exit(1)
      } finally spark.stop()
    val kind = if (ctx.trace.enabled) "per_layer" else "end_to_end"
    println(s"""{"workload": "$workload", "${kind}_by_workload_name": ${Result.obj(result.named)}}""")
    println(result.json)
    System.out.flush()
    // the HTTP servers' handler pools keep idle non-daemon threads alive
    // for a minute after the last request; the run is over, so exit now
    sys.exit(0)
  }
}

/** Order statistics over one sample. */
object Stats {
  /** Nearest-rank quantile of an unsorted sample. */
  def q(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "empty sample")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = q(xs, 0.5)
}

/** Wall-clock timing helpers. */
object Clock {
  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Total JVM garbage-collection time so far, in seconds. */
  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  }
}
