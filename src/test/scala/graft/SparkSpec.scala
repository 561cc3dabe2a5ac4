package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session), and
  * the specs' temp dirs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def testDataDir = "/root/testdata/sf0.001"

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** A fresh dir under `java.io.tmpdir`, deleted with its contents once
    * the spec's tests have run. */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs.add(d)
    d.toString
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))
    finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    // SPARK_GRAFT_MASTER=local-cluster[3,4,6144] runs the suite against
    // real executor JVMs (the multi-JVM evidence pass — plan pins and
    // engine contracts must hold under real serialization/locality, not
    // just in-process local mode). Executors need both the compiled main
    // classes AND the test classes (closures in specs live there).
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]")
    val cp = Seq("target/scala-2.13/classes", "target/scala-2.13/test-classes")
      .map(p => new java.io.File(p).getAbsolutePath)
      .mkString(java.io.File.pathSeparator)
    val s = SparkSession.builder()
      .master(master)
      .appName("graft-test")
      .config("spark.executor.extraClassPath", cp)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
