package graft

import graft.sources.Npy
import org.apache.spark.sql.functions._

/** The reference's `.npy` shard boundary (split_and_save,
  * index_builder.py:22-36): reader compatibility is pinned against
  * shards written by numpy itself (checked-in fixture), the writer by a
  * byte-level header check plus a read-back roundtrip. */
class NpySpec extends SparkSpec {
  import spark.implicits._

  test("reads numpy-written uint64 shards with global row order") {
    val dir = getClass.getResource("/npy_fixture").getPath
    val got = Npy.readLongShards(spark, dir)
      .orderBy("row_idx").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq)
    assert(got.length == 7)
    // values are row-major i * 1000000007 split 4/3 across two shards —
    // global row_idx must cross the shard boundary in filename order
    got.zipWithIndex.foreach { case ((idx, row), i) =>
      assert(idx == i)
      assert(row == (0 until 4).map(c => (i * 4 + c).toLong * 1000000007L),
        s"row $i")
    }
  }

  test("reads numpy-written float64 shards (hist_edges.npy dtype)") {
    val dir = getClass.getResource("/npy_fixture_f8").getPath
    val got = Npy.readDoubleShards(spark, dir).orderBy("row_idx").collect()
    assert(got.length == 7)
    // values are row-major (i*3+c)*0.375 - 2.0 (exact in binary) split
    // 4/3 across two shards
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == i)
      assert(r.getSeq[Double](1) ==
        (0 until 3).map(c => (i * 3 + c).toDouble * 0.375 - 2.0), s"row $i")
    }
  }

  test("reader header pass runs ZERO cluster jobs (one-pass read)") {
    // through round 10 the header pass was a binaryFile scan +
    // substring(content,1,256) + collect — every executor read the FULL
    // shard bytes to produce `content`, a complete extra pass over the
    // dataset before the real decode. Headers are now 256-byte positioned
    // driver reads: constructing the reader DataFrame must launch no job.
    val dir = getClass.getResource("/npy_fixture").getPath
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = Npy.readLongShards(spark, dir)
      Thread.sleep(1000) // listener delivery is async; construction is done
      assert(jobs.get() == 0, s"header pass launched ${jobs.get()} job(s)")
      assert(df.count() == 7) // the single real pass still decodes everything
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("saveDoubleShards roundtrips through the reader; single-file path reads too") {
    val dir = tempDir("npy_f8_rt")
    val df = (0L until 9L).map(i => (i, (0 until 4).map(c => i * 0.5 - c * 0.25).toArray))
      .toDF("dim", "edges")
    Npy.saveDoubleShards(df, "dim", "edges", dir, shards = 2)
    val back = Npy.readDoubleShards(spark, dir).orderBy("row_idx").collect()
    assert(back.length == 9)
    back.zipWithIndex.foreach { case (r, i) =>
      assert(r.getSeq[Double](1) == (0 until 4).map(c => i * 0.5 - c * 0.25))
    }
    // an explicit .npy file path (sigs.npy / hist_edges.npy style)
    val one = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".npy"))
      .sortBy(_.getName).head
    val first = Npy.readDoubleShards(spark, one.getPath).orderBy("row_idx").collect()
    assert(first.nonEmpty && first.length < 9)
  }

  test("saveLongShards roundtrips through the reader and writes numpy v1 headers") {
    val dir = tempDir("npy_rt")
    val df = (0L until 23L).map(i => (i, (0 until 5).map(c => i * 31 + c).toArray))
      .toDF("doc_id", "sig")
    Npy.saveLongShards(df, "doc_id", "sig", dir, shards = 3)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".npy"))
      .sortBy(_.getName)
    assert(files.length == 3)
    // byte-level: magic, version 1.0, 64-byte-aligned '\n'-terminated header
    val head = java.nio.file.Files.readAllBytes(files(0).toPath).take(256)
    assert(head(0) == 0x93.toByte && new String(head.slice(1, 6)) == "NUMPY")
    assert(head(6) == 1.toByte && head(7) == 0.toByte)
    val hlen = (head(8) & 0xff) | ((head(9) & 0xff) << 8)
    assert((10 + hlen) % 64 == 0, s"header len $hlen not 64-aligned")
    assert(head(10 + hlen - 1) == '\n'.toByte)
    assert(new String(head.slice(10, 10 + hlen)).contains("'descr': '<u8'"))
    // roundtrip: reader returns every row in id order (ids were 0..22, so
    // global row_idx == doc_id under range partitioning)
    val back = Npy.readLongShards(spark, dir)
      .orderBy("row_idx").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq)
    assert(back.length == 23)
    back.foreach { case (idx, row) =>
      assert(row == (0 until 5).map(c => idx * 31 + c))
    }
  }
}
