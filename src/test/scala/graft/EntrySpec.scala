package graft

/** Smoke: the flagship entry query returns rows, and the query/oracle
  * catalogs stay consistent (the driver joins them by key and compares
  * column names — SURVEY/builder contract). */
class EntrySpec extends SparkSpec {
  test("entry() returns top-5 similar docs with expected schema") {
    val out = SparkEntry.entry(spark).collect()
    assert(out.nonEmpty && out.length <= 5)
    val first = out.head
    // doc 0 queried with its own signature must match itself with score 1.0
    assert(first.getLong(0) == 0L, "self-match should rank first")
    assert(first.getDouble(1) == 1.0)
    assert(first.getSeq[Long](2).length == 10, "vector_preview is 10 slots")
  }

  test("datasetBytes sums a hive-partitioned parquet dir's nested part files") {
    import org.apache.spark.sql.functions._
    val dir = new java.io.File(tempDir("graft-entry-bytes"), "t.parquet")
    spark.range(0, 60000).select(col("id"), (col("id") % 4).as("p"), sha2(col("id").cast("string"), 256).as("h"))
      .write.partitionBy("p").parquet(dir.toString)
    val parts = dir.listFiles().filter(_.isDirectory).flatMap(_.listFiles())
      .filter(_.getName.startsWith("part-")).map(_.length()).sum
    assert(dir.listFiles().filter(_.isFile).map(_.length()).sum < 1024, "no data at the top level")
    assert(parts > 256L * 1024, s"the fixture must pass tPar's 256 KiB gate: $parts")
    assert(SparkEntry.datasetBytes(dir) === parts)
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
    // and the reverse: every catalog query carries its DuckDB twin — a
    // gate without an oracle silently downgrades to a rows-only check
    // at the driver, which is exactly the drift this pin prevents
    val unoracled = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unoracled.isEmpty, s"queries without oracleSql: $unoracled")
  }

  test("all queries run at sf0.001 and return rows") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, testDataDir).count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("materializeCtes marks WITH-list headers and nothing else") {
    val f = SparkEntry.materializeCtes _
    // plain top-level CTEs get MATERIALIZED
    assert(f("WITH a AS (SELECT 1), b AS (SELECT 2) SELECT * FROM a") ==
      "WITH a AS MATERIALIZED (SELECT 1), b AS MATERIALIZED (SELECT 2) SELECT * FROM a")
    // a no-CTE statement is untouched
    assert(f("SELECT x, sum(y) AS s FROM t GROUP BY x") ==
      "SELECT x, sum(y) AS s FROM t GROUP BY x")
    // CREATE TEMP TABLE headers are not CTEs; CTEs INSIDE the create
    // body (depth > 0) are single-use and stay plain
    val create = "CREATE TEMP TABLE IF NOT EXISTS g AS (\nWITH t AS (SELECT 1)\nSELECT * FROM t);\nWITH a AS (SELECT * FROM g) SELECT * FROM a"
    assert(f(create) ==
      "CREATE TEMP TABLE IF NOT EXISTS g AS (\nWITH t AS (SELECT 1)\nSELECT * FROM t);\nWITH a AS MATERIALIZED (SELECT * FROM g) SELECT * FROM a")
    // named-WINDOW clauses (first and trailing-comma continuations) are
    // the same keyword shape but not CTEs
    val win = "WITH a AS (SELECT 1) SELECT rank() OVER w, lag(x) OVER w2 FROM a WINDOW w AS (ORDER BY x), w2 AS (ORDER BY y)"
    assert(f(win) ==
      "WITH a AS MATERIALIZED (SELECT 1) SELECT rank() OVER w, lag(x) OVER w2 FROM a WINDOW w AS (ORDER BY x), w2 AS (ORDER BY y)")
    // the recursive CTE stays plain, its siblings materialize
    val rec = "WITH RECURSIVE base AS (SELECT 1), reach AS (SELECT * FROM base UNION SELECT * FROM reach) SELECT * FROM reach"
    assert(f(rec) ==
      "WITH RECURSIVE base AS MATERIALIZED (SELECT 1), reach AS (SELECT * FROM base UNION SELECT * FROM reach) SELECT * FROM reach")
    // parens inside string literals don't derail depth tracking
    val lit = "WITH a AS (SELECT regexp_matches(x, '([a-z]+') AS m FROM t) SELECT * FROM a"
    assert(f(lit) ==
      "WITH a AS MATERIALIZED (SELECT regexp_matches(x, '([a-z]+') AS m FROM t) SELECT * FROM a")
    // already-materialized CTEs are left alone (idempotence)
    assert(f(f(create)) == f(create))
    assert(f("WITH r AS MATERIALIZED (SELECT 1) SELECT * FROM r") ==
      "WITH r AS MATERIALIZED (SELECT 1) SELECT * FROM r")
  }

  test("every generated oracle uses at most one temp-table family per name") {
    // CREATE TEMP TABLE IF NOT EXISTS keeps whichever content ran FIRST
    // on the driver's shared connection: if two gates ever emitted the
    // same table name with different body text, execution order would
    // silently decide which corpus every other gate verifies against
    val defs = scala.collection.mutable.Map.empty[String, (String, String)]
    val Create = """(?s)CREATE TEMP TABLE IF NOT EXISTS (\w+) AS \((.*?)\);""".r
    SparkEntry.oracleSql.foreach { case (gate, sql) =>
      Create.findAllMatchIn(sql).foreach { m =>
        val (name, body) = (m.group(1), m.group(2))
        defs.get(name) match {
          case Some((firstGate, firstBody)) =>
            assert(firstBody == body,
              s"temp table $name defined differently by $firstGate and $gate")
          case None => defs(name) = (gate, body)
        }
      }
    }
    assert(defs.nonEmpty) // the sharing actually exists
  }
}
