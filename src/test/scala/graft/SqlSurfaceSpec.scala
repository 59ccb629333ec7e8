package graft

import graft.sql.SqlSurface

/** The user-facing SQL surface (round 12): every text in
  * [[SqlSurface.texts]] that is not itself a catalog entry ([[Q.sql]])
  * must produce EXACTLY the catalog DataFrame query's output — same
  * schema (names + types in order), same rows in the same presented
  * order, doubles compared bit-for-bit (both run in Spark, so any
  * mismatch is a fragment-drift bug, not float noise) — with a plan of
  * its own.
  */
class SqlSurfaceSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def catalogQ(name: String): Q =
    SparkEntry.catalog.find(_.name == name)
      .getOrElse(fail(s"$name not in catalog"))

  test("surface covers at least 10 catalog queries") {
    assert(SqlSurface.texts.size >= 10)
  }

  test("every surface text name exists in the catalog") {
    val missing = SqlSurface.texts.keySet
      .filterNot(n => SparkEntry.catalog.exists(_.name == n))
    assert(missing.isEmpty, s"unknown names: $missing")
  }

  test("each text registers exactly the views it reads, CTE names excluded") {
    def read(name: String) = SqlSurface.viewsRead(SqlSurface.texts(name))
    assert(read("q01_pricing_summary") === Set("lineitem"))
    assert(read("q12_spread_flavors") === Set("book"))
    // q128 reads dedup_scored only inside a scalar subquery
    assert(read("q128_dedup_threshold_sweep") ===
      Set("dedup_scored", "dedup_components_700", "dedup_components_800",
        "dedup_components_900"))
    assert(SqlSurface.viewsRead(
      "WITH t AS (SELECT * FROM orders) SELECT * FROM t JOIN (" +
        "WITH u AS (SELECT 1 AS x) SELECT * FROM u) v WHERE EXISTS (SELECT 1 FROM part)") ===
      Set("orders", "part"))
  }

  test("unknown query name fails with a clear error") {
    val e = intercept[RuntimeException](SqlSurface.run(spark, dir, "q999_nope"))
    assert(e.getMessage.contains("unknown SQL-surface query"))
  }

  test("COVERAGE.md's canonical surface count matches SqlSurface.texts.size") {
    // the one-source-of-truth guard for the 160-vs-165 doc-drift class:
    // COVERAGE.md §SQL-first user surface cites "texts for N catalog
    // queries"; that N must be the code's count.
    val cov = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("COVERAGE.md")), "UTF-8")
    val m = "texts for (\\d+) catalog queries".r.findFirstMatchIn(cov)
      .getOrElse(fail("COVERAGE.md canonical line 'texts for N catalog queries' not found"))
    assert(m.group(1).toInt === SqlSurface.texts.size,
      s"COVERAGE.md cites ${m.group(1)} texts; code has ${SqlSurface.texts.size}")
  }

  test("every text-backed catalog entry has its text") {
    val missing = SparkEntry.catalog.filter(_.isText).map(_.name)
      .filterNot(SqlSurface.texts.contains)
    assert(missing.isEmpty, s"text-backed entries without a text: $missing")
  }

  // A merged entry's catalog program IS its text, so its case checks only
  // that the entry is wired to that text. Every other text runs first
  // (with no cache of the program's in place), then the program, and the
  // two must agree row for row — and must not be one plan written twice.
  private val merged = SparkEntry.catalog.filter(_.isText).map(_.name).toSet

  for (name <- SqlSurface.texts.keys.toSeq.sorted) {
    test(s"$name: spark.sql text ≡ DataFrame catalog output (rows, order, schema)") {
      if (merged(name)) {
        val viaSql = SqlSurface.run(spark, dir, name)
        assertSameRows(name, catalogQ(name).run(spark, dir), viaSql)
        spark.catalog.clearCache()
      } else {
        val viaSql = SqlSurface.run(spark, dir, name)
        val (sqlOpt, sqlPhys) =
          (viaSql.queryExecution.optimizedPlan, viaSql.queryExecution.executedPlan)
        val b = viaSql.collect()
        spark.catalog.clearCache()
        val df = catalogQ(name).run(spark, dir)
        val samePlan = sqlOpt.sameResult(df.queryExecution.optimizedPlan) &&
          sqlPhys.sameResult(df.queryExecution.executedPlan)
        val a = df.collect()
        spark.catalog.clearCache()
        assert(viaSql.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
          df.schema.fields.map(f => (f.name, f.dataType)).toSeq,
          "schema (names + types, in order) must match")
        assert(a.length === b.length, "row count")
        a.zip(b).zipWithIndex.foreach { case ((ra, rb), i) =>
          assert(ra === rb, s"row $i differs: df=$ra sql=$rb")
        }
        assert(!samePlan, "the text and the DataFrame program plan the same optimized " +
          "and physical plan: merge it (make the catalog entry Q.sql and delete the program)")
      }
    }
  }
}
