package graft

import org.apache.spark.sql.functions._

/** Spark 4 recursive CTE coverage: the engine feature
  * `sql_recursive_cte` builds on, plus the documented limitation its
  * design works around (only UNION ALL recursion is supported, so
  * recursive queries must be acyclic-by-construction — a cyclic
  * transitive closure cannot terminate and is correctly rejected).
  */
class RecursiveCteSpec extends SparkSpecBase {

  test("UNION ALL recursion executes (monotone counter)") {
    val r = spark.sql(
      "WITH RECURSIVE t(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM t WHERE n < 5) SELECT sum(n) FROM t")
      .head().getLong(0)
    assert(r == 15L)
  }

  test("UNION-distinct recursion is rejected (the sql_recursive_cte design constraint)") {
    val e = intercept[Exception] {
      spark.sql(
        "WITH RECURSIVE r(v) AS (SELECT 1 UNION SELECT CASE WHEN v = 1 THEN 2 ELSE 1 END FROM r) SELECT count(*) FROM r")
        .collect()
    }
    assert(e.getMessage.contains("UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE"),
      e.getMessage.take(200))
  }

  test("sql_recursive_cte produces a dense, gap-free daily calendar") {
    val rows = SparkEntry.queries("sql_recursive_cte")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty)
    val days = rows.map(_._1)
    // dense: every day between min and max appears exactly once
    assert(days.toSeq == (days.min to days.max).toSeq)
    // totals reconcile with the raw feed
    assert(rows.map(_._2).sum ==
      Tables.events(spark, sfDir).count())
    // zero-filled days are possible but real fixture months have
    // events every day — at least assert non-negative counts
    assert(rows.forall(_._2 >= 0))
  }

  test("block-anchored recursion survives feeds far past the 100-level limit") {
    import spark.implicits._
    // 400-day span with events only at the endpoints: the r4
    // day-per-level recursion needed span-many levels and would hit
    // Spark's default spark.sql.cteRecursionLevelLimit=100 here; the
    // 30-day block anchor caps depth at 30 regardless of span
    val dir = TempDirs.once("cte_long_feed", "synthetic400") { dir =>
      Seq((0L, 0L), (1L, 399L))
        .map { case (id, day) => (id, day * 86400L * 1000000000L) }
        .toDF("event_id", "ts")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      // the operator's views() registers every SQL-surface table, so
      // the synthetic dir borrows the untouched ones from the fixture
      for (t <- Seq("customer", "orders", "nation", "part", "lineitem"))
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"$sfDir/$t.parquet"),
          java.nio.file.Paths.get(s"$dir/$t.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val rows = SparkEntry.queries("sql_recursive_cte")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == 400, s"expected a dense 400-day calendar, got ${rows.length}")
    val days = rows.map(_._1)
    assert(days.toSeq == (days.min to days.max).toSeq)
    // endpoint days carry their single event; every gap day is zero-filled
    assert(rows.head == ((0L, 1L)) && rows.last == ((399L, 1L)))
    assert(rows.map(_._2).sum == 2L)
  }
}
