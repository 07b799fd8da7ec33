package graft

import org.apache.spark.sql.functions._

/** `join_asof_nearest` semantics on a hand-checkable fixture plus the
  * plan-shape claim: both direction windows share ONE user_id shuffle.
  */
class AsofNearestSpec extends SparkSpecBase {

  test("prior/next/nearest with tie-to-prior, null edges at both ends") {
    import spark.implicits._
    // user 1 signups at t=100 and t=300 (us); events at 50 (before any
    // signup: prior null -> nearest=next=100), 200 (tie |100-200| =
    // |300-200| -> prior 100), 150 (nearest prior 100), 260 (nearest
    // next 300), 400 (after last: next null -> nearest=prior=300)
    val rows = Seq(
      (1L, 100L, "signup"), (2L, 300L, "signup"),
      (10L, 50L, "view"), (11L, 150L, "view"), (12L, 200L, "view"),
      (13L, 260L, "view"), (14L, 400L, "view"))
      .map { case (id, t, et) => (id, t * 1000L, 1L, et, 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = TempDirs.once("asof_nearest_spec", "tiny") { dir =>
      rows.write.mode("overwrite").parquet(s"$dir/events.parquet")
    }
    val got = SparkEntry.queries("join_asof_nearest")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> (Option(r.get(3)).map(_.toString.toLong),
        Option(r.get(4)).map(_.toString.toLong))).toMap
    assert(got(10L) == (Some(100L), Some(100L)))   // before any signup
    assert(got(11L) == (Some(300L), Some(100L)))   // nearest = prior
    assert(got(12L) == (Some(300L), Some(100L)))   // exact tie -> prior
    assert(got(13L) == (Some(300L), Some(300L)))   // nearest = next
    assert(got(14L) == (None, Some(300L)))         // after last signup
    // signup events pair with themselves (peers included both frames)
    assert(got(1L) == (Some(100L), Some(100L)))
  }

  test("tolerance: prior signup matches only within the 1h bound") {
    import spark.implicits._
    val tol = 3600L * 1000000L
    val rows = Seq(
      (1L, 0L, 1L, "signup"),
      (10L, tol, 1L, "view"),      // exactly at the bound -> match
      (11L, tol + 1L, 1L, "view"), // 1us past the bound -> null
      (12L, 100L, 1L, "view"),     // well within -> match
      (20L, 500L, 2L, "view"))     // user 2 never signed up -> null
      .map { case (id, t, u, et) => (id, t * 1000L, u, et, 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = TempDirs.once("asof_tol_spec", "tiny") { dir =>
      rows.write.mode("overwrite").parquet(s"$dir/events.parquet")
    }
    val got = SparkEntry.queries("join_asof_tolerance")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> Option(r.get(3)).map(_.toString.toLong))
      .toMap
    assert(got(10L) == Some(0L))
    assert(got(11L).isEmpty)
    assert(got(12L) == Some(0L))
    assert(got(20L).isEmpty)
    assert(got(1L) == Some(0L)) // a signup matches itself (peer row)
  }

  test("both direction windows share one shuffle (single user_id Exchange)") {
    def q = SparkEntry.queries("join_asof_nearest")(spark, sfDir)
    // the layout of inputs above SmallPlanOnePartition's gate
    val plan = withoutSmallPlanRule()(q.queryExecution.executedPlan.toString)
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(plan).length
    assert(exchanges == 1,
      s"expected exactly 1 hash Exchange (shared by both windows), got $exchanges:\n$plan")
    // at fixture size both windows run in one stage with no exchange
    val small = q.queryExecution.executedPlan.toString
    assert(!small.contains("Exchange") && small.contains("Coalesce 1"), small)
    assert(workDuring(q.collect())._2 == 1)
  }
}
