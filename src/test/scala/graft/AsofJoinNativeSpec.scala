package graft

import org.apache.spark.sql.functions._

/** The native as-of join (graft.plans.AsofJoin: custom LogicalPlan +
  * Strategy + merge-walk BinaryExecNode) must agree with the
  * window-spelled join_asof under any input partitioning, carry the
  * matched right row's payload columns (the pandas merge_asof
  * contract), handle non-Long key/time types, and must actually plan
  * through the custom exec.
  */
class AsofJoinNativeSpec extends SparkSpecBase {

  private def asofTimes(name: String, timeCol: String) =
    SparkEntry.queries(name)(spark, sfDir)
      .select(col("event_id"), col(timeCol)).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getLong(1))).toMap

  test("native as-of matched time equals the window spelling row for row") {
    val win = asofTimes("join_asof", "last_signup_us")
    val nat = asofTimes("join_asof_native", "last_signup_us")
    assert(nat.nonEmpty && nat == win)
  }

  test("payload column is consistent: the matched signup exists at that time") {
    // every non-null (last_signup_us, signup_event_id) pair must be a
    // REAL signup row of the same user — the payload is the matched
    // row, not a column mixed across rows
    val signups = Tables.events(spark, sfDir)
      .filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts_us"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = SparkEntry.queries("join_asof_native")(spark, sfDir)
      .filter(col("last_signup_us").isNotNull).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val trip = (r.getLong(1), r.getLong(3), r.getLong(4))
      assert(signups.contains(trip), s"payload not a real signup row: $trip")
    }
  }

  test("the plan contains AsofJoinExec (the custom strategy fired)") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val ev = Tables.events(s2, sfDir)
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val sg = Tables.events(s2, sfDir)
      .filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user_id"), col("ts_us").as("s_ts_us"))
    val df = graft.plans.AsofJoinApi.asofJoin(s2, ev, sg,
      "user_id", "s_user_id", "ts_us", "s_ts_us")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsofJoin"), s"custom exec missing:\n$plan")
    // EnsureRequirements must have inserted the co-partitioning
    // exchanges + sorts the exec DECLARES rather than hand-schedules
    assert(plan.contains("Exchange hashpartitioning"), plan)
    assert(plan.contains("Sort ["), plan)
  }

  // ADVICE r9 (medium): the PUBLIC facade must work on a
  // default-configured session — AQE on (the Spark default) coalesces
  // the two shuffle stages independently, so without the internal
  // AQE-off execution session the alignment guard throws on most runs.
  // Inputs are built on the AQE-on caller session on purpose.
  test("GraftOps.asofJoin runs on a default AQE-on session") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
      "precondition: the base spec session must have AQE on")
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val sg = Tables.events(spark, sfDir)
      .filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user_id"),
        col("ts_us").as("last_signup_us"),
        col("event_id").as("signup_event_id"))
    val got = graft.api.GraftOps.asofJoin(spark, ev, sg,
        "user_id", "s_user_id", "ts_us", "last_signup_us",
        rightTiebreak = Seq("signup_event_id"))
      .select(col("event_id"), col("last_signup_us")).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    val win = asofTimes("join_asof", "last_signup_us")
    assert(got.nonEmpty && got == win)
  }

  test("downstream same-key aggregation reuses the join's partitioning") {
    // the exec advertises left.outputPartitioning, so a groupBy on the
    // same key must plan with exactly the join's two exchanges — a
    // third Exchange means the property was dropped
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val ev = Tables.events(s2, sfDir)
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val sg = Tables.events(s2, sfDir)
      .filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user_id"), col("ts_us").as("s_ts_us"))
    def agg = graft.plans.AsofJoinApi.asofJoin(s2, ev, sg,
        "user_id", "s_user_id", "ts_us", "s_ts_us")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    // the layout of inputs above SmallPlanOnePartition's gate
    val plan = withoutSmallPlanRule(s2)(agg.queryExecution.executedPlan.toString)
    val nExchanges = "Exchange hashpartitioning".r
      .findAllMatchIn(plan).length
    assert(nExchanges == 2,
      s"expected 2 exchanges (join inputs only), got $nExchanges:\n$plan")
    // at fixture size the join keeps its two exchanges and the
    // aggregate runs over a coalesce, adding no exchange
    val small = agg.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllMatchIn(small).length == 2 &&
      small.contains("Coalesce 1"), small)
  }

  test("result survives adversarial input repartitioning") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    def run(lParts: Int, rParts: Int) = {
      val ev = Tables.events(s2, sfDir)
        .select(col("event_id"), col("user_id"), col("ts_us"))
        .repartition(lParts, col("event_id")) // WRONG key on purpose
      val sg = Tables.events(s2, sfDir)
        .filter(col("event_type") === "signup")
        .select(col("user_id").as("s_user_id"), col("ts_us").as("s_ts_us"),
          col("event_id").as("s_event_id"))
        .repartition(rParts) // round-robin on purpose
      graft.plans.AsofJoinApi.asofJoin(s2, ev, sg,
          "user_id", "s_user_id", "ts_us", "s_ts_us",
          rightTiebreak = Seq("s_event_id"))
        .orderBy(col("event_id"))
        .collect().map(_.toString).toSeq
    }
    assert(run(7, 3) == run(1, 13))
  }

  test("empty right side yields all-null right payloads") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    import s2.implicits._
    val left = Seq((1L, 10L, 100L), (2L, 10L, 200L))
      .toDF("event_id", "user_id", "ts_us")
    val right = Seq.empty[(Long, Long, String)]
      .toDF("s_user_id", "s_ts_us", "tag")
    val got = graft.plans.AsofJoinApi.asofJoin(s2, left, right,
        "user_id", "s_user_id", "ts_us", "s_ts_us")
      .orderBy("event_id").collect()
    assert(got.length == 2 &&
      got.forall(r => r.isNullAt(3) && r.isNullAt(4) && r.isNullAt(5)))
  }

  test("forward direction matches the window spelling's next_us") {
    // join_asof_nearest's next_us column IS the forward contract
    // (earliest right with ts >= t) — the native forward walk must
    // agree row for row
    val win = SparkEntry.queries("join_asof_nearest")(spark, sfDir)
      .select(col("event_id"), col("next_us")).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    val native = asofTimes("join_asof_native_fwd", "next_signup_us")
    assert(native.nonEmpty && native == win)
  }

  test("forward semantics: equal-time matches, strictly-earlier does not") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    import s2.implicits._
    val left = Seq((1L, 5L, 100L), (2L, 5L, 101L), (3L, 5L, 300L))
      .toDF("event_id", "user_id", "ts_us")
    val right = Seq((5L, 100L, "a"), (5L, 250L, "b"))
      .toDF("s_user_id", "s_ts_us", "tag")
    val got = graft.plans.AsofJoinApi.asofJoin(s2, left, right,
        "user_id", "s_user_id", "ts_us", "s_ts_us", forward = true)
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(4)) null else r.getLong(4),
        if (r.isNullAt(5)) null else r.getString(5))).toSeq
    // t=100 matches the equal-time 100 (payload a); t=101 skips it
    // (already past) and takes 250 (payload b); t=300 has nothing ahead
    assert(got == Seq((1L, 100L, "a"), (2L, 250L, "b"), (3L, null, null)))
  }

  test("nearest direction matches the window spelling's nearest_us row for row") {
    // r13 VERDICT task 2: the native NEAREST walk must be
    // row-identical with join_asof_nearest's CASE over the two
    // range-frame windows (inclusive prior, inclusive next, ties to
    // prior) — two algorithmically different spellings, one answer
    val win = SparkEntry.queries("join_asof_nearest")(spark, sfDir)
      .select(col("event_id"), col("nearest_us")).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    val native = asofTimes("join_asof_native_nearest", "nearest_signup_us")
    assert(native.nonEmpty && native == win)
  }

  test("nearest semantics: deltas compared, ties to backward, equal-time wins") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    import s2.implicits._
    val left = Seq(
      (1L, 5L, 100L), // prior 90 (d=10) vs next 105 (d=5) -> next "b"
      (2L, 5L, 95L),  // prior 90 (d=5) vs next 105 (d=10) -> prior "a"
      (3L, 5L, 105L), // equal-time right row -> delta 0 -> "b"
      (4L, 5L, 60L),  // no prior, next 90 -> "a"
      (5L, 5L, 999L), // no next, prior 195 -> "c"
      (6L, 5L, 150L), // prior 105 (d=45) vs next 195 (d=45): tie -> prior "b"
      (7L, 9L, 100L)) // no right rows for the key at all -> null
      .toDF("event_id", "user_id", "ts_us")
    val right = Seq((5L, 90L, "a"), (5L, 105L, "b"), (5L, 195L, "c"))
      .toDF("s_user_id", "s_ts_us", "tag")
    val got = graft.plans.AsofJoinApi.asofJoin(s2, left, right,
        "user_id", "s_user_id", "ts_us", "s_ts_us", nearest = true)
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(5)) null else r.getString(5))).toSeq
    assert(got == Seq((1L, "b"), (2L, "a"), (3L, "b"), (4L, "a"),
      (5L, "c"), (6L, "b"), (7L, null)))
  }

  test("nearest rejects non-BIGINT times loudly") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    import s2.implicits._
    val left = Seq(("u", "2026-01-01")).toDF("k", "t")
    val right = Seq(("u", "2026-01-02")).toDF("rk", "rt")
    val e = intercept[Exception] {
      graft.plans.AsofJoinApi.asofJoin(s2, left, right,
        "k", "rk", "t", "rt", nearest = true).collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(msgs.contains("BIGINT"), s"wrong error: $msgs")
  }

  test("strict-before semantics: an equal-time right row does not match") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    import s2.implicits._
    val left = Seq((1L, 5L, 100L), (2L, 5L, 101L), (3L, 6L, 100L))
      .toDF("event_id", "user_id", "ts_us")
    val right = Seq((5L, 100L, "x"), (5L, 90L, "y"), (7L, 50L, "z"))
      .toDF("s_user_id", "s_ts_us", "tag")
    val got = graft.plans.AsofJoinApi.asofJoin(s2, left, right,
        "user_id", "s_user_id", "ts_us", "s_ts_us")
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(4)) null else r.getLong(4),
        if (r.isNullAt(5)) null else r.getString(5))).toSeq
    // t=100: only the 90 row is strictly before (payload y); t=101:
    // the 100 row wins (payload x); user 6 has no right rows at all
    assert(got == Seq((1L, 90L, "y"), (2L, 100L, "x"), (3L, null, null)))
  }

  test("equal-time right rows resolve by the declared tiebreak, any partitioning") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    import s2.implicits._
    val left = Seq((1L, 5L, 100L)).toDF("event_id", "user_id", "ts_us")
    def run(parts: Int) = {
      val right = Seq((5L, 90L, 7L, "first"), (5L, 90L, 9L, "second"),
          (5L, 80L, 99L, "older"))
        .toDF("s_user_id", "s_ts_us", "seq", "tag").repartition(parts)
      graft.plans.AsofJoinApi.asofJoin(s2, left, right,
          "user_id", "s_user_id", "ts_us", "s_ts_us",
          rightTiebreak = Seq("seq"))
        .select(col("tag")).collect().map(_.getString(0)).toSeq
    }
    // backward keeps the LAST row in (time, tiebreak) ascending order:
    // among the two ts=90 ties, seq=9 wins, deterministically
    assert(run(1) == Seq("second") && run(5) == Seq("second"))
  }

  test("non-Long types: string keys and timestamp times walk correctly") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    import s2.implicits._
    def ts(sec: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2026-01-01T00:00:00Z").plusSeconds(sec))
    val left = Seq(("u1", ts(100), 1), ("u1", ts(200), 2), ("u2", ts(100), 3))
      .toDF("k", "t", "n")
    val right = Seq(("u1", ts(50), "a"), ("u1", ts(150), "b"),
        ("u2", ts(500), "c"))
      .toDF("rk", "rt", "tag")
    val got = graft.plans.AsofJoinApi.asofJoin(s2, left, right,
        "k", "rk", "t", "rt")
      .orderBy("n").collect()
      .map(r => (r.getInt(2), if (r.isNullAt(5)) null else r.getString(5)))
      .toSeq
    // u1@100 -> a (50); u1@200 -> b (150); u2@100 -> null (500 is after)
    assert(got == Seq((1, "a"), (2, "b"), (3, null)))
  }

  test("random tables: native walk equals a Scala reference, all three directions") {
    // generated micro-tables with DENSE collisions (6 keys, 40 time
    // values, duplicate (key, time) right rows) — the distributions
    // the fixture never produces; reference = per-left-row max/min-by
    // (time, seq) over a plain Scala filter; nearest = delta compare
    // of the inclusive-backward vs strict-forward candidates, ties to
    // backward
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    import s2.implicits._
    def sample[A](g: Gen[A], seed: Long): A =
      g.pureApply(Gen.Parameters.default, Seed(seed))
    val rowGen = for {
      k <- Gen.chooseNum(0L, 5L)
      t <- Gen.chooseNum(0L, 39L)
    } yield (k, t)
    for (case_ <- 0 until 6; dir <- Seq("back", "fwd", "near")) {
      val left = sample(Gen.listOfN(30, rowGen), 1000L + case_)
        .zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
      val right = sample(Gen.listOfN(25, rowGen), 2000L + case_)
        .zipWithIndex.map { case ((k, t), i) => (k, t, 100L + i) }
      val got = graft.plans.AsofJoinApi.asofJoin(s2,
          left.toDF("lid", "k", "t"),
          right.toDF("rk", "rt", "seq"),
          "k", "rk", "t", "rt", rightTiebreak = Seq("seq"),
          forward = dir == "fwd", nearest = dir == "near")
        .orderBy("lid").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(5)) None else Some(r.getLong(5)))).toMap
      val want = left.map { case (lid, k, t) =>
        def best(pred: Long => Boolean, fwdPick: Boolean): Option[(Long, Long)] = {
          val cands = right.filter { case (rk, rt, _) => rk == k && pred(rt) }
          if (cands.isEmpty) None
          else if (fwdPick) Some(cands.minBy(c => (c._2, c._3)))
            .map(c => (c._2, c._3))
          else Some(cands.maxBy(c => (c._2, c._3))).map(c => (c._2, c._3))
        }
        val pick = dir match {
          case "back" => best(_ < t, fwdPick = false).map(_._2)
          case "fwd" => best(_ >= t, fwdPick = true).map(_._2)
          case "near" =>
            (best(_ <= t, fwdPick = false), best(_ > t, fwdPick = true)) match {
              case (Some((pt, ps)), Some((nt, ns))) =>
                Some(if (t - pt <= nt - t) ps else ns)
              case (Some((_, ps)), None) => Some(ps)
              case (None, Some((_, ns))) => Some(ns)
              case _ => None
            }
        }
        lid -> pick
      }.toMap
      assert(got == want, s"case=$case_ dir=$dir")
    }
  }

  test("with AQE on, the join is either correct or fails loudly — never silent") {
    // the r9 alignment guard: AQE's stage re-planning may keep the
    // two sides aligned (uniformly coalesced) — then the result must
    // be right — or produce partitionings the exec can't verify, in
    // which case it must throw its co-partitioning error instead of
    // walking misaligned partitions
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    import s2.implicits._
    val left = (1L to 100L).map(i => (i, i % 7, i * 10L))
      .toDF("event_id", "user_id", "ts_us")
    val right = (1L to 50L).map(i => (i % 7, i * 17L, i))
      .toDF("s_user_id", "s_ts_us", "seq")
    val expected = {
      val s3 = spark.newSession()
      s3.conf.set("spark.sql.adaptive.enabled", "false")
      import s3.implicits._
      val l3 = (1L to 100L).map(i => (i, i % 7, i * 10L))
        .toDF("event_id", "user_id", "ts_us")
      val r3 = (1L to 50L).map(i => (i % 7, i * 17L, i))
        .toDF("s_user_id", "s_ts_us", "seq")
      graft.plans.AsofJoinApi.asofJoin(s3, l3, r3,
          "user_id", "s_user_id", "ts_us", "s_ts_us",
          rightTiebreak = Seq("seq"))
        .orderBy("event_id").collect().map(_.toString).toSeq
    }
    try {
      val got = graft.plans.AsofJoinApi.asofJoin(s2, left, right,
          "user_id", "s_user_id", "ts_us", "s_ts_us",
          rightTiebreak = Seq("seq"))
        .orderBy("event_id").collect().map(_.toString).toSeq
      assert(got == expected)
    } catch {
      case e: Throwable =>
        val msgs = Iterator.iterate(e: Throwable)(_.getCause)
          .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
        assert(msgs.contains("co-partitioned"),
          s"AQE failure was not the alignment guard: $msgs")
    }
  }
}
