package graft.operators

import graft.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.C — joins.
  *
  * Football reading: match⋈team⋈league dimension joins, player↔event
  * joins, as-of "state at event time" (derived surface —
  * `/root/reference/README.md:2`).
  *
  * Scale notes (100 TB): dimension joins broadcast explicitly
  * (`broadcast()` hint → BroadcastHashJoin, no shuffle of the fact
  * side); fact-fact joins shuffle on the join key and rely on AQE for
  * skew splitting; the as-of join is a single-shuffle window
  * formulation instead of a point-lookup join (no per-row probe).
  */
object JoinQueries {

  val queries: Map[String, Q] = Map(
    // Fact ⋈ broadcast dims (customer⋈nation⋈region).
    "join_inner_broadcast" -> ((s, d) =>
      customer(s, d)
        .join(broadcast(nation(s, d)),
          col("c_nationkey") === col("n_nationkey"), "inner")
        .join(broadcast(region(s, d)),
          col("n_regionkey") === col("r_regionkey"), "inner")
        .select(col("c_custkey"), col("n_name"), col("r_name"))
        .orderBy(col("c_custkey"))),

    // Large-large equi join: shuffle path (SMJ; AQE may elect BHJ at
    // small sf — same semantics).
    "join_inner_shuffle" -> ((s, d) =>
      orders(s, d)
        .join(lineitem(s, d), col("o_orderkey") === col("l_orderkey"), "inner")
        .select(col("o_orderkey"), col("l_linenumber"), col("o_orderstatus"),
          col("l_quantity"))
        // lineitem rows can collide on (orderkey, linenumber) — order by
        // all output columns for a stable cross-engine order.
        .orderBy(col("o_orderkey"), col("l_linenumber"), col("o_orderstatus"),
          col("l_quantity"))),

    // Left outer: customers with no orders get count 0.
    "join_left_outer" -> ((s, d) =>
      customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy(col("c_custkey"))),

    // Right outer: parts never shipped appear with count 0.
    "join_right_outer" -> ((s, d) =>
      lineitem(s, d)
        .join(part(s, d), col("l_partkey") === col("p_partkey"), "right")
        .groupBy(col("p_partkey"))
        .agg(count(col("l_orderkey")).as("n_ship"))
        .orderBy(col("p_partkey"))),

    // Full outer over two aggregated keysets with coalesced key.
    "join_full_outer" -> ((s, d) => {
      val rich = customer(s, d).filter(col("c_acctbal") > 5000.0)
        .select(col("c_custkey"))
      val spend = orders(s, d).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
      rich.join(spend, col("c_custkey") === col("o_custkey"), "full")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("n_orders"))
        .orderBy(col("custkey"))
    }),

    // EXISTS — customers having >= 1 urgent order.
    "join_left_semi" -> ((s, d) =>
      customer(s, d)
        .join(orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))),

    // NOT EXISTS — parts with no shipment in the final fixture year.
    // (Unfiltered "never shipped" is vacuously empty at every fixture
    // scale — every part ships; the date cutoff leaves a real
    // remainder: 9 rows at sf0.001, 49 at sf0.01.)
    "join_left_anti" -> ((s, d) =>
      part(s, d)
        .join(lineitem(s, d)
            .filter(col("l_shipdate") >=
              lit("2001-01-01").cast(TimestampType)),
          col("p_partkey") === col("l_partkey"), "left_anti")
        .select(col("p_partkey"), col("p_name"))
        .orderBy(col("p_partkey"))),

    // Cartesian product of the two small dims (bounded: 5 x 25 rows).
    "join_cross" -> ((s, d) =>
      region(s, d).crossJoin(nation(s, d))
        .select(col("r_name"), col("n_name"))
        .orderBy(col("r_name"), col("n_name"))),

    // PURE interval join (no equi key at all) via binning: each band
    // [lo, hi) explodes to the fixed-width bins it overlaps, the probe
    // side computes its own bin, and the join is an EQUI join on bin
    // with the range check as a residual filter. Naive Spark executes
    // an interval join as a nested loop comparing every probe row to
    // every interval — O(n·m); binning makes it O(n + output), the
    // standard range-join technique (Spark has no native range-join
    // optimizer rule). Bands deliberately overlap ('all' contains the
    // others) so multi-match semantics are exercised. Plan-asserted:
    // no BroadcastNestedLoopJoin / CartesianProduct.
    "join_range_binned" -> ((s, d) => {
      import s.implicits._
      val W = 25000.0
      val bands = Seq(
        ("b1", 1000.0, 5000.0), ("b2", 5000.0, 25000.0),
        ("b3", 25000.0, 125000.0), ("b4", 125000.0, 625000.0),
        ("all", 0.0, 625000.0)).toDF("band", "lo", "hi")
      val binned = bands.withColumn("bin",
        explode(sequence(floor(col("lo") / W),
          floor((col("hi") - lit(0.01)) / W))))
      orders(s, d)
        .withColumn("bin", floor(col("o_totalprice") / W))
        .join(binned, Seq("bin"))
        .filter(col("o_totalprice") >= col("lo") &&
          col("o_totalprice") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"),
          moneySumD(col("o_totalprice")).as("sum_price"))
        .orderBy(col("band"))
    }),

    // Interval-OVERLAP join (r9): interval set × interval set, pairs
    // where [a_s, a_e] and [b_s, b_e] intersect — the temporal-overlap
    // primitive (session×campaign, outage×job, version-validity
    // joins). join_range_binned covers point-in-interval; this is the
    // interval×interval case. Same binning recipe at a coarser tile:
    // each interval explodes to the week tiles it touches, the join is
    // an EQUI join on tile with the exact overlap predicate as a
    // residual, and `distinct` collapses pairs that share several
    // tiles. O(n·tiles + true pairs), never the nested loop Spark
    // would otherwise plan for a pure theta overlap. Both sides are
    // deterministic key-filtered slices of orders with key-derived
    // interval lengths (the fixture has one date column; the shape is
    // what is exercised). Plan-asserted: no BNLJ/CartesianProduct.
    "join_interval_overlap" -> ((s, d) => {
      def side(mod: Int, lenMod: Int, id: String, s0: String, e0: String) =
        orders(s, d).filter(col("o_orderkey") % mod === 0)
          .select(col("o_orderkey").as(id),
            to_date(col("o_orderdate")).as(s0),
            date_add(to_date(col("o_orderdate")),
              (col("o_orderkey") % lenMod + 1).cast("int")).as(e0))
      // the join dedups whole (a, b) interval pairs; o_orderkey is
      // unique, so each pair is one (a_id, b_id) row
      graft.api.GraftOps.intervalOverlapJoin(
          side(97, 5, "a_id", "a_s", "a_e"), "a_s", "a_e",
          side(89, 7, "b_id", "b_s", "b_e"), "b_s", "b_e")
        .select(col("a_id"), col("b_id"),
          (datediff(least(col("a_e"), col("b_e")),
            greatest(col("a_s"), col("b_s"))) + 1).cast("long")
            .as("overlap_days"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // Null-safe equi join (r8): `<=>` (EqualNullSafe) — NULL keys
    // MATCH each other instead of silently dropping, the semantics a
    // dimension join needs when the "unknown" bucket is a real
    // category. Keys are deterministically nulled (nationkey 3 →
    // NULL on both sides), so the null partition carries real rows:
    // a plain equi join loses every nation-3 customer, the null-safe
    // one routes them to the nulled dimension row. Still ONE
    // hash-partitioned join — EqualNullSafe is a sargable equi key
    // (nulls hash to one partition; a skewed null bucket at scale
    // gets the salting playbook like any hot key).
    "join_null_safe" -> ((s, d) => {
      val cust = customer(s, d)
        .select(col("c_custkey"), expr("nullif(c_nationkey, 3)").as("nk"))
      val nat = nation(s, d)
        .select(expr("nullif(n_nationkey, 3)").as("nk2"), col("n_name"))
      cust.join(nat, col("nk") <=> col("nk2"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_cust"))
        .orderBy(col("n_name"))
    }),

    // Theta join: equi key + range condition on dates, aggregated.
    "join_theta_range" -> ((s, d) =>
      lineitem(s, d)
        .join(orders(s, d),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
          "inner")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), moneySumD(col("l_quantity")).as("sum_qty"))
        .orderBy(col("o_orderpriority"))),

    // As-of join: each event paired with the user's most recent
    // strictly-prior signup. Single shuffle on user_id via a range-frame
    // window — scales linearly, unlike a correlated probe.
    "join_asof" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(Window.unboundedPreceding, -1)
      events(s, d)
        .withColumn("signup_us",
          when(col("event_type") === "signup", col("ts_us")))
        .withColumn("last_signup_us", max(col("signup_us")).over(w))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("last_signup_us"))
        .orderBy(col("event_id"))
    }),

    // The SAME backward-strict as-of result via the NATIVE custom
    // operator (r8, payload-complete r9): graft.plans.AsofJoin —
    // custom LogicalPlan + Strategy + BinaryExecNode whose declared
    // distribution/ordering requirements let EnsureRequirements plan
    // the co-partitioning shuffles and spilling sorts, then an
    // O(|L|+|R|)-per-partition merge walk with O(1) state computes
    // the join (no window buffering, no range-frame state). The
    // result carries the matched right row's PAYLOAD columns (the
    // pandas merge_asof contract — here the matched signup's own
    // event_id), null-extended on no match, with equal-time right
    // rows pinned by the event_id tiebreak. Oracle-paired with the
    // lateral-join SQL spelling of the same semantics — a window/
    // lateral spelling and a custom physical operator must hash to
    // the same result, the dedup_ngram double-entry pattern applied
    // to a whole-operator Catalyst extension. AsofJoinApi runs it on
    // its cached AQE-off child of the caller's session: the exec fails
    // fast (alignment guard) rather than walk partitionings AQE
    // re-planned independently.
    "join_asof_native" -> ((s, d) => {
      val ev = events(s, d)
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val signups = events(s, d)
        .filter(col("event_type") === "signup")
        .select(col("user_id").as("s_user_id"),
          col("ts_us").as("last_signup_us"),
          col("event_id").as("signup_event_id"))
      graft.plans.AsofJoinApi.asofJoin(s, ev, signups,
          leftKeyCol = "user_id", rightKeyCol = "s_user_id",
          leftTimeCol = "ts_us", rightTimeCol = "last_signup_us",
          rightTiebreak = Seq("signup_event_id"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("last_signup_us"), col("signup_event_id"))
        .orderBy(col("event_id"))
    }),

    // The FORWARD direction through the same native exec (r8): the
    // earliest signup with ts >= t — one flag on the merge walk
    // (consume strictly-before rows, the buffered head answers when it
    // belongs to the key), same declared requirements, same O(1)
    // state, same payload contract (r9).
    "join_asof_native_fwd" -> ((s, d) => {
      val ev = events(s, d)
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val signups = events(s, d)
        .filter(col("event_type") === "signup")
        .select(col("user_id").as("s_user_id"),
          col("ts_us").as("next_signup_us"),
          col("event_id").as("signup_event_id"))
      graft.plans.AsofJoinApi.asofJoin(s, ev, signups,
          leftKeyCol = "user_id", rightKeyCol = "s_user_id",
          leftTimeCol = "ts_us", rightTimeCol = "next_signup_us",
          rightTiebreak = Seq("signup_event_id"), forward = true)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("next_signup_us"), col("signup_event_id"))
        .orderBy(col("event_id"))
    }),

    // The NEAREST direction through the same native exec (r14,
    // completing the merge_asof direction triangle): smaller |Δt| of
    // the inclusive-backward candidate (last consumed right row) vs
    // the strict-forward candidate (the buffered head), ties to
    // backward — the same rule as join_asof_nearest's CASE, but
    // carrying the matched signup's PAYLOAD row. Same single
    // co-partitioning shuffle + sort, same O(1) walk state (one extra
    // long: the consumed candidate's time). AsofJoinNativeSpec proves
    // row-identity of nearest_us against the window spelling.
    "join_asof_native_nearest" -> ((s, d) => {
      val ev = events(s, d)
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val signups = events(s, d)
        .filter(col("event_type") === "signup")
        .select(col("user_id").as("s_user_id"),
          col("ts_us").as("nearest_signup_us"),
          col("event_id").as("signup_event_id"))
      graft.plans.AsofJoinApi.asofJoin(s, ev, signups,
          leftKeyCol = "user_id", rightKeyCol = "s_user_id",
          leftTimeCol = "ts_us", rightTimeCol = "nearest_signup_us",
          rightTiebreak = Seq("signup_event_id"), nearest = true)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("nearest_signup_us"), col("signup_event_id"))
        .orderBy(col("event_id"))
    }),

    // As-of join, forward + nearest directions (r7): the other two
    // merge_asof semantics. prior = most recent signup with ts <= t
    // (RANGE unbounded-preceding..current-row — peers included, same
    // rule both engines), next = earliest signup with ts >= t (RANGE
    // current-row..unbounded-following), nearest = smaller |Δ| with
    // ties to prior — all integer-µs arithmetic, engine-exact. Both
    // windows share one (user_id, ts_us) partitioning+sort, so the
    // plan is the SAME single shuffle as backward join_asof: direction
    // costs nothing.
    "join_asof_nearest" -> ((s, d) => {
      val wPrior = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(Window.currentRow, Window.unboundedFollowing)
      events(s, d)
        .withColumn("signup_us",
          when(col("event_type") === "signup", col("ts_us")))
        .withColumn("prior_us", max(col("signup_us")).over(wPrior))
        .withColumn("next_us", min(col("signup_us")).over(wNext))
        .withColumn("nearest_us",
          when(col("prior_us").isNull, col("next_us"))
            .when(col("next_us").isNull, col("prior_us"))
            .when(col("ts_us") - col("prior_us") <=
              col("next_us") - col("ts_us"), col("prior_us"))
            .otherwise(col("next_us")))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("next_us"), col("nearest_us"))
        .orderBy(col("event_id"))
    }),

    // As-of join with a tolerance bound (r7): merge_asof's fourth
    // parameter — the prior signup counts only within the last hour
    // (ts_us in [t - 3600s, t]), else NULL. Spelled as a BOUNDED range
    // frame (-tolerance .. current row), which is also the scale
    // story: window state is capped by the tolerance span instead of
    // unbounded-preceding history, exactly what a streaming/huge-key
    // variant needs. Same single (user_id, ts_us) shuffle+sort as the
    // other as-of directions.
    "join_asof_tolerance" -> ((s, d) => {
      val tolUs = 3600L * 1000000L
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-tolUs, Window.currentRow)
      events(s, d)
        .withColumn("signup_us",
          when(col("event_type") === "signup", col("ts_us")))
        .withColumn("asof_us", max(col("signup_us")).over(w))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("asof_us"))
        .orderBy(col("event_id"))
    }),

    // 5-way star join (TPC-H Q5 shape) + group aggregation.
    // r14 (guide §3.1): spelled fact-table-last so lineitem is the
    // STREAM side — the old customer-first chain made Catalyst
    // broadcast lineitem itself at sf0.1 (a 600k-row fact build side,
    // and the backwards strategy at any scale); now the date-filtered
    // orders ⋈ dims chain is the (estimate- or AQE-picked) build side
    // and the fact table is never exchanged. Inner joins commute, the
    // date filter still reaches the orders scan (PushedFilters) —
    // result and oracle unchanged.
    "join_multiway" -> ((s, d) => {
      val ord = orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
          col("o_orderdate") < lit("1997-01-01").cast(TimestampType))
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
      lineitem(s, d)
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name"))
        .agg(sum(revenue(col("l_extendedprice"), col("l_discount")))
          .cast(DoubleType).as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    }),

    // Skew-salted join: l_returnflag has only 3 values, so a plain
    // shuffle join on it puts a third of lineitem on one reducer.
    // Salting fans each key over 8 sub-partitions (fact side gets a
    // deterministic per-row salt, the tiny dim side is exploded 8x),
    // restoring parallelism. Result is identical to the unsalted join
    // (oracle-verified) — the salt exists only inside the shuffle.
    // At 100 TB this is the manual fallback where AQE's runtime skew
    // splitting can't help (e.g. a skewed AGGREGATION key feeding a
    // join); here it also documents the technique.
    "join_skew_salted" -> ((s, d) => {
      val flags = lineitem(s, d).select(col("l_returnflag")).distinct()
        .withColumn("flag_tag",
          concat(lit("flag:"), col("l_returnflag")))
      val salted = lineitem(s, d)
        .withColumn("salt", pmod(xxhash64(col("l_orderkey"),
          col("l_linenumber")), lit(8)))
      val dimSalted = flags
        .withColumn("salt", explode(sequence(lit(0L), lit(7L))))
      salted
        .join(dimSalted, Seq("l_returnflag", "salt"))
        .groupBy(col("l_returnflag"), col("flag_tag"))
        .agg(count(lit(1)).as("n_rows"),
          moneySumD(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    }),

    // AQE runtime skew split — the engine-native complement to
    // `join_skew_salted`'s manual fan-out (r6): the same 3-orders-of-
    // magnitude key skew (90% of the fact lands on key 0), but left
    // for ADAPTIVE execution to fix — after the shuffle map stage, AQE
    // observes the oversized partition and OptimizeSkewedJoin splits
    // it into multiple reducer tasks (duplicating the matching dim
    // partition), restoring parallelism with no query rewrite. Confs
    // are scoped to a CLONED session (same SparkContext/catalog, own
    // conf) so the fixture-scale thresholds that make a ~100 KB
    // partition count as "skewed" never leak into other queries; at
    // 100 TB the DEFAULT thresholds (256 MB) do the same job. The
    // broadcast path is disabled because skew splitting is a
    // sort-merge-join mechanism — with broadcast on, AQE would just
    // broadcast the dim (also fine, but then nothing demonstrates the
    // skew machinery this operator exists to pin). Result is
    // identical to the unskewed-aware plan (oracle-verified);
    // PlanShapeSpec asserts the executed plan actually split
    // (skew=true on the SMJ).
    "join_skew_aqe" -> ((s, d) => {
      // Skew thresholds DERIVED from the fact table's input bytes: the
      // hot key owns ~90% of the fact's shuffle bytes, so a threshold at
      // 0.1% of the fact's on-disk size sits orders of magnitude below
      // the hot partition at every scale (the split always fires where
      // the demo needs it) while scaling up with the input so the
      // advisory size — and with it the reducer-task count — stays
      // proportionate at any corpus size; capped at the 256 MB
      // production default, where this conf profile converges to stock
      // AQE. The threshold compares ON-DISK fact bytes (full-width,
      // compressed parquet) with SHUFFLE bytes (the narrow l_orderkey/
      // l_quantity/skew_key projection): it holds only while the hot
      // partition's shuffle bytes exceed 0.1% of the file, which the
      // narrow projection clears by a wide margin (PlanShapeSpec pins
      // skew=true). The advisory size has a 2 KB floor so the smallest
      // fixtures do not split the hot partition into sub-KB reducers.
      // However small the advisory size, the hot partition splits into
      // at most 16 reducer tasks, one per map chunk below: AQE splits a
      // skewed partition by whole map outputs. Derived values join the
      // session-cache key so two scales in one JVM never share a
      // mis-sized profile.
      val thrBytes = math.min(256L << 20, math.max(1024L,
        graft.ParquetMeta.byteSize(s"$d/lineitem.parquet") / 1024))
      // one fixed-conf child session per (caller, profile): rebuilding
      // SessionState per call is pure fixed cost, and nothing registers
      // views or UDFs on the child, so every call can share it
      val s2 = graft.SessionMemo(s, ("join_conf", s"skew_aqe_$thrBytes")) {
        val c = s.newSession()
        c.conf.set("spark.sql.adaptive.enabled", "true")
        c.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        c.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
        c.conf.set(
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
          thrBytes.toString)
        c.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
          math.max(2048L, thrBytes / 2).toString)
        c.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        c.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        c
      }
      val fact = lineitem(s2, d)
        .select(col("l_orderkey"), col("l_quantity"))
        .withColumn("skew_key",
          when(col("l_orderkey") % 100 < 90, 0L)
            .otherwise(col("l_orderkey") % 100))
      // 4 partitions, not defaultParallelism: the dim's scan and
      // shuffle-write task count must not grow with the core count —
      // 100 rows spread over one partition per core are that many
      // near-empty tasks, pure scheduling overhead
      val dim = s2.range(0, 100, 1, 4)
        .select(col("id").as("skew_key"),
          format_string("k%03d", col("id")).as("label"))
      // AQE splits a skewed reducer partition at MAP-OUTPUT
      // granularity — it regroups whole mapper chunks, never bytes —
      // and the single-row-group fixture parquet reads as ONE map
      // task, making the hot partition one indivisible chunk. The
      // round-robin repartition stands in for the thousands of map
      // tasks a real 100 TB scan produces naturally; it exists only
      // because of the fixture's layout, not the technique.
      fact.repartition(16).join(dim, Seq("skew_key"))
        // aggregate on the LABEL (not the join key): the downstream
        // exchange exists either way, so the skew split introduces no
        // extra shuffle and OptimizeSkewedJoin's no-regression check
        // accepts it
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_rows"),
          moneySumD(col("l_quantity")).as("sum_qty"))
        .orderBy(col("label"))
    }),

    // Bucketed co-located join: both fact tables written bucketed (and
    // sorted) by the join key, so the join needs NO shuffle of either
    // side — the 100 TB pattern for repeated fact-fact joins, where
    // one bucketed write amortizes over every later join on that key.
    // (Bucket-locality is asserted in PlanShapeSpec.) The bucketed
    // build is an ARTIFACT built once per (session, sf), not through
    // `TempDirs.once`: saveAsTable registration lives in the session's
    // catalog, so a fresh session (fresh catalog) rebuilds, while
    // repeated invocations in one session measure what the pattern
    // amortizes to — the zero-exchange read-side join.
    "join_bucketed" -> ((s, d) => {
      val wh = graft.TempDirs.scoped("bucketed", d)
      // catalog table names derived from the scoped dir PATH (not its
      // 32-bit hashCode, which can collide across paths and is
      // negative for Int.MinValue): unique per (JVM, sf), so
      // concurrent sessions sharing a catalog never race on a fixed
      // name
      val tag = wh.replaceAll("[^A-Za-z0-9]", "_")
      // the session's flag key is a memoized UUID, not the 32-bit
      // identityHashCode: two sessions sharing a hash would share the
      // flag, and the second would skip its catalog registration
      val sid = graft.SessionMemo(s, "join_bucketed_session_id")(
        java.util.UUID.randomUUID().toString)
      graft.TempDirs.writeOnce(s"bucketed_${d}_$sid") {
        // project to the needed columns before the bucketed write —
        // the write cost is the amortized index-build, keep it lean
        orders(s, d).select(col("o_orderkey"), col("o_orderstatus"))
          .write.mode("overwrite")
          .option("path", s"$wh/orders_b")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .saveAsTable(s"graft_orders_b_$tag")
        lineitem(s, d).select(col("l_orderkey"), col("l_quantity"))
          .write.mode("overwrite")
          .option("path", s"$wh/lineitem_b")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .saveAsTable(s"graft_lineitem_b_$tag")
      }
      s.table(s"graft_orders_b_$tag")
        .join(s.table(s"graft_lineitem_b_$tag"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"),
          moneySumD(col("l_quantity")).as("sum_qty"))
        .orderBy(col("o_orderstatus"))
    }),

    // Dynamic partition pruning: the fact side is stored partitioned
    // on the join key, the dim side is filtered at RUNTIME — no static
    // predicate exists on the fact, so only DPP (the dim join keys,
    // broadcast-reused as a partition filter) can skip fact partition
    // directories. At 100 TB this is the difference between scanning
    // one date/tenant directory and scanning the lake; the pruning is
    // asserted in PlanShapeSpec (dynamicpruning expression + scan
    // metrics).
    "join_dpp" -> ((s, d) => {
      val dir = graft.TempDirs.once("dppfact", d) { dir =>
        lineitem(s, d)
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_returnflag"))
          .write.mode("overwrite").partitionBy("l_returnflag")
          .parquet(dir)
      }
      // dim derived from a SCANNED table with a filter — a local
      // literal relation would constant-fold away the selective
      // predicate DPP keys on
      val dim = nation(s, d).filter(col("n_nationkey") <= 1)
        .select(
          when(col("n_nationkey") === 0, "A").otherwise("R").as("flag"),
          when(col("n_nationkey") === 0, "returned").otherwise("refunded")
            .as("label"))
      parquet(s, dir)
        .join(dim, col("l_returnflag") === col("flag"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_rows"),
          moneySumD(col("l_quantity")).as("sum_qty"))
        .orderBy(col("label"))
    }),

    // Injected runtime bloom filter (r6): the third runtime-
    // optimization demo next to `join_dpp` (partition-level skipping)
    // and `join_skew_aqe` (partition splitting). A selectively
    // filtered dim side joins the fact on a non-partition key, so DPP
    // cannot help; Catalyst's InjectRuntimeFilter builds a bloom
    // filter over the dim join keys and pushes
    // bloom_filter_might_contain onto the FACT SCAN — rows that
    // cannot join die before the shuffle. At 100 TB this is the
    // difference between shuffling the whole fact table and shuffling
    // the ~matching fraction. Fixture-scale conf: the application-
    // side size threshold (10 GB default, sized for real lakes) drops
    // to 0 and broadcast is disabled — bloom reduction matters
    // exactly when the join must shuffle. Plan-asserted in
    // PlanShapeSpec (might_contain on the fact scan's filter).
    "join_runtime_bloom" -> ((s, d) => {
      val s2 = graft.SessionMemo(s, ("join_conf", "runtime_bloom")) {
        val c = s.newSession()
        c.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        c.conf.set(
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
          "0")
        c.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        c.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        c
      }
      val dim = orders(s2, d)
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderstatus") === "F")
        .select(col("o_orderkey"))
      lineitem(s2, d)
        .select(col("l_orderkey"), col("l_quantity"))
        .join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy()
        .agg(count(lit(1)).as("n_rows"),
          moneySumD(col("l_quantity")).as("sum_qty"))
    })
  )

  val oracle: Map[String, String] = Map(
    "join_range_binned" ->
      """WITH bands(band, lo, hi) AS (VALUES
        |  ('b1', 1000.0, 5000.0), ('b2', 5000.0, 25000.0),
        |  ('b3', 25000.0, 125000.0), ('b4', 125000.0, 625000.0),
        |  ('all', 0.0, 625000.0))
        |SELECT band, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN bands
        |  ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band ORDER BY band""".stripMargin,
    "join_inner_broadcast" ->
      """SELECT c_custkey, n_name, r_name FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |ORDER BY c_custkey""".stripMargin,
    "join_inner_shuffle" ->
      """SELECT o_orderkey, l_linenumber, o_orderstatus, l_quantity
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |ORDER BY o_orderkey, l_linenumber, o_orderstatus, l_quantity""".stripMargin,
    "join_left_outer" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "join_right_outer" ->
      """SELECT p_partkey, count(l_orderkey) AS n_ship
        |FROM lineitem RIGHT JOIN part ON l_partkey = p_partkey
        |GROUP BY p_partkey ORDER BY p_partkey""".stripMargin,
    "join_full_outer" ->
      """SELECT coalesce(c_custkey, o_custkey) AS custkey, n_orders
        |FROM (SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0) r
        |FULL OUTER JOIN (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey) sp
        |  ON c_custkey = o_custkey
        |ORDER BY custkey""".stripMargin,
    "join_left_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "join_left_anti" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_partkey = p_partkey
        |    AND l_shipdate >= TIMESTAMP '2001-01-01 00:00:00')
        |ORDER BY p_partkey""".stripMargin,
    "join_cross" ->
      "SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY r_name, n_name",
    "join_theta_range" ->
      """SELECT o_orderpriority, count(*) AS n, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders
        |  ON l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 30 DAY
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "join_asof" ->
      """SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
        |  (SELECT max(epoch_us(s.ts)) FROM events s
        |   WHERE s.user_id = e.user_id AND s.event_type = 'signup'
        |     AND epoch_us(s.ts) < epoch_us(e.ts)) AS last_signup_us
        |FROM events e ORDER BY e.event_id""".stripMargin,
    // plain theta overlap join — DuckDB's IEJoin evaluates it without
    // the tiling, which exists on the Spark side for plan shape only
    "join_interval_overlap" ->
      """WITH a AS (
        |  SELECT o_orderkey AS a_id, CAST(o_orderdate AS DATE) AS a_s,
        |    CAST(o_orderdate AS DATE)
        |      + CAST(o_orderkey % 5 + 1 AS INTEGER) AS a_e
        |  FROM orders WHERE o_orderkey % 97 = 0
        |), b AS (
        |  SELECT o_orderkey AS b_id, CAST(o_orderdate AS DATE) AS b_s,
        |    CAST(o_orderdate AS DATE)
        |      + CAST(o_orderkey % 7 + 1 AS INTEGER) AS b_e
        |  FROM orders WHERE o_orderkey % 89 = 0
        |)
        |SELECT a_id, b_id,
        |  CAST(datediff('day', greatest(a_s, b_s), least(a_e, b_e)) + 1
        |    AS BIGINT) AS overlap_days
        |FROM a JOIN b ON a_s <= b_e AND b_s <= a_e
        |ORDER BY a_id, b_id""".stripMargin,
    // IS NOT DISTINCT FROM — SQL's spelling of the null-safe equality
    "join_null_safe" ->
      """SELECT n.n_name, count(*) AS n_cust
        |FROM (SELECT c_custkey, nullif(c_nationkey, 3) AS nk FROM customer) c
        |JOIN (SELECT nullif(n_nationkey, 3) AS nk2, n_name FROM nation) n
        |  ON c.nk IS NOT DISTINCT FROM n.nk2
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin,
    // lateral mirror of the forward direction (ts >= t), payload
    // included; ties pinned by (tus ASC, event_id ASC) — the native
    // exec's right-side sort order
    "join_asof_native_fwd" ->
      """WITH ev AS MATERIALIZED (
        |  SELECT event_id, user_id, epoch_us(ts) AS tus, event_type
        |  FROM events
        |)
        |SELECT e.event_id, e.user_id, e.tus AS ts_us,
        |  s.tus AS next_signup_us, s.event_id AS signup_event_id
        |FROM ev e LEFT JOIN LATERAL (
        |  SELECT g.tus, g.event_id FROM ev g
        |  WHERE g.event_type = 'signup' AND g.user_id = e.user_id
        |    AND g.tus >= e.tus
        |  ORDER BY g.tus ASC, g.event_id ASC LIMIT 1
        |) s ON true
        |ORDER BY e.event_id""".stripMargin,
    // lateral spelling of backward-strict as-of WITH the matched
    // row's payload (the merge_asof contract): same last_signup_us
    // as join_asof's window spelling, plus the matched signup's
    // event_id — ties pinned by (tus DESC, event_id DESC), the
    // mirror of the native exec's ascending right-side sort
    "join_asof_native" ->
      """WITH ev AS MATERIALIZED (
        |  SELECT event_id, user_id, epoch_us(ts) AS tus, event_type
        |  FROM events
        |)
        |SELECT e.event_id, e.user_id, e.tus AS ts_us,
        |  s.tus AS last_signup_us, s.event_id AS signup_event_id
        |FROM ev e LEFT JOIN LATERAL (
        |  SELECT g.tus, g.event_id FROM ev g
        |  WHERE g.event_type = 'signup' AND g.user_id = e.user_id
        |    AND g.tus < e.tus
        |  ORDER BY g.tus DESC, g.event_id DESC LIMIT 1
        |) s ON true
        |ORDER BY e.event_id""".stripMargin,
    // lateral mirror of the native NEAREST direction, payload included:
    // prior candidate = (tus <= t, ORDER BY tus DESC, event_id DESC),
    // next candidate = (tus > t, ORDER BY tus ASC, event_id ASC) —
    // strict next mirrors the walk, which consumes equal-time rows
    // into the backward candidate; tie (equal deltas) goes to prior
    "join_asof_native_nearest" ->
      """WITH ev AS MATERIALIZED (
        |  SELECT event_id, user_id, epoch_us(ts) AS tus, event_type
        |  FROM events
        |)
        |SELECT e.event_id, e.user_id, e.tus AS ts_us,
        |  CASE WHEN p.tus IS NULL THEN n.tus
        |       WHEN n.tus IS NULL THEN p.tus
        |       WHEN e.tus - p.tus <= n.tus - e.tus THEN p.tus
        |       ELSE n.tus END AS nearest_signup_us,
        |  CASE WHEN p.tus IS NULL THEN n.event_id
        |       WHEN n.tus IS NULL THEN p.event_id
        |       WHEN e.tus - p.tus <= n.tus - e.tus THEN p.event_id
        |       ELSE n.event_id END AS signup_event_id
        |FROM ev e
        |LEFT JOIN LATERAL (
        |  SELECT g.tus, g.event_id FROM ev g
        |  WHERE g.event_type = 'signup' AND g.user_id = e.user_id
        |    AND g.tus <= e.tus
        |  ORDER BY g.tus DESC, g.event_id DESC LIMIT 1
        |) p ON true
        |LEFT JOIN LATERAL (
        |  SELECT g.tus, g.event_id FROM ev g
        |  WHERE g.event_type = 'signup' AND g.user_id = e.user_id
        |    AND g.tus > e.tus
        |  ORDER BY g.tus ASC, g.event_id ASC LIMIT 1
        |) n ON true
        |ORDER BY e.event_id""".stripMargin,
    // correlated min/max mirrors of the two range-frame windows;
    // nearest = smaller integer-us delta, ties to prior
    "join_asof_nearest" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tus FROM events
        |), j AS (
        |  SELECT e.event_id, e.user_id, e.tus,
        |    (SELECT max(s.tus) FROM e s
        |     WHERE s.user_id = e.user_id AND s.event_type = 'signup'
        |       AND s.tus <= e.tus) AS prior_us,
        |    (SELECT min(s.tus) FROM e s
        |     WHERE s.user_id = e.user_id AND s.event_type = 'signup'
        |       AND s.tus >= e.tus) AS next_us
        |  FROM e
        |)
        |SELECT event_id, user_id, tus AS ts_us, next_us,
        |  CASE WHEN prior_us IS NULL THEN next_us
        |       WHEN next_us IS NULL THEN prior_us
        |       WHEN tus - prior_us <= next_us - tus THEN prior_us
        |       ELSE next_us END AS nearest_us
        |FROM j ORDER BY event_id""".stripMargin,
    // correlated mirror of the bounded range frame: the max prior
    // signup within [t - 1h, t], inclusive both ends
    "join_asof_tolerance" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tus FROM events
        |)
        |SELECT e.event_id, e.user_id, e.tus AS ts_us,
        |  (SELECT max(s.tus) FROM e s
        |   WHERE s.user_id = e.user_id AND s.event_type = 'signup'
        |     AND s.tus <= e.tus
        |     AND s.tus >= e.tus - 3600000000) AS asof_us
        |FROM e ORDER BY e.event_id""".stripMargin,
    "join_multiway" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "join_skew_salted" ->
      """SELECT l_returnflag, 'flag:' || l_returnflag AS flag_tag,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "join_skew_aqe" ->
      """WITH f AS (
        |  SELECT CASE WHEN l_orderkey % 100 < 90 THEN 0
        |              ELSE l_orderkey % 100 END AS skew_key,
        |    l_quantity
        |  FROM lineitem
        |), dim AS (
        |  SELECT unnest(generate_series(0, 99)) AS k
        |)
        |SELECT printf('k%03d', f.skew_key) AS label,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM f JOIN dim ON f.skew_key = k
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "join_bucketed" ->
      """SELECT o_orderstatus, count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "join_dpp" ->
      """WITH dim(flag, label) AS (VALUES ('A', 'returned'), ('R', 'refunded'))
        |SELECT label, count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN dim ON l_returnflag = flag
        |GROUP BY label ORDER BY label""".stripMargin,
    // the bloom filter is a pure pre-shuffle reduction — the join
    // result is the plain selective equi join
    "join_runtime_bloom" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'""".stripMargin
  )
}
