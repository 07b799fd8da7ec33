package graft.operators

import graft.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.D — aggregations.
  *
  * Football reading: league standings, per-player season totals,
  * distinct opponents (derived surface — the reference snapshot
  * `/root/reference/README.md:2` declares the pipeline, contains no code).
  *
  * Scale notes (100 TB): every query here is a partial+final
  * HashAggregate — map-side combine before the shuffle keeps shuffled
  * bytes proportional to |groups|, not |rows|. Grouping keys are
  * low-cardinality, so the final agg is tiny regardless of input size.
  */
object AggQueries {

  /** Exact sufficient statistics of (quantity, price) per return flag:
    * n, Σx, Σy, Σxy, Σx², Σy² as order-free DECIMAL sums surfaced as
    * DOUBLE. Whole-dollar operands keep every sum (incl. Σy² ≈ 6e15 at
    * sf0.1) under 2^53, so each DECIMAL→DOUBLE cast is exact — at
    * cents scale Σy² would exceed the double mantissa and the
    * conversion's last-ulp rounding could differ by engine. (HALF_UP
    * on .50 is identical in Spark and DuckDB for positives.) Shared by
    * `agg_corr_exact` and `agg_linreg` so the invariant can never
    * drift between them.
    */
  private def sufficientStats(li: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val q = col("l_quantity").cast(DecimalType(18, 0))
    val p = col("l_extendedprice").cast(DecimalType(18, 0))
    li.groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).cast(DoubleType).as("n"),
        sum(q).cast(DoubleType).as("sx"),
        sum(p).cast(DoubleType).as("sy"),
        sum(q * p).cast(DoubleType).as("sxy"),
        sum(q * q).cast(DoubleType).as("sxx"),
        sum(p * p).cast(DoubleType).as("syy"))
  }

  /** HLL estimate from exploded (key..., reg) register rows: groups by
    * `keys`, derives Ssc = Σ 2^(53-M_j) as an exact DECIMAL(38,0)
    * (order-free), V = zero registers, and the classic
    * alpha_m·m²·2^53/Ssc estimate with linear-counting correction
    * below 2.5m — ONE double step from exact integers, the identical
    * algebra the DuckDB oracles run on HUGEINT (agg_corr_exact
    * sufficient-statistics discipline). Shared by `agg_hll_union` and
    * `agg_hll_intersection` so the estimator can never drift between
    * them. Output: `keys` + raw DOUBLE `est` (callers milli-scale at
    * their output boundary).
    */
  private def hllEstimate(regRows: org.apache.spark.sql.DataFrame,
                          keys: Seq[String]): org.apache.spark.sql.DataFrame = {
    import graft.functions.HllRegistersAgg
    val estRaw = lit(HllRegistersAgg.ALPHA_M2) * lit(9007199254740992.0) /
      col("ssc").cast(DoubleType)
    regRows
      .groupBy(keys.map(col): _*)
      .agg(
        sum(expr("cast(shiftleft(cast(1 as bigint), 53 - reg) as decimal(38,0))"))
          .as("ssc"),
        sum(when(col("reg") === 0, 1L).otherwise(0L)).as("v"))
      .select(keys.map(col) :+
        when(estRaw <= lit(10240.0) && col("v") > 0,
          lit(4096.0) * log(lit(4096.0) / col("v").cast(DoubleType)))
          .otherwise(estRaw).as("est"): _*)
  }

  /** Per-flag HLL register arrays + exact distinct counts as a tiny
    * once-per-JVM parquet artifact (3 rows × 4 KB): `agg_hll_union`
    * reads it twice (per-group + union legs) and
    * `agg_hll_intersection` three times (per-flag, pairwise, exact
    * join-back) — derived inline each reference would re-run the full
    * lineitem scan + sketch (the cc_labels lesson); built once, the
    * corpus is scanned once per JVM for the whole HLL family. This is
    * also the operator's own 100 TB story made literal: sketches are
    * BUILT once and UNIONED/intersected at query time.
    */
  private def hllRegsDir(s: org.apache.spark.sql.SparkSession,
                         d: String): String = {
    import graft.functions.HllRegistersAgg
    graft.TempDirs.once("hll_regs", d) { dir =>
      // sketch and exact in SEPARATE aggregates, joined on the 3-row
      // result: one agg mixing countDistinct with the imperative
      // sketch plans as the two-phase distinct rewrite whose FIRST
      // aggregate keys on (flag, partkey) — ~|distinct keys| 4 KB HLL
      // buffers (measured at sf1: 58.7 s mixed vs 8.1 s split,
      // build-inclusive run 1; warm reads 0.9 s)
      val sk = lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(HllRegistersAgg.registers(col("l_partkey")).as("regs"))
      val ex = lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact"))
      sk.join(ex, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("regs"), col("exact"))
        .coalesce(1).write.mode("overwrite").parquet(dir)
    }
  }

  private def hllRegs(s: org.apache.spark.sql.SparkSession,
                      d: String): org.apache.spark.sql.DataFrame =
    s.read.schema("l_returnflag STRING, regs ARRAY<INT>, exact BIGINT")
      .parquet(hllRegsDir(s, d))

  val queries: Map[String, Q] = Map(
    // Flagship — TPC-H Q1 shape (SURVEY.md §7.1).
    "agg_group_sums" -> ((s, d) => flagship(s, d)),

    // Exact distinct (expands to a two-phase aggregate).
    "agg_count_distinct" -> ((s, d) =>
      orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          countDistinct(col("o_custkey")).as("n_cust"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))),

    // EXACT distinct counting via Spark 4's bitmap aggregates (r5):
    // per (group, bucket) the key positions OR into a fixed-size
    // bitmap segment (bitmap_bucket_number partitions the key domain
    // into 32k-bit buckets), then bitmap_count sums per group — the
    // roaring-bitmap-style distinct pattern. At 100 TB this shuffles
    // bounded bitmap segments instead of the raw key stream (what
    // count(DISTINCT) must do) while staying EXACT (what
    // approx_count_distinct is not); it is the standard precise
    // distinct-at-scale trade when the key domain is dense integers.
    // Oracle-paired against plain count(DISTINCT).
    "agg_bitmap_distinct" -> ((s, d) =>
      orders(s, d)
        .groupBy(col("o_orderpriority"),
          expr("bitmap_bucket_number(o_custkey)").as("bkt"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(o_custkey))")
          .as("bm"))
        .groupBy(col("o_orderpriority"))
        .agg(expr("sum(bitmap_count(bm))").as("n_distinct_custs"))
        .orderBy(col("o_orderpriority"))),

    // HLL++ distinct estimate, oracle-paired via its accuracy envelope
    // (r11 verdict #5 — closing the declared-N ledger). The estimate
    // VALUE stays engine-specific by necessity: DuckDB ships an
    // incompatible HLL estimator (the r8 cross-engine probe's
    // documented negative), so the paired row gates what IS
    // cross-engine checkable — (a) the exact distinct count, verified
    // against DuckDB's count(DISTINCT), and (b) the sketch's accuracy
    // envelope |est − exact| ≤ 10%·exact, which at rsd = 0.01 is ~10σ:
    // deterministic given a fixture, far outside what any fixture
    // regeneration plausibly crosses, and exactly where a genuine
    // sketch regression (the failure a gate exists to catch) lands.
    // The tight 5%-of-exact check on the raw estimate stays in
    // OperatorSmokeSpec.
    "agg_approx_distinct" -> ((s, d) =>
      lineitem(s, d)
        .agg(
          approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts")) <=
            col("exact_parts") * 0.1).as("est_within_10pct"))),

    // Hierarchical subtotals; grouping_id() bit order matches DuckDB's
    // grouping_id(a,b). Null group keys disambiguated from real data
    // nulls via grouping_id (fixture keys are non-null).
    "agg_rollup" -> ((s, d) =>
      customer(s, d)
        .rollup(col("c_nationkey"), col("c_mktsegment"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          moneySumD(col("c_acctbal")).as("sum_bal"))
        .select(
          col("gid"),
          col("c_nationkey"), col("c_mktsegment"), col("n"), col("sum_bal"))
        .orderBy(col("gid"),
          asc_nulls_first("c_nationkey"), asc_nulls_first("c_mktsegment"))),

    "agg_cube" -> ((s, d) =>
      customer(s, d)
        .cube(col("c_mktsegment"), col("c_nationkey"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"))
        .select(col("gid"), col("c_mktsegment"),
          col("c_nationkey"), col("n"))
        .orderBy(col("gid"),
          asc_nulls_first("c_mktsegment"), asc_nulls_first("c_nationkey"))),

    // Explicit grouping sets via SQL (the one §2 operator that is
    // SQL-only in the public Dataset API).
    "agg_grouping_sets" -> ((s, d) =>
      s.sql(
        s"""SELECT grouping_id() AS gid, l_returnflag, l_linestatus,
           |  count(1) AS n, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
           |FROM ${view(s, d, "lineitem")}
           |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
           |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)),

    // Post-aggregation filter (HAVING).
    "agg_having" -> ((s, d) =>
      customer(s, d)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"))
        .filter(col("n_cust") > 60)
        .orderBy(col("c_nationkey"))),

    // min/max/count + decimal sum; stddev/variance live in the
    // tolerance-checked unit suite, not the hash-matched oracle
    // (SURVEY.md §5.3.6).
    "agg_stats" -> ((s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          // min/max over the raw doubles: fixture money values are exact
          // 2-dp, so double and decimal min/max agree; double output
          // renders identically in both engines (see Tables.moneySumD).
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          moneySumD(col("l_extendedprice")).as("sum_price"),
          min(col("l_shipdate")).as("first_ship"),
          max(col("l_shipdate")).as("last_ship"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))),

    // Ordered per-group list, serialized to a string so the parquet /
    // DuckDB comparison is scale-proof.
    "agg_collect_list" -> ((s, d) =>
      orders(s, d)
        .filter(col("o_custkey") < 100)
        .groupBy(col("o_custkey"))
        .agg(array_join(sort_array(collect_list(col("o_orderpriority"))), ",")
          .as("prios"))
        .orderBy(col("o_custkey"))),

    // DISTINCT set aggregation (r8): collect_set — the dedup cousin
    // of collect_list; sorted + joined so the set surfaces as a
    // deterministic string (raw set order is partition-dependent in
    // BOTH engines — the sort is what makes this oracle-pairable).
    "agg_collect_set" -> ((s, d) =>
      orders(s, d)
        .filter(col("o_custkey") < 100)
        .groupBy(col("o_custkey"))
        .agg(array_join(sort_array(collect_set(col("o_orderpriority"))), ",")
          .as("distinct_prios"),
          countDistinct(col("o_orderpriority")).as("n_distinct"))
        .orderBy(col("o_custkey"))),

    // Row-valued argmax/argmin with deterministic struct tie-break.
    "agg_min_max_by" -> ((s, d) =>
      orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(
          max_by(col("o_orderkey"),
            struct(col("o_totalprice"), col("o_orderkey"))).as("best_order"),
          min_by(col("o_orderkey"),
            struct(col("o_totalprice"), col("o_orderkey"))).as("worst_order"),
          max(col("o_totalprice")).as("best_price"))
        .orderBy(col("o_custkey"))),

    // Pivot (wide reshape): returnflag rows x linestatus columns.
    // Pivot values are declared explicitly so plan construction stays
    // lazy (no eager distinct-collect job — Bench contract §3.3).
    "agg_pivot" -> ((s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(moneySumD(col("l_quantity")))
        .withColumnsRenamed(Map("F" -> "qty_f", "O" -> "qty_o"))
        .orderBy(col("l_returnflag"))),

    // Unpivot/melt (long reshape): the inverse operation, one row per
    // (flag, measure).
    "reshape_unpivot" -> ((s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(moneySumD(col("l_quantity")).as("sum_qty"),
          moneySumD(col("l_extendedprice")).as("sum_price"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price")),
          "measure", "val")
        .orderBy(col("l_returnflag"), col("measure"))),

    // Mergeable distinct-count sketches (register-deterministic HLL,
    // r12 VERDICT task 2): per-group m=4096 register arrays via the
    // from-scratch HllRegistersAgg (xxhash64 → top-12-bit index +
    // leftmost-1 rho; see its scaladoc for the determinism contract),
    // estimates, AND a union row proving sketch mergeability — the
    // 100 TB pattern where per-partition/per-day sketches are built
    // once and unioned at query time instead of re-scanning. The ALL
    // row is an elementwise register max over the per-group arrays
    // (4096 rows post-agg — corpus-independent). Unlike the r1-r12
    // DataSketches version this estimator IS mirrorable: the oracle
    // recomputes the identical registers in DuckDB HUGEINT via
    // OracleXxh64 and exact-integer bit-length rho, so the operator is
    // rows+schema+hash checked, closing the last declared-N row.
    "agg_hll_union" -> ((s, d) => {
      val per = hllRegs(s, d)
      // union sketch = elementwise max across groups (3 x 4096 rows)
      val allRegs = per
        .select(posexplode(col("regs")).as(Seq("pos", "reg")))
        .groupBy(col("pos")).agg(max(col("reg")).as("reg"))
        .select(lit("ALL").as("l_returnflag"), lit(-1L).as("exact"),
          col("reg"))
      val perRegs = per
        .select(col("l_returnflag"), col("exact"),
          posexplode(col("regs")).as(Seq("pos", "reg")))
        .select(col("l_returnflag"), col("exact"), col("reg"))
      // estimate via the shared hllEstimate helper (exact DECIMAL Ssc,
      // one double step; see its scaladoc); the alpha·m² constant is
      // pasted from the SAME Double.toString into the oracle so both
      // sides start bit-identical, and the output is milli-scaled to
      // BIGINT (the chi2_micro discipline)
      hllEstimate(perRegs.unionByName(allRegs),
          Seq("l_returnflag", "exact"))
        .select(col("l_returnflag"),
          round(col("est") * lit(1000.0)).cast(LongType).as("est_milli"),
          col("exact"))
        .orderBy(col("l_returnflag"))
    }),

    // HLL sketch ALGEBRA (r13): pairwise |A∩B| distinct-count
    // estimates via inclusion-exclusion over the SAME per-group
    // register arrays agg_hll_union builds — est(A) + est(B) −
    // est(A∪B), union = elementwise register max. This is the
    // audience-overlap / cross-day-repeat-visitor query sketches
    // exist for at 100 TB: per-segment sketches built once, every
    // pairwise overlap answered at query time with no re-scan (an
    // exact distinct-intersection needs a full self-join per pair).
    // exact_inter rides along for the accuracy spec; the estimate is
    // oracle-paired bit-for-bit (identical registers, identical
    // algebra, (estA + estB) − estU in that exact order, milli-scaled).
    "agg_hll_intersection" -> ((s, d) => {
      val e = hllRegs(s, d)
        .select(col("l_returnflag").as("f"),
          posexplode(col("regs")).as(Seq("pos", "reg")))
      val perEst = hllEstimate(e.select(col("f"), col("reg")), Seq("f"))
      // pairwise union registers: equi-join on pos (4096-row sides per
      // group — never a cartesian), max per (pair, pos)
      val pairRegs = e.as("a")
        .join(e.as("b"),
          col("a.pos") === col("b.pos") && col("a.f") < col("b.f"))
        .select(col("a.f").as("fa"), col("b.f").as("fb"),
          greatest(col("a.reg"), col("b.reg")).as("reg"))
      val unionEst = hllEstimate(pairRegs, Seq("fa", "fb"))
        .withColumnRenamed("est", "est_u")
      // exact pairwise distinct intersection for the accuracy check:
      // distinct (flag, partkey) self-joined on partkey
      val dk = lineitem(s, d)
        .select(col("l_returnflag").as("f"), col("l_partkey").as("k"))
        .distinct()
      val exact = dk.as("a")
        .join(dk.as("b"),
          col("a.k") === col("b.k") && col("a.f") < col("b.f"))
        .groupBy(col("a.f").as("fa"), col("b.f").as("fb"))
        .agg(count(lit(1)).as("exact_inter"))
      unionEst
        .join(perEst.select(col("f").as("fa"), col("est").as("est_a")), "fa")
        .join(perEst.select(col("f").as("fb"), col("est").as("est_b")), "fb")
        .join(exact, Seq("fa", "fb"))
        .select(col("fa"), col("fb"),
          round(((col("est_a") + col("est_b")) - col("est_u")) * lit(1000.0))
            .cast(LongType).as("inter_est_milli"),
          col("exact_inter"))
        .orderBy(col("fa"), col("fb"))
    }),

    // Count-Min point-frequency sketch (r13): d=4 × w=1024 counter
    // matrix over order line suppliers (CountMinAgg — mergeable,
    // 32 KB, pure integers; scaladoc has the contract), probed for
    // suppkeys 1-5. The estimate is min over the key's 4 row buckets —
    // ≥ exact always, with the overcount bounded by collisions; both
    // sketch and probes are EXACT integer arithmetic on both engines
    // (bucket indices of the literal probe keys are computed at
    // plan-build time from the same XXH64.hashLong the aggregate and
    // the DuckDB HUGEINT chain use), so unlike HLL there is no
    // floating step anywhere and the pairing is pure hash equality.
    "agg_cms_point" -> ((s, d) => {
      import graft.functions.CountMinAgg
      val probes = (1L to 5L).map { k =>
        (k, (0 until CountMinAgg.D).map(dd =>
          dd * CountMinAgg.W + CountMinAgg.bucket(k, dd) + 1)) // 1-based
      }
      // ONE aggregate pass: all 5 probes read the same sketch row via
      // an inline struct array + explode (5 separate selects of the
      // agg frame would re-run the full scan+sketch per probe)
      val cms = lineitem(s, d)
        .agg(CountMinAgg.sketch(col("l_suppkey")).as("cms"))
      val est = cms.select(explode(array(probes.map { case (k, idxs) =>
        struct(lit(k).as("l_suppkey"),
          least(idxs.map(i => element_at(col("cms"), i)): _*)
            .as("cms_est"))
      }: _*)).as("pr")).select(col("pr.l_suppkey"), col("pr.cms_est"))
      val exact = lineitem(s, d)
        .filter(col("l_suppkey").between(1L, 5L))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("exact_n"))
      est.join(exact, Seq("l_suppkey"), "left")
        .select(col("l_suppkey"), col("cms_est"),
          coalesce(col("exact_n"), lit(0L)).as("exact_n"))
        .orderBy(col("l_suppkey"))
    }),

    // Whole-frame TRANSPOSE (r13): Spark 4's Dataset.transpose — rows
    // become columns keyed by the index column's values, column names
    // become the `key` column; the small-summary reshape (metrics
    // tables, confusion matrices) pandas users reach for first. Only
    // sane on POST-AGGREGATE frames (the output is one column per
    // index value — transposing a fact table would be a schema
    // explosion), which is also why the 3-column input here is the
    // same bounded summary reshape_unpivot melts.
    "reshape_transpose" -> ((s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(moneySumD(col("l_quantity")).as("sum_qty"),
          moneySumD(col("l_extendedprice")).as("sum_price"))
        .transpose(col("l_returnflag"))
        .orderBy(col("key"))),

    // Boolean aggregation + filtered counts per priority class.
    "agg_bool" -> ((s, d) =>
      orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          bool_and(col("o_totalprice") > 1000.0).as("all_over_1k"),
          bool_or(col("o_orderstatus") === "P").as("any_pending"),
          count_if(col("o_totalprice") > 100000.0).as("n_big"))
        .orderBy(col("o_orderpriority"))),

    // Correlation/covariance WITHOUT float-order nondeterminism: the
    // five sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) are exact
    // DECIMAL sums (shuffle-order free), and the corr/covar formulas
    // are applied to them in DOUBLE at the very end — identical
    // IEEE arithmetic in both engines, so the float outputs hash-match
    // (built-in corr()/covar_pop() accumulate in partition order and
    // can differ in the last ulp between engines/runs).
    "agg_corr_exact" -> ((s, d) =>
      sufficientStats(lineitem(s, d))
        .select(col("l_returnflag"),
          ((col("sxy") / col("n")) - (col("sx") / col("n")) * (col("sy") / col("n")))
            .as("covar_pop"),
          (((col("n") * col("sxy")) - (col("sx") * col("sy"))) /
            (sqrt((col("n") * col("sxx")) - (col("sx") * col("sx"))) *
              sqrt((col("n") * col("syy")) - (col("sy") * col("sy")))))
            .as("corr"))
        .orderBy(col("l_returnflag"))),

    // Per-group OLS regression (r6): slope/intercept of price on
    // quantity per return flag from the same exact sufficient
    // statistics as agg_corr_exact (whole-dollar decimal sums stay
    // under 2^53, so every DECIMAL→DOUBLE cast is exact and the
    // closed-form arithmetic is a fixed IEEE expression both engines
    // evaluate identically). Mergeable five-scalar state through the
    // map-side partial agg — the textbook distributed-regression
    // shape at any corpus size.
    "agg_linreg" -> ((s, d) =>
      sufficientStats(lineitem(s, d))
        .select(col("l_returnflag"),
          col("n").cast("long").as("n_rows"),
          (((col("n") * col("sxy")) - (col("sx") * col("sy"))) /
            ((col("n") * col("sxx")) - (col("sx") * col("sx"))))
            .as("slope"),
          ((col("sy") - (((col("n") * col("sxy")) - (col("sx") * col("sy"))) /
            ((col("n") * col("sxx")) - (col("sx") * col("sx")))) * col("sx")) /
            col("n")).as("intercept"))
        .orderBy(col("l_returnflag"))),

    // Equi-width histogram of order value: integer-cents bucketing
    // (bucket = cents div 5,000,000, i.e. $50k-wide bins, top bin
    // open) plus each bin's share in basis points via a 1-row total
    // aggregate broadcast-crossed back onto the ≤10 bins (NOT an
    // unpartitioned window — PlanHygieneSpec bans that shape). The bp
    // division is exact integer math so the histogram hash-matches.
    "agg_histogram" -> ((s, d) => {
      val bins = orders(s, d)
        .withColumn("bucket", expr(
          "least(cast(cast(o_totalprice as decimal(18,2)) * 100 " +
            "as bigint) div 5000000, 9)"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"))
      bins.crossJoin(broadcast(bins.agg(sum(col("n")).as("n_sum"))))
        .withColumn("share_bp", expr("n * 10000 div n_sum"))
        .select(col("bucket"), col("n"), col("share_bp"))
        .orderBy(col("bucket"))
    }),

    // Equi-DEPTH histogram (r9): the quartile-bucket companion to
    // agg_histogram's equi-width bins — cuts are exact
    // percentile_disc(0.25/0.5/0.75) DATA VALUES per return flag
    // (the agg_percentile_disc contract, identical picks in DuckDB),
    // then one conditional-aggregation pass counts each bucket.
    // Buckets are [min,c1], (c1,c2], (c2,c3], (c3,max] — disc cuts
    // are actual data points, so bucket membership is exact integer/
    // double comparison, no interpolation surface. Two passes total:
    // a tiny 3-cut agg that broadcasts, then a map-side bucket
    // count — no window, no per-group sort of the fact table.
    "agg_histogram_equi_depth" -> ((s, d) => {
      // Quartile cuts via BUCKETED TWO-PASS selection (the
      // agg_weighted_median machinery with unit weights), NOT
      // percentile_disc on the fact table: the built-in's partial
      // state buffers every value of a group, so with 3 return-flag
      // groups ONE task merges a whole group's values at any corpus
      // size — 2.9 s of the op's 2.9 s at sf0.1, and the
      // low-cardinality-group buffering scale-killer at 100 TB. Pass
      // 1 histograms 65536-cent buckets (rows ∝ value RANGE, not
      // corpus), pass 2 pins each cut inside its crossing bucket's
      // slice. Contract identical to percentile_disc: smallest value
      // whose cumulative count reaches ceil(q/4·n), integer-exact as
      // 4·cum ≥ q·n. Cents are an order-isomorphic image of the
      // 2-decimal money values (FixtureSchemaSpec pins the fixture),
      // so bucketing by cent cuts equals bucketing by value cuts and
      // the quantile_disc oracle is unchanged.
      import org.apache.spark.sql.expressions.Window
      val li = lineitem(s, d).select(col("l_returnflag"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"))
      val bucketed = li.withColumn("bkt", expr("cents div 65536"))
      val bw = bucketed.groupBy(col("l_returnflag"), col("bkt"))
        .agg(count(lit(1)).as("bn"))
      val cumW = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("bkt"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = bw.withColumn("cum", sum(col("bn")).over(cumW))
      val tot = bw.groupBy(col("l_returnflag")).agg(sum(col("bn")).as("n"))
      // one crossing-bucket row per (flag, quarter q∈{1,2,3}): the
      // cum frame is ≤ |value range|/65536 rows per flag, so the ×3
      // explode is over a tiny frame, never the fact table
      val crossing = cum.join(broadcast(tot), "l_returnflag")
        .select(col("l_returnflag"), col("bkt"), col("bn"), col("cum"),
          col("n"), explode(expr("array(1L, 2L, 3L)")).as("q"))
        .filter(col("cum") * 4 >= col("q") * col("n"))
        .groupBy(col("l_returnflag"), col("q"), col("n"))
        .agg(min_by(struct(col("bkt"), (col("cum") - col("bn")).as("below")),
          col("bkt")).as("cb"))
        .select(col("l_returnflag"), col("q"), col("n"),
          col("cb.bkt").as("cbkt"), col("cb.below").as("below"))
      val inBkt = bucketed.join(broadcast(crossing), Seq("l_returnflag"))
        .filter(col("bkt") === col("cbkt"))
        .groupBy(col("l_returnflag"), col("q"), col("n"), col("below"),
          col("cents"))
        .agg(count(lit(1)).as("vn"))
      val cumV = Window.partitionBy(col("l_returnflag"), col("q"))
        .orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // r14 optimization (guide §1.2/§2.4 "don't compute things you
      // throw away"): the output needs only the four bucket COUNTS,
      // and the cut search already walks cumulative counts — the
      // crossing row's below + cum_in IS the number of rows <= that
      // cut. Grabbing it with the same min_by that pins the cut
      // removes the entire third fact-table pass (scan + broadcast
      // join + hash agg over every lineitem row) the old spelling
      // spent re-bucketing li against the cut values: bucket_q counts
      // are le_q differences (le1, le2-le1, le3-le2, n-le3). Zero
      // buckets are filtered, matching the old groupBy which never
      // emitted an empty bucket (le_q ties collapse exactly when two
      // cuts coincide). 3 lineitem scans -> 2, one fewer shuffle.
      val cutRows = inBkt.withColumn("cum_in", sum(col("vn")).over(cumV))
        .filter((col("below") + col("cum_in")) * 4 >= col("q") * col("n"))
        .groupBy(col("l_returnflag"), col("q"), col("n"))
        .agg(min_by(struct(col("cents"),
          (col("below") + col("cum_in")).as("le")), col("cents")).as("cb"))
        .select(col("l_returnflag"), col("q"), col("n"),
          col("cb.le").as("le"))
      val les = cutRows.groupBy(col("l_returnflag"), col("n"))
        .agg(min(when(col("q") === 1, col("le"))).as("le1"),
          min(when(col("q") === 2, col("le"))).as("le2"),
          min(when(col("q") === 3, col("le"))).as("le3"))
      les.select(col("l_returnflag"), explode(array(
          struct(lit(0L).as("bucket"), col("le1").as("bn")),
          struct(lit(1L).as("bucket"), (col("le2") - col("le1")).as("bn")),
          struct(lit(2L).as("bucket"), (col("le3") - col("le2")).as("bn")),
          struct(lit(3L).as("bucket"), (col("n") - col("le3")).as("bn"))))
          .as("b"))
        .filter(col("b.bn") > 0)
        .select(col("l_returnflag"), col("b.bucket").as("bucket"),
          col("b.bn").as("n"))
        .orderBy(col("l_returnflag"), col("bucket"))
    }),

    // Shannon entropy of a categorical distribution per group (r9):
    // H = log2(n) − (Σ c·log2 c)/n over the per-value counts — the
    // information-theoretic dispersion measure feature pipelines use
    // for label-balance and drift checks. Exact integer counts feed a
    // BOUNDED ordered fold (≤ |priorities| terms per group, sorted by
    // value), so the double summation order is pinned on both engines
    // — a plain sum(c*log2(c)) would hash-diverge on summation order.
    // Two partial-agg shuffles over the counts table, never a window.
    "agg_entropy" -> ((s, d) => {
      val counts = orders(s, d)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("c"))
      counts.groupBy(col("o_orderstatus"))
        .agg(sum(col("c")).as("n"),
          count(lit(1)).as("n_values"),
          sort_array(collect_list(struct(
            col("o_orderpriority").as("p"), col("c")))).as("lst"))
        .select(col("o_orderstatus"), col("n"), col("n_values"),
          // micro-bits: transcendental log2 is not correctly-rounded,
          // so Java vs libm can differ in the last ulp — 1e6 scaling +
          // round pins a cross-engine-stable integer (the bm25
          // micro-unit playbook)
          round((log2(col("n")) -
            expr("""aggregate(lst, cast(0 as double),
                   (acc, x) -> acc + cast(x.c as double) *
                     log2(cast(x.c as double)))""") / col("n")) * 1e6)
            .cast("long").as("entropy_microbits"))
        .orderBy(col("o_orderstatus"))
    }),

    // Per-group mode with a total deterministic order: most frequent
    // o_orderpriority per order status, ties broken by priority string
    // ascending (count desc, value asc is a total order, so the answer
    // is engine-independent). count + row_number over the counted
    // groups: the window input is |status|×|priority| rows, never the
    // fact table.
    "agg_mode" -> ((s, d) => {
      val counts = orders(s, d)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("cnt").desc, col("o_orderpriority").asc)
      counts
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("o_orderstatus"),
          col("o_orderpriority").as("mode_priority"), col("cnt"))
        .orderBy(col("o_orderstatus"))
    }),

    // Interpolated (continuous) percentiles — the SQL-standard
    // companion to agg_percentile_disc. Inputs are exact 2-dp/integral
    // doubles and the rank fractions are powers of two, so the
    // lo + (hi - lo) * frac interpolation is the same IEEE arithmetic
    // in both engines.
    "agg_percentile_cont" -> ((s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity)")
            .as("p25_qty"),
          expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity)")
            .as("p50_qty"),
          expr("percentile_cont(0.75) WITHIN GROUP (ORDER BY l_extendedprice)")
            .as("p75_price"))
        .orderBy(col("l_returnflag"))),

    // Higher central moments with the same determinism treatment as
    // agg_corr_exact: power sums Σx..Σx⁴ as exact DECIMAL aggregates
    // (shuffle-order free; l_quantity ≤ 50 keeps Σx⁴ far under 2^53,
    // so the DECIMAL→DOUBLE casts are exact), then the population
    // skewness/kurtosis closed forms applied in DOUBLE with the SAME
    // expression tree in both engines — identical IEEE arithmetic,
    // identical hash. Powers are computed stepwise with re-casts to
    // DECIMAL(18,0) so neither engine's multiply hits its 38-digit
    // precision cap (the values are tiny; only the declared types
    // would overflow).
    // Dedicated MEDIAN aggregate (r8): the `median()` API — exact
    // interpolated median (percentile_cont 0.5 semantics: even-count
    // groups average the two middle values, one IEEE op on exact
    // picks, deterministic cross-engine). Distinct from
    // agg_percentile_disc (value picks) and agg_percentile_cont
    // (multi-quantile expr): this is the named aggregate users reach
    // for first.
    "agg_median" -> ((s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(median(col("l_quantity")).cast(DoubleType).as("med_qty"),
          median(col("l_extendedprice")).cast(DoubleType).as("med_price"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))),

    // Weighted median (r9): the importance-weighted selection
    // primitive (data-mixing weights, token-count-weighted document
    // stats). Per group, the smallest value whose cumulative weight
    // reaches half the total — all-integer (price cents BIGINT,
    // integer quantities as weights), so the hash match is exact by
    // construction. BUCKETED TWO-PASS distributed selection (the
    // classic exact-median-at-scale shape; a naive per-group
    // cumulative window funnels the whole group through one sort
    // task — the r8 text_ccnet_buckets anti-pattern, and with
    // near-unique prices a distinct-value pre-agg doesn't compress):
    // pass 1 aggregates weight per (group, value-bucket) — fully
    // parallel, map-side combined — and the per-group cumulative over
    // the O(#buckets) bucket histogram locates the CROSSING bucket
    // plus the weight strictly below it; pass 2 re-reads only the
    // crossing bucket's rows (a ~1/#buckets slice), aggregates per
    // value, and the tiny within-bucket cumulative pins the exact
    // value. No stage ever sorts more than max(#buckets,
    // bucket-slice-distinct-values) rows per group, at any corpus
    // size. Ties collapse in the per-value aggs, so intra-tie order
    // has no surface.
    "agg_weighted_median" -> ((s, d) => {
      val li = lineitem(s, d).select(col("l_returnflag"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"),
        col("l_quantity").cast(DecimalType(18, 0)).cast("long").as("w"))
      graft.api.GraftOps.weightedMedian(li, "l_returnflag", "cents", "w")
        .withColumnRenamed("wmed", "wmed_cents")
        .orderBy(col("l_returnflag"))
    }),

    // Exact variance/stddev (r8): the var_samp/var_pop/stddev family
    // computed from INTEGER sufficient statistics (the agg_skew_kurt
    // technique) — Spark's built-in var_samp accumulates doubles in
    // partition order and would hash-diverge; n·Σx² − (Σx)² over
    // exact decimal sums, then two IEEE divisions and a sqrt, is
    // order-invariant and byte-identical in both engines. l_quantity
    // is integer-valued, so the sums are exact by construction.
    "agg_variance_exact" -> ((s, d) => {
      val x = col("l_quantity").cast(DecimalType(18, 0))
      val x2 = (x * x).cast(DecimalType(18, 0))
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast(DoubleType).as("n"),
          sum(x).cast(DoubleType).as("s1"),
          sum(x2).cast(DoubleType).as("s2"))
        .select(col("l_returnflag"),
          col("n").cast("long").as("n_rows"),
          // n=1 pinned to NULL (the SQL-standard var_samp answer):
          // 0.0/0.0 would be NaN in Spark but engine-setting-dependent
          // in DuckDB — the CASE is mirrored in the oracle (ADVICE r8)
          when(col("n") > 1.0,
            (col("s2") - col("s1") * col("s1") / col("n")) /
              (col("n") - 1.0)).as("var_samp"),
          ((col("s2") - col("s1") * col("s1") / col("n")) / col("n"))
            .as("var_pop"),
          when(col("n") > 1.0,
            sqrt((col("s2") - col("s1") * col("s1") / col("n")) /
              (col("n") - 1.0))).as("stddev_samp"))
        .orderBy(col("l_returnflag"))
    }),

    "agg_skew_kurt" -> ((s, d) => {
      val x = col("l_quantity").cast(DecimalType(18, 0))
      val x2 = (x * x).cast(DecimalType(18, 0))
      val x3 = (x2 * x).cast(DecimalType(18, 0))
      val x4 = (x2 * x2).cast(DecimalType(18, 0))
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).cast(DoubleType).as("n"),
          sum(x).cast(DoubleType).as("s1"),
          sum(x2).cast(DoubleType).as("s2"),
          sum(x3).cast(DoubleType).as("s3"),
          sum(x4).cast(DoubleType).as("s4"))
        .select(col("l_returnflag"),
          expr("(s3 / n - 3 * (s1 / n) * (s2 / n) + " +
            "2 * (s1 / n) * (s1 / n) * (s1 / n)) / " +
            "(sqrt(s2 / n - (s1 / n) * (s1 / n)) * " +
            "(s2 / n - (s1 / n) * (s1 / n)))").as("skew_pop"),
          expr("(s4 / n - 4 * (s1 / n) * (s3 / n) + " +
            "6 * (s1 / n) * (s1 / n) * (s2 / n) - " +
            "3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n)) / " +
            "((s2 / n - (s1 / n) * (s1 / n)) * " +
            "(s2 / n - (s1 / n) * (s1 / n))) - 3").as("kurt_pop"))
        .orderBy(col("l_returnflag"))
    }),

    // Ordered string aggregation (SQL LISTAGG / string_agg): the
    // group's values sorted then joined — deterministic regardless of
    // arrival order. Per-group output is ∝ the group's own content
    // (here a bounded dimension), the same boundedness caveat as
    // agg_collect_list.
    "agg_string_concat" -> ((s, d) =>
      nation(s, d)
        .groupBy(col("n_regionkey"))
        .agg(concat_ws(",", array_sort(collect_list(col("n_name"))))
          .as("nations"),
          count(lit(1)).as("n"))
        .orderBy(col("n_regionkey"))),

    // One-pass dataset profiling: row count, per-column non-null /
    // distinct counts, numeric min/max for three columns of `customer`,
    // reshaped to one row per column. The single agg (multiple
    // count-distincts → one Expand pass) is the 100 TB shape: profile
    // N columns in ONE scan, not N scans. The DuckDB oracle uses a
    // 3-branch UNION ALL — different plan, same answer.
    "profile_columns" -> ((s, d) =>
      customer(s, d)
        .agg(
          count(lit(1)).as("n"),
          count(col("c_custkey")).as("nn_key"),
          countDistinct(col("c_custkey")).as("nd_key"),
          min(col("c_custkey")).cast(DoubleType).as("min_key"),
          max(col("c_custkey")).cast(DoubleType).as("max_key"),
          count(col("c_nationkey")).as("nn_nat"),
          countDistinct(col("c_nationkey")).as("nd_nat"),
          min(col("c_nationkey")).cast(DoubleType).as("min_nat"),
          max(col("c_nationkey")).cast(DoubleType).as("max_nat"),
          count(col("c_acctbal")).as("nn_bal"),
          countDistinct(col("c_acctbal")).as("nd_bal"),
          min(col("c_acctbal")).cast(DoubleType).as("min_bal"),
          max(col("c_acctbal")).cast(DoubleType).as("max_bal"))
        .select(expr(
          "stack(3, " +
            "'c_acctbal', n, nn_bal, nd_bal, min_bal, max_bal, " +
            "'c_custkey', n, nn_key, nd_key, min_key, max_key, " +
            "'c_nationkey', n, nn_nat, nd_nat, min_nat, max_nat)")
          .as(Seq("col_name", "n", "n_nonnull", "n_distinct",
            "min_d", "max_d")))
        .orderBy(col("col_name"))),

    // Declarative data-quality expectations (r9): the Deequ/dbt-tests
    // shape — a rule set (not-null, unique, accepted-values, range,
    // referential shape) evaluated over orders in ONE scan, one audit
    // row per rule with its violation count and verdict. The 100 TB
    // discipline: N expectations cost one pass (violation predicates
    // are sums of codegen'd CASEs; uniqueness is count −
    // count_distinct in the same Expand pass), never N table scans —
    // the gate a pipeline runs before promoting a batch.
    "profile_expectations" -> ((s, d) =>
      orders(s, d)
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("o_orderkey").isNull, 1L).otherwise(0L))
            .as("v_key_null"),
          (count(lit(1)) - countDistinct(col("o_orderkey")))
            .as("v_key_dup"),
          sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L))
            .as("v_price_pos"),
          sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L)
            .otherwise(0L)).as("v_status_set"),
          sum(when(col("o_orderdate") <
              lit("1992-01-01").cast(TimestampType) ||
              col("o_orderdate") >=
              lit("1999-01-01").cast(TimestampType), 1L)
            .otherwise(0L)).as("v_date_range"),
          sum(when(col("o_custkey") <= 0, 1L).otherwise(0L))
            .as("v_cust_fk"))
        .select(expr(
          "stack(6, " +
            "'o_custkey_positive', v_cust_fk, " +
            "'o_orderdate_in_range', v_date_range, " +
            "'o_orderkey_not_null', v_key_null, " +
            "'o_orderkey_unique', v_key_dup, " +
            "'o_orderstatus_accepted', v_status_set, " +
            "'o_totalprice_positive', v_price_pos)")
          .as(Seq("rule", "n_violations")),
          col("n").as("n_rows"))
        .select(col("rule"), col("n_violations"),
          (col("n_violations") === 0L).as("passed"), col("n_rows"))
        .orderBy(col("rule"))),

    // Piggybacked metrics via Dataset.observe (r7): the CollectMetrics
    // API — aggregates accumulated ON THE SIDE of a pass that is
    // already running, the zero-extra-scan way a 100 TB pipeline
    // gathers row counts / null counts / value bounds while producing
    // its real output (profile_columns pays a dedicated scan; an
    // observation pays none). The observed pass here is a minimal
    // count() over lineitem; the observation's metric row IS the
    // query result. Driver-coordinated by definition — Observation.get
    // blocks on the host action's completion (the declared build-step
    // shape, like the cc-labels fixpoint). Every metric is
    // deterministic: exact counts, integer min/max, and an
    // order-independent decimal money sum surfaced as double.
    "profile_observe" -> ((s, d) => {
      val obs = org.apache.spark.sql.Observation()
      val host = lineitem(s, d).observe(obs,
        count(lit(1)).as("n_rows"),
        count(col("l_returnflag")).as("n_flag"),
        min(col("l_orderkey")).as("min_okey"),
        max(col("l_orderkey")).as("max_okey"),
        sum(col("l_quantity").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_qty"))
      host.count() // the host action the metrics piggyback on
      val m = obs.get
      val ss = s
      import ss.implicits._
      // min/max/sum are NULL on an empty input — Option keeps the
      // column nullable (a bare asInstanceOf[Long] would silently
      // unbox null to 0 and diverge from the oracle's NULLs)
      def optL(k: String): Option[Long] =
        Option(m(k)).map(_.asInstanceOf[Long])
      def optD(k: String): Option[Double] =
        Option(m(k)).map(_.asInstanceOf[Double])
      Seq((m("n_rows").asInstanceOf[Long], m("n_flag").asInstanceOf[Long],
        optL("min_okey"), optL("max_okey"), optD("sum_qty")))
        .toDF("n_rows", "n_flag", "min_okey", "max_okey", "sum_qty")
    }),

    // Distribution-drift monitor (r8): the per-ingest check a
    // production pipeline runs before admitting a batch — compare the
    // fresh batch's (source = 'src0') length distribution against the
    // standing corpus over 16 fixed buckets and report the L1
    // distance in basis points. Integer-only by construction (bucket
    // counts, share = n*10000 div total, |Δ| sums), so the statistic
    // is exact cross-engine where a PSI's ln() would be
    // libm-divergent. Scale shape: one map-side-combined groupBy on
    // (grp, bkt) — 32 cells total — a broadcast of two totals, and a
    // 16-row join; the corpus pays one narrow scan regardless of
    // size.
    "profile_drift" -> ((s, d) => {
      val cells = documents(s, d)
        .withColumn("grp",
          when(col("source") === "src0", "batch").otherwise("corpus"))
        .withColumn("bkt", least(expr("n_chars div 64"), lit(15L)))
        .groupBy(col("grp"), col("bkt"))
        .agg(count(lit(1)).as("n"))
      val tot = cells.groupBy(col("grp")).agg(sum(col("n")).as("tot"))
      val shares = cells.join(broadcast(tot), "grp")
        .withColumn("bp", expr("n * 10000 div tot"))
      val b = shares.filter(col("grp") === "batch")
        .select(col("bkt"), col("bp").as("bp_b"))
      val c = shares.filter(col("grp") === "corpus")
        .select(col("bkt"), col("bp").as("bp_c"))
      b.join(c, Seq("bkt"), "full_outer")
        .select(abs(coalesce(col("bp_b"), lit(0L)) -
          coalesce(col("bp_c"), lit(0L))).as("d"))
        .agg(sum(col("d")).as("l1_bp"), count(lit(1)).as("n_buckets"))
    }),

    // Approximate quantiles via percentile_approx (GK summaries):
    // mergeable map-side sketches, rank error bounded by n/accuracy —
    // the distributed-quantile shape (exact percentiles need a full
    // sort; the sketch shuffles O(accuracy) per group). Oracle-paired
    // as of r12 (r11 verdict #5) by running the SAME machinery in its
    // PROVABLY-EXACT parameter regime: GK answers rank queries within
    // ε·n ranks (ε = 1/accuracy), merged partials' absolute rank
    // errors ADD over disjoint inputs (Σε·nᵢ = ε·n), and an integer
    // rank error < 0.5 is exactly 0 — so at accuracy = 10⁷ the sketch
    // MUST return percentile_disc's element for any group under
    // 5·10⁶ rows, under ANY partitioning/merge order (orders per
    // priority ≤ 300k at sf1 — 16× inside the bound; the sketch holds
    // ≤ n samples per group here, fixture-bounded).
    // QuantileExactRegimeSpec pins the theorem against adversarial
    // sizes/ties/partitionings AND keeps the estimate regime
    // (accuracy ≪ n, the 100 TB production setting) property-covered;
    // the estimate VALUES stay unpairable cross-engine by design —
    // DuckDB's approx_quantile is t-digest, a different estimator
    // (same documented-negative stance as the r8 HLL probe).
    "agg_approx_quantile" -> ((s, d) =>
      orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(expr(
          "percentile_approx(o_totalprice, array(0.5D, 0.9D, 0.99D), 10000000)")
          .as("q_approx"))
        .select(col("o_orderpriority"),
          element_at(col("q_approx"), 1).as("p50"),
          element_at(col("q_approx"), 2).as("p90"),
          element_at(col("q_approx"), 3).as("p99"))
        .orderBy(col("o_orderpriority"))),

    // Winsorized mean (r12): per return flag, clamp l_quantity into
    // its [p10, p90] disc-quantile cutoffs and average the clamped
    // values — the robust location estimate outlier-heavy telemetry
    // reports next to the raw mean (clamping beats trimming when row
    // COUNT must stay meaningful). Built scale-first: the cutoffs come
    // from the BOUNDED counts table (l_quantity has ≤ 50 distinct
    // values, so cc ≥ q·n is an exact integer compare over ≤ 50 rows
    // per flag — no percentile buffering of the fact table), broadcast
    // back onto one map-combinable DECIMAL sum. The single IEEE
    // division at the end runs on identical exact operands in both
    // engines.
    "agg_winsorized_mean" -> ((s, d) => {
      val vc = lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("c"))
      val wRun = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_quantity"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wTot = Window.partitionBy(col("l_returnflag"))
      val cuts = vc
        .withColumn("cc", sum(col("c")).over(wRun))
        .withColumn("n", sum(col("c")).over(wTot))
        .groupBy(col("l_returnflag"))
        .agg(
          min(when(col("cc") * 10 >= col("n"), col("l_quantity")))
            .as("lo"),
          min(when(col("cc") * 10 >= col("n") * 9, col("l_quantity")))
            .as("hi"))
      lineitem(s, d).join(broadcast(cuts), "l_returnflag")
        .select(col("l_returnflag"), col("lo"), col("hi"),
          greatest(col("lo"), least(col("hi"), col("l_quantity")))
            .cast("decimal(18,2)").as("wq"))
        .groupBy(col("l_returnflag"), col("lo"), col("hi"))
        .agg(count(lit(1)).as("n"),
          (sum(col("wq")).cast("double") / count(lit(1)))
            .as("wins_mean"))
        .orderBy(col("l_returnflag"))
    }),

    // Discrete percentiles (SQL-standard percentile_disc picks actual
    // data values — deterministic across engines, unlike interpolating
    // percentile_cont under float arithmetic).
    "agg_percentile_disc" -> ((s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity)")
            .as("p25_qty"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)")
            .as("p50_qty"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice)")
            .as("p90_price"))
        .orderBy(col("l_returnflag"))),

    // Gini coefficient of the quantity distribution per return flag
    // (r9): the inequality measure data-balance audits report next to
    // entropy. Computed over GROUPED frequency data via the
    // mean-absolute-difference identity G = ΣΣ cᵢcⱼ|qᵢ−qⱼ| / (2·n·Σq)
    // — l_quantity has ≤ 50 distinct integer values, so the pair
    // "join" is a bounded |values|² self-join of the tiny counts
    // table, NEVER the fact table (and never a per-group sort, which
    // the classic rank formula would need). The numerator is an exact
    // DECIMAL integer sum; the single final division is the only IEEE
    // op (identical two exact operands both engines → identical
    // micro-unit result).
    "agg_gini" -> ((s, d) => {
      val counts = lineitem(s, d)
        .select(col("l_returnflag"),
          expr("cast(round(l_quantity) as bigint)").as("q"))
        .groupBy(col("l_returnflag"), col("q"))
        .agg(count(lit(1)).as("c"))
      val pairs = counts.select(col("l_returnflag"), col("q").as("qa"),
          col("c").as("ca"))
        .join(counts.select(col("l_returnflag"), col("q").as("qb"),
          col("c").as("cb")), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(sum((col("ca") * col("cb") * abs(col("qa") - col("qb")))
          .cast("decimal(38,0)")).cast("decimal(38,0)").as("num"))
      val stats = counts.groupBy(col("l_returnflag"))
        .agg(sum(col("c")).as("n"),
          sum((col("c") * col("q")).cast("decimal(38,0)"))
            .cast("long").as("sum_qty"))
      stats.join(pairs, "l_returnflag")
        .select(col("l_returnflag"), col("n"), col("sum_qty"),
          round(col("num").cast("double") /
            (lit(2.0) * col("n").cast("double") *
              col("sum_qty").cast("double")) * 1e6)
            .cast("long").as("gini_micro"))
        .orderBy(col("l_returnflag"))
    }),

    // Benford first-digit screen (r9): the first-significant-digit
    // distribution of order totals vs the log10(1 + 1/d) law — the
    // classic fabricated-numbers screen audit pipelines run before
    // trusting a feed. First digit via string head of the exact cents
    // integer (no float log needed to extract it); observed share in
    // integer basis points; expected Benford mass as micro-units from
    // one transcendental on the 9 literal digit values (identical
    // argument both engines — the entropy/bm25 micro-unit playbook).
    // One map-side bucket count into 9 groups; the total joins back as
    // a 1-row broadcast (the agg_histogram shape).
    "agg_benford" -> ((s, d) => {
      val digits = orders(s, d)
        .select(expr(
          "cast(substring(cast(cast(round(o_totalprice * 100) as bigint) " +
            "as string), 1, 1) as bigint)").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val tot = digits.agg(sum(col("n")).as("total"))
      digits.crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          expr("n * 10000 div total").as("share_bp"),
          round(log10(lit(1.0) + lit(1.0) / col("digit").cast("double"))
            * 1e6).cast("long").as("benford_micro"))
        .orderBy(col("digit"))
    }),

    // Herfindahl-Hirschman concentration index (r9): Σ shareᵢ² of
    // customer revenue within each market segment — the antitrust
    // concentration scalar, and with gini/entropy the third member of
    // the distribution-shape family (each a different functional of
    // the same shares). Numerator Σ revᵢ² as an exact DECIMAL sum
    // (revᵢ² ~ 10¹⁵ at sf1 — an int64 sum WOULD overflow), one IEEE
    // division of two exact integers at the end, micro-units out
    // (1e6 = single-owner maximum).
    "agg_hhi" -> ((s, d) => {
      val rev = orders(s, d)
        .join(broadcast(customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("o_custkey"))
        .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)"))
          .as("rev"))
      rev.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("rev")).as("total_cents"),
          sum((col("rev") * col("rev")).cast("decimal(38,0)"))
            .cast("decimal(38,0)").as("num"))
        .select(col("c_mktsegment"), col("n_customers"), col("total_cents"),
          round(col("num").cast("double") /
            (col("total_cents").cast("double") *
              col("total_cents").cast("double")) * 1e6)
            .cast("long").as("hhi_micro"))
        .orderBy(col("c_mktsegment"))
    }),

    // Chi-square independence test (r9): is order priority
    // distributed independently of order status? — the contingency
    // screen data-quality and drift monitors run on categorical
    // pairs. Observed/marginal counts are exact integers; each cell's
    // (O·N − R·C)²/(N·R·C) term is IEEE on exact-int inputs (O·N
    // squared overflows int64 at sf1, so the squaring happens in
    // DOUBLE), summed in a BOUNDED (status, priority)-sorted fold so
    // the 15-term order is pinned cross-engine. Cramér's V normalizes
    // to [0,1]. All aggregates are map-combinable counts; the
    // marginals broadcast.
    "agg_chi2_contingency" -> ((s, d) => {
      val o = orders(s, d)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("o"))
      val r = o.groupBy(col("o_orderstatus")).agg(sum(col("o")).as("r"))
      val c = o.groupBy(col("o_orderpriority")).agg(sum(col("o")).as("c"))
      val cells = o.join(broadcast(r), "o_orderstatus")
        .join(broadcast(c), "o_orderpriority")
      cells
        .agg(sum(col("o")).as("n"),
          countDistinct(col("o_orderstatus")).as("nr"),
          countDistinct(col("o_orderpriority")).as("nc"),
          sort_array(collect_list(struct(col("o_orderstatus").as("s"),
            col("o_orderpriority").as("p"), col("o"), col("r"),
            col("c")))).as("lst"))
        .select(col("n"), col("nr"), col("nc"),
          expr("""aggregate(lst, cast(0.0 as double), (acc, x) ->
                 acc + (cast(x.o as double) * cast(n as double) -
                        cast(x.r as double) * cast(x.c as double)) *
                       (cast(x.o as double) * cast(n as double) -
                        cast(x.r as double) * cast(x.c as double)) /
                       (cast(n as double) * cast(x.r as double) *
                        cast(x.c as double)))""").as("chi2"))
        .select(col("n"), col("nr"), col("nc"),
          round(col("chi2") * 1e6).cast("long").as("chi2_micro"),
          round(sqrt(col("chi2") / (col("n").cast("double") *
            (least(col("nr"), col("nc")) - 1).cast("double"))) * 1e6)
            .cast("long").as("cramers_v_micro"))
    }),

    // Two-sample Kolmogorov-Smirnov distance (r9): max CDF gap of the
    // quantity distribution between returned ('R') and accepted ('A')
    // line items — the drift-detection statistic feature monitors run
    // between snapshots. EXACT: l_quantity has ≤ 50 distinct values,
    // cumulative counts come from a bounded value-pair join over the
    // 50-row counts table (never an unpartitioned window), and the
    // max of |cumA·nR − cumR·nA| is pure int64; the single division
    // to micro-units is IEEE on exact ints.
    "agg_ks_test" -> ((s, d) => {
      val counts = lineitem(s, d)
        .filter(col("l_returnflag").isin("A", "R"))
        .select(col("l_returnflag").as("f"),
          expr("cast(round(l_quantity) as bigint)").as("q"))
        .groupBy(col("q"))
        .agg(sum(when(col("f") === "A", 1L).otherwise(0L)).as("ca"),
          sum(when(col("f") === "R", 1L).otherwise(0L)).as("cr"))
      val cum = counts.as("a")
        .join(counts.as("b"), col("b.q") <= col("a.q"))
        .groupBy(col("a.q"))
        .agg(sum(col("b.ca")).as("cum_a"), sum(col("b.cr")).as("cum_r"))
      val tot = counts.agg(sum(col("ca")).as("n_a"), sum(col("cr")).as("n_r"))
      cum.crossJoin(broadcast(tot))
        .agg(max(col("n_a")).as("n_a"), max(col("n_r")).as("n_r"),
          max(abs(col("cum_a") * col("n_r") - col("cum_r") * col("n_a")))
            .as("max_gap"))
        .select(col("n_a"), col("n_r"),
          round(col("max_gap").cast("double") /
            (col("n_a").cast("double") * col("n_r").cast("double")) * 1e6)
            .cast("long").as("ks_micro"))
    }),

    // Welch's unequal-variance t-test (r12): is mean order value
    // different between URGENT and LOW priority orders? — the
    // two-sample location test A/B and cohort monitors run where
    // pooled-variance Student's t is invalid (no equal-variance
    // assumption). Completes the inference family: agg_ks_test
    // (distribution shape), agg_chi2_contingency (categorical
    // independence), this (means). Per group three exact integer
    // moments — n, Σcents, Σcents² (the squares summed in
    // DECIMAL(38,0): cents² ~ 10¹⁴ × 10⁶ rows overflows int64 at sf1
    // — the hhi playbook) — through ONE map-combined aggregate over
    // the filtered fact table, pivoted to a single row, then t and
    // the Welch–Satterthwaite df are a fixed double expression tree
    // on identical exact inputs in both engines (micro/milli units
    // out). Scale: partial-agg shuffle of 2 groups × 3 counters;
    // the fact side never sorts, never buffers.
    "agg_welch_ttest" -> ((s, d) => {
      val g = orders(s, d)
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(
          when(col("o_orderpriority") === "1-URGENT", 1).otherwise(2)
            .as("grp"),
          expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
          sum((col("cents") * col("cents")).cast("decimal(38,0)"))
            .cast("decimal(38,0)").as("q"))
      g.agg(
        max(when(col("grp") === 1, col("n"))).as("n1"),
        max(when(col("grp") === 1, col("s"))).as("s1"),
        max(when(col("grp") === 1, col("q"))).as("q1"),
        max(when(col("grp") === 2, col("n"))).as("n2"),
        max(when(col("grp") === 2, col("s"))).as("s2"),
        max(when(col("grp") === 2, col("q"))).as("q2"))
        .withColumn("vn1", expr(
          "(cast(n1 as double) * cast(q1 as double) - " +
            "cast(s1 as double) * cast(s1 as double)) / " +
            "(cast(n1 as double) * (cast(n1 as double) - 1.0d) * " +
            "cast(n1 as double))"))
        .withColumn("vn2", expr(
          "(cast(n2 as double) * cast(q2 as double) - " +
            "cast(s2 as double) * cast(s2 as double)) / " +
            "(cast(n2 as double) * (cast(n2 as double) - 1.0d) * " +
            "cast(n2 as double))"))
        .select(col("n1"), col("n2"),
          expr("cast(round((cast(s1 as double) / cast(n1 as double) - " +
            "cast(s2 as double) / cast(n2 as double)) / " +
            "sqrt(vn1 + vn2) * 1e6) as bigint)").as("t_micro"),
          expr("cast(round((vn1 + vn2) * (vn1 + vn2) / " +
            "(vn1 * vn1 / (cast(n1 as double) - 1.0d) + " +
            "vn2 * vn2 / (cast(n2 as double) - 1.0d)) * 1e3) as bigint)")
            .as("df_milli"))
    }),

    // Bhattacharyya coefficient (r12): overlap BC = Σ √(pA·pR) of
    // the quantity distributions between returned and accepted items
    // — the [0,1] distribution-similarity scalar (1 = identical
    // supports) that complements the ks DISTANCE with an overlap
    // measure drift dashboards trend; −ln(BC) is the Bhattacharyya
    // distance. The per-value √ terms are the one order-sensitive
    // float reduction — summed in a BOUNDED q-sorted fold over the
    // ≤50-row counts table (the chi2/levene playbook), each term
    // √(ca·cr) / √(nA·nR) on exact integer inputs. Micro-units.
    // Scale: one counts shuffle, then ≤50-row arithmetic.
    "agg_bhattacharyya" -> ((s, d) => {
      val counts = lineitem(s, d)
        .filter(col("l_returnflag").isin("A", "R"))
        .select(col("l_returnflag").as("f"),
          expr("cast(round(l_quantity) as bigint)").as("q"))
        .groupBy(col("q"))
        .agg(sum(when(col("f") === "A", 1L).otherwise(0L)).as("ca"),
          sum(when(col("f") === "R", 1L).otherwise(0L)).as("cr"))
      counts
        .agg(sum(col("ca")).as("n_a"), sum(col("cr")).as("n_r"),
          sort_array(collect_list(struct(col("q"), col("ca"), col("cr"))))
            .as("lst"))
        .select(col("n_a"), col("n_r"),
          expr("""cast(round(aggregate(lst, cast(0.0 as double),
                 (acc, x) -> acc +
                   sqrt(cast(x.ca as double) * cast(x.cr as double)) /
                   sqrt(cast(n_a as double) * cast(n_r as double)))
                 * 1e6) as bigint)""").as("bc_micro"))
    }),

    // Brown-Forsythe variance-equality test (r12; Levene's test with
    // median centers — the robust spread-difference screen run before
    // trusting a pooled-variance analysis, completing the inference
    // family: means (welch), location ranks (mann-whitney), shape
    // (ks), spread (this)). EXACT through the float boundary: group
    // medians are percentile_disc picks off the ≤50-row counts table
    // (2·cum ≥ n, never a value buffer), deviations z = |q − med| are
    // integers, per-group moments (n, Σz, Σz²) are map-combined
    // integer sums, and the one order-sensitive float reduction —
    // Σ S_g²/n_g over the k=3 groups — is a BOUNDED group-sorted
    // fold (the chi2 playbook), so the F statistic is identical at
    // any partitioning. Micro-units out. Scale: one counts shuffle +
    // one broadcast of 3 medians onto a map-only fact pass.
    "agg_levene" -> ((s, d) => {
      val base = lineitem(s, d)
        .select(col("l_returnflag").as("f"),
          expr("cast(round(l_quantity) as bigint)").as("q"))
      val counts = base.groupBy(col("f"), col("q"))
        .agg(count(lit(1)).as("c"))
      val cum = counts.as("a")
        .join(counts.as("b"),
          col("a.f") === col("b.f") && col("b.q") <= col("a.q"))
        .groupBy(col("a.f").as("f"), col("a.q").as("q"))
        .agg(sum(col("b.c")).as("cc"))
      val tot = counts.groupBy(col("f")).agg(sum(col("c")).as("n"))
      val med = cum.join(tot, "f")
        .filter(col("cc") * 2 >= col("n"))
        .groupBy(col("f")).agg(min(col("q")).as("med"))
      // r14 optimization (guide §1.2/§2.3): the per-group moments
      // (n, Σz, Σz²) were re-aggregated from a SECOND full lineitem
      // scan (broadcast med onto base, 600k-row map + agg); but with
      // z = |q − med| constant per distinct q, every moment is exactly
      // the count-weighted sum over the ≤ |flags|·|quantities| counts
      // table already in hand: Σ_rows z = Σ_q c·z, Σ_rows z² = Σ_q c·z².
      // Integer arithmetic, identical result, one fact-table scan
      // fewer at any corpus size.
      counts.join(broadcast(med), "f")
        .select(col("f"), col("c"), abs(col("q") - col("med")).as("z"))
        .groupBy(col("f"))
        .agg(sum(col("c")).as("ng"), sum(col("c") * col("z")).as("sg"),
          sum(col("c") * col("z") * col("z")).as("qg"))
        .agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
          sum(col("sg")).as("s"), sum(col("qg")).as("qq"),
          sort_array(collect_list(struct(col("f"), col("ng"), col("sg"))))
            .as("lst"))
        .select(col("k"), col("n"),
          expr("""aggregate(lst, cast(0.0 as double), (acc, x) ->
                 acc + cast(x.sg as double) * cast(x.sg as double) /
                       cast(x.ng as double))""").as("ssg"),
          col("s"), col("qq"))
        .select(col("k"), col("n"),
          expr("cast(round((cast(n as double) - cast(k as double)) / " +
            "(cast(k as double) - 1.0d) * " +
            "(ssg - cast(s as double) * cast(s as double) / " +
            "cast(n as double)) / " +
            "(cast(qq as double) - ssg) * 1e6) as bigint)").as("f_micro"))
    }),

    // Mann-Whitney U rank-sum test (r12): the NONPARAMETRIC
    // companion of agg_welch_ttest — does quantity stochastically
    // dominate between returned and accepted items, with no
    // normality assumption (the robust default when distributions
    // are skewed). EXACT: over the ≤50-row counts table, U doubles
    // to the pure integer 2U = Σ_v ca(v)·(2·cumR(<v) + cr(v)) (ties
    // count half — hence the doubling), and the tie-corrected
    // normal-approximation variance σ² = nA·nR·[(n³−n) − Σ(t³−t)] /
    // (12·n·(n−1)) keeps its radicand in DECIMAL(38,0) (n³ ~ 10²⁰
    // at sf1); ONE double sqrt on identical exact inputs, micro
    // units out. The exact 2U lands in the output as hash-checked
    // integer evidence next to the rounded z. Scale: one partial-agg
    // counts shuffle, then ≤50-row arithmetic — the agg_ks_test
    // shape verbatim.
    "agg_mann_whitney" -> ((s, d) => {
      val counts = lineitem(s, d)
        .filter(col("l_returnflag").isin("A", "R"))
        .select(col("l_returnflag").as("f"),
          expr("cast(round(l_quantity) as bigint)").as("q"))
        .groupBy(col("q"))
        .agg(sum(when(col("f") === "A", 1L).otherwise(0L)).as("ca"),
          sum(when(col("f") === "R", 1L).otherwise(0L)).as("cr"))
      val below = counts.as("a")
        .join(counts.as("b"), col("b.q") < col("a.q"))
        .groupBy(col("a.q"))
        .agg(sum(col("b.cr")).as("crb"))
      counts.join(below, Seq("q"), "left")
        .select(col("q"), col("ca"), col("cr"),
          coalesce(col("crb"), lit(0L)).as("crb"))
        .agg(
          sum(col("ca")).as("n_a"), sum(col("cr")).as("n_r"),
          sum(col("ca") * (lit(2L) * col("crb") + col("cr"))).as("u2"),
          sum(((col("ca") + col("cr")) * (col("ca") + col("cr")) *
            (col("ca") + col("cr")) - (col("ca") + col("cr")))
            .cast("decimal(38,0)")).cast("decimal(38,0)").as("ties"))
        .withColumn("radn",
          (col("n_a").cast("decimal(38,0)") + col("n_r").cast("decimal(38,0)"))
            .cast("decimal(38,0)"))
        .withColumn("tfree", expr(
          "cast(cast(radn * radn * radn - radn - ties as decimal(38,0)) " +
            "as double)"))
        .select(col("n_a"), col("n_r"), col("u2"),
          expr("cast(round((cast(u2 as double) - " +
            "cast(n_a as double) * cast(n_r as double)) / " +
            "(2.0d * sqrt(cast(n_a as double) * cast(n_r as double) * " +
            "tfree / (12.0d * cast(radn as double) * " +
            "(cast(radn as double) - 1.0d)))) * 1e6) as bigint)")
            .as("z_micro"))
    }),

    // Mutual information of the (status, priority) pair (r9): the
    // information-theoretic companion of agg_chi2_contingency —
    // I = Σ (O/N)·log2(O·N/(R·C)) in micro-bits, the dependence
    // measure feature-selection pipelines rank by. Same exact-integer
    // contingency inputs, same BOUNDED cell-sorted fold pinning the
    // transcendental terms' summation order (the entropy playbook).
    "agg_mutual_info" -> ((s, d) => {
      val o = orders(s, d)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("o"))
      val r = o.groupBy(col("o_orderstatus")).agg(sum(col("o")).as("r"))
      val c = o.groupBy(col("o_orderpriority")).agg(sum(col("o")).as("c"))
      o.join(broadcast(r), "o_orderstatus")
        .join(broadcast(c), "o_orderpriority")
        .agg(sum(col("o")).as("n"),
          count(lit(1)).as("n_cells"),
          sort_array(collect_list(struct(col("o_orderstatus").as("s"),
            col("o_orderpriority").as("p"), col("o"), col("r"),
            col("c")))).as("lst"))
        .select(col("n"), col("n_cells"),
          round(expr("""aggregate(lst, cast(0.0 as double), (acc, x) ->
                 acc + cast(x.o as double) / cast(n as double) *
                   log2(cast(x.o as double) * cast(n as double) /
                     (cast(x.r as double) * cast(x.c as double))))""")
            * 1e6).cast("long").as("mi_microbits"))
    }),

    // Pareto concentration (r9): what share of total order revenue the
    // top-20%-by-revenue customers hold — the 80/20 health check of
    // any marketplace dashboard. The p80 cut is ONE exact
    // percentile_disc value broadcast back over the per-customer
    // profile (the equi-depth/RFM playbook), so membership is a
    // map-side comparison — no global revenue sort, no ntile. Strictly
    // ">" the cut value, so cut-ties resolve identically in both
    // engines regardless of intra-value order. All cents integer;
    // share in basis points via integer division.
    "agg_pareto_share" -> ((s, d) => {
      val rev = orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)"))
          .as("rev_cents"))
      val cut = rev.agg(
        expr("percentile_disc(0.8) WITHIN GROUP (ORDER BY rev_cents)")
          .as("cut"))
      rev.crossJoin(broadcast(cut))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("rev_cents")).as("total_cents"),
          sum(when(col("rev_cents") > col("cut"), 1L).otherwise(0L))
            .as("top_customers"),
          sum(when(col("rev_cents") > col("cut"), col("rev_cents"))
            .otherwise(0L)).as("top_cents"))
        .select(col("n_customers"), col("total_cents"),
          col("top_customers"), col("top_cents"),
          expr("top_cents * 10000 div total_cents").as("top_share_bp"))
    })
  )

  val oracle: Map[String, String] = Map(
    // Register-deterministic HLL mirrored end to end (r12 VERDICT
    // task 2): xxhash64 via the OracleXxh64 HUGEINT chain, register
    // index = top 12 bits, rho via exact-integer bit length
    // (ltrim(bin(w)) — no floating log2), per-register maxima, then
    // the identical Ssc/V/estimate arithmetic as the engine. Absent
    // registers are zeros: Ssc picks up (4096-present)·2^53 and
    // V = 4096-present (present registers always have rho >= 1).
    // alpha·m² is the engine's own Double.toString literal.
    "agg_hll_union" -> {
      import OracleXxh64._
      val alpha = graft.functions.HllRegistersAgg.alphaM2Literal
      val hashed = chain(
        s"SELECT l_returnflag, ${toUnsigned("l_partkey")} AS u FROM " +
          "(SELECT DISTINCT l_returnflag, l_partkey FROM lineitem)",
        hashLongSteps("u", "42::HUGEINT", "a"))
      val est = s"(($alpha * 9007199254740992.0) / CAST(ssc AS DOUBLE))"
      s"""WITH rr AS (
         |  SELECT l_returnflag, af5 // 4503599627370496::HUGEINT AS pos,
         |    CASE WHEN af5 % 4503599627370496::HUGEINT = 0 THEN 53
         |         ELSE 53 - length(ltrim(bin(CAST(
         |           af5 % 4503599627370496::HUGEINT AS UBIGINT)), '0'))
         |    END AS rho
         |  FROM ($hashed)
         |), regs AS (
         |  SELECT l_returnflag, pos, max(rho) AS reg
         |  FROM rr GROUP BY 1, 2
         |), grouped AS (
         |  SELECT l_returnflag, pos, reg FROM regs
         |  UNION ALL
         |  SELECT 'ALL' AS l_returnflag, pos, max(reg) AS reg
         |  FROM regs GROUP BY pos
         |), stats AS (
         |  SELECT l_returnflag,
         |    sum(CAST(1::BIGINT << (53 - reg) AS HUGEINT))
         |      + (4096 - count(*))::HUGEINT * 9007199254740992::HUGEINT AS ssc,
         |    4096 - count(*) AS v
         |  FROM grouped GROUP BY 1
         |), exacts AS (
         |  SELECT l_returnflag, count(DISTINCT l_partkey) AS exact
         |  FROM lineitem GROUP BY 1
         |  UNION ALL SELECT 'ALL', -1::BIGINT
         |)
         |SELECT s.l_returnflag,
         |  CAST(round(CASE WHEN $est <= 10240.0 AND v > 0
         |    THEN 4096.0 * ln(4096.0 / CAST(v AS DOUBLE))
         |    ELSE $est END * 1000.0) AS BIGINT) AS est_milli,
         |  e.exact
         |FROM stats s JOIN exacts e USING (l_returnflag)
         |ORDER BY l_returnflag""".stripMargin
    },
    // Same registers, same estimate algebra as agg_hll_union, plus:
    // DENSE register grids (present-only rows would drop positions
    // present in exactly one flag from the pairwise max), pairwise
    // elementwise-max union, inclusion-exclusion in the engine's
    // exact operand order (estA + estB) − estU, and the exact
    // distinct-intersection self-join for the rows the spec audits.
    "agg_hll_intersection" -> {
      import OracleXxh64._
      val alpha = graft.functions.HllRegistersAgg.alphaM2Literal
      val hashed = chain(
        s"SELECT l_returnflag, ${toUnsigned("l_partkey")} AS u FROM " +
          "(SELECT DISTINCT l_returnflag, l_partkey FROM lineitem)",
        hashLongSteps("u", "42::HUGEINT", "a"))
      def estSql(src: String, keys: String): String =
        s"""SELECT $keys,
           |  CASE WHEN ($alpha * 9007199254740992.0) / CAST(ssc AS DOUBLE)
           |         <= 10240.0 AND v > 0
           |    THEN 4096.0 * ln(4096.0 / CAST(v AS DOUBLE))
           |    ELSE ($alpha * 9007199254740992.0) / CAST(ssc AS DOUBLE)
           |  END AS est
           |FROM (SELECT $keys,
           |    sum(CAST(1::BIGINT << (53 - reg) AS HUGEINT)) AS ssc,
           |    count(*) FILTER (WHERE reg = 0) AS v
           |  FROM $src GROUP BY $keys) t""".stripMargin
      s"""WITH rr AS (
         |  SELECT l_returnflag AS f, af5 // 4503599627370496::HUGEINT AS pos,
         |    CASE WHEN af5 % 4503599627370496::HUGEINT = 0 THEN 53
         |         ELSE 53 - length(ltrim(bin(CAST(
         |           af5 % 4503599627370496::HUGEINT AS UBIGINT)), '0'))
         |    END AS rho
         |  FROM ($hashed)
         |), sparse AS MATERIALIZED (
         |  SELECT f, pos, max(rho) AS reg FROM rr GROUP BY 1, 2
         |), dense AS MATERIALIZED (
         |  SELECT flags.f, gs.pos, COALESCE(r.reg, 0) AS reg
         |  FROM (SELECT DISTINCT f FROM sparse) flags
         |  CROSS JOIN generate_series(0, 4095) gs(pos)
         |  LEFT JOIN sparse r ON r.f = flags.f AND r.pos = gs.pos
         |), est_f AS (${estSql("dense", "f")}
         |), pair_regs AS (
         |  SELECT a.f AS fa, b.f AS fb, greatest(a.reg, b.reg) AS reg
         |  FROM dense a JOIN dense b ON a.pos = b.pos AND a.f < b.f
         |), est_u AS (${estSql("pair_regs", "fa, fb")}
         |), dk AS (
         |  SELECT DISTINCT l_returnflag AS f, l_partkey AS k FROM lineitem
         |), ex AS (
         |  SELECT a.f AS fa, b.f AS fb, count(*) AS exact_inter
         |  FROM dk a JOIN dk b ON a.k = b.k AND a.f < b.f GROUP BY 1, 2
         |)
         |SELECT u.fa, u.fb,
         |  CAST(round(((ea.est + eb.est) - u.est) * 1000.0) AS BIGINT)
         |    AS inter_est_milli,
         |  ex.exact_inter
         |FROM est_u u
         |JOIN est_f ea ON ea.f = u.fa
         |JOIN est_f eb ON eb.f = u.fb
         |JOIN ex ON ex.fa = u.fa AND ex.fb = u.fb
         |ORDER BY u.fa, u.fb""".stripMargin
    },
    // Counters re-derived from DuckDB's own HUGEINT xxh64 chain
    // (seed 42+dd per row), probe buckets re-derived the same way —
    // nothing is taken from the engine; pure integer equality.
    "agg_cms_point" -> {
      import OracleXxh64._
      val rows = chain(
        s"SELECT dd, ${toUnsigned("l_suppkey")} AS u FROM lineitem " +
          "CROSS JOIN generate_series(0, 3) g(dd)",
        hashLongSteps("u", "CAST(42 + dd AS HUGEINT)", "c"))
      val probes = chain(
        "SELECT k, dd, CAST(k AS HUGEINT) AS u FROM " +
          "(SELECT unnest(generate_series(1, 5)) AS k) " +
          "CROSS JOIN generate_series(0, 3) g(dd)",
        hashLongSteps("u", "CAST(42 + dd AS HUGEINT)", "p"))
      s"""WITH counters AS (
         |  SELECT dd, cf5 % 1024::HUGEINT AS j, count(*) AS c
         |  FROM ($rows) GROUP BY 1, 2
         |), probe AS (
         |  SELECT k, dd, pf5 % 1024::HUGEINT AS j FROM ($probes)
         |), est AS (
         |  SELECT p.k AS l_suppkey,
         |    min(COALESCE(c.c, 0)) AS cms_est
         |  FROM probe p LEFT JOIN counters c ON c.dd = p.dd AND c.j = p.j
         |  GROUP BY 1
         |), exact AS (
         |  SELECT l_suppkey, count(*) AS exact_n FROM lineitem
         |  WHERE l_suppkey BETWEEN 1 AND 5 GROUP BY 1
         |)
         |SELECT l_suppkey, cms_est, COALESCE(exact_n, 0) AS exact_n
         |FROM est LEFT JOIN exact USING (l_suppkey)
         |ORDER BY l_suppkey""".stripMargin
    },
    "agg_group_sums" -> flagshipSql,
    "agg_count_distinct" ->
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // The bitmap path is exact, so the plain count(DISTINCT) is its
    // row-for-row mirror.
    "agg_bitmap_distinct" ->
      """SELECT o_orderpriority,
        |  count(DISTINCT o_custkey) AS n_distinct_custs
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "agg_rollup" ->
      """SELECT grouping_id(c_nationkey, c_mktsegment) AS gid, c_nationkey, c_mktsegment,
        |  count(*) AS n, CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer GROUP BY ROLLUP (c_nationkey, c_mktsegment)
        |ORDER BY gid, c_nationkey ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""".stripMargin,
    "agg_cube" ->
      """SELECT grouping_id(c_mktsegment, c_nationkey) AS gid, c_mktsegment, c_nationkey, count(*) AS n
        |FROM customer GROUP BY CUBE (c_mktsegment, c_nationkey)
        |ORDER BY gid, c_mktsegment ASC NULLS FIRST, c_nationkey ASC NULLS FIRST""".stripMargin,
    "agg_grouping_sets" ->
      """SELECT grouping_id(l_returnflag, l_linestatus) AS gid, l_returnflag, l_linestatus,
        |  count(*) AS n, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "agg_having" ->
      """SELECT c_nationkey, count(*) AS n_cust FROM customer
        |GROUP BY c_nationkey HAVING count(*) > 60 ORDER BY c_nationkey""".stripMargin,
    "agg_stats" ->
      """SELECT l_returnflag,
        |  min(l_quantity) AS min_qty,
        |  max(l_quantity) AS max_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  min(l_shipdate) AS first_ship,
        |  max(l_shipdate) AS last_ship,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_collect_list" ->
      """SELECT o_custkey, string_agg(o_orderpriority, ',' ORDER BY o_orderpriority) AS prios
        |FROM orders WHERE o_custkey < 100 GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "agg_collect_set" ->
      """SELECT o_custkey,
        |  array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS distinct_prios,
        |  count(DISTINCT o_orderpriority) AS n_distinct
        |FROM orders WHERE o_custkey < 100 GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "agg_min_max_by" ->
      """SELECT o_custkey,
        |  max(CASE WHEN rn_max = 1 THEN o_orderkey END) AS best_order,
        |  max(CASE WHEN rn_min = 1 THEN o_orderkey END) AS worst_order,
        |  max(o_totalprice) AS best_price
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn_max,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn_min
        |  FROM orders) t
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "agg_pivot" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f,
        |  CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // hand-built transpose: per former-column row, one CASE-pivot cell
    // per flag value; max() collapses the 3 source rows per cell
    "reshape_transpose" ->
      """WITH agg AS (
        |  SELECT l_returnflag,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT 'sum_qty' AS key,
        |  max(CASE WHEN l_returnflag = 'A' THEN sum_qty END) AS "A",
        |  max(CASE WHEN l_returnflag = 'N' THEN sum_qty END) AS "N",
        |  max(CASE WHEN l_returnflag = 'R' THEN sum_qty END) AS "R"
        |FROM agg
        |UNION ALL
        |SELECT 'sum_price' AS key,
        |  max(CASE WHEN l_returnflag = 'A' THEN sum_price END) AS "A",
        |  max(CASE WHEN l_returnflag = 'N' THEN sum_price END) AS "N",
        |  max(CASE WHEN l_returnflag = 'R' THEN sum_price END) AS "R"
        |FROM agg
        |ORDER BY key""".stripMargin,
    "reshape_unpivot" ->
      """WITH agg AS (
        |  SELECT l_returnflag,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS val FROM agg
        |UNION ALL
        |SELECT l_returnflag, 'sum_price' AS measure, sum_price AS val FROM agg
        |ORDER BY l_returnflag, measure""".stripMargin,
    "agg_bool" ->
      """SELECT o_orderpriority,
        |  bool_and(o_totalprice > 1000.0) AS all_over_1k,
        |  bool_or(o_orderstatus = 'P') AS any_pending,
        |  count(*) FILTER (WHERE o_totalprice > 100000.0) AS n_big
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // exact side mirrored by count(DISTINCT); the envelope flag is the
    // theorem side — see the query's scaladoc for why TRUE is the only
    // fixture-independent value (10σ of an rsd-0.01 HLL)
    "agg_approx_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS exact_parts,
        |  TRUE AS est_within_10pct FROM lineitem""".stripMargin,
    // the provably-exact GK regime returns percentile_disc's element
    // (QuantileExactRegimeSpec) — quantile_disc is DuckDB's spelling
    "agg_approx_quantile" ->
      """SELECT o_orderpriority,
        |  quantile_disc(o_totalprice, 0.5) AS p50,
        |  quantile_disc(o_totalprice, 0.9) AS p90,
        |  quantile_disc(o_totalprice, 0.99) AS p99
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // quantile_disc cutoffs == the engine's integer-compare disc picks
    // (established pairing); clamped DECIMAL sum, one final division
    "agg_winsorized_mean" ->
      """WITH cuts AS (
        |  SELECT l_returnflag,
        |    quantile_disc(l_quantity, 0.1) AS lo,
        |    quantile_disc(l_quantity, 0.9) AS hi
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT l.l_returnflag, c.lo, c.hi, count(*) AS n,
        |  CAST(sum(CAST(greatest(c.lo, least(c.hi, l.l_quantity))
        |    AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS wins_mean
        |FROM lineitem l JOIN cuts c ON l.l_returnflag = c.l_returnflag
        |GROUP BY l.l_returnflag, c.lo, c.hi
        |ORDER BY l.l_returnflag""".stripMargin,
    "agg_percentile_disc" ->
      """SELECT l_returnflag,
        |  quantile_disc(l_quantity, 0.25) AS p25_qty,
        |  quantile_disc(l_quantity, 0.5) AS p50_qty,
        |  quantile_disc(l_extendedprice, 0.9) AS p90_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // same exact decimal sufficient statistics, same closed-form IEEE
    // expression (textually identical slope subterm)
    "agg_linreg" ->
      """WITH s AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,0))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,0))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,0)) * CAST(l_extendedprice AS DECIMAL(18,0))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,0)) * CAST(l_quantity AS DECIMAL(18,0))) AS DOUBLE) AS sxx
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
        |  ((n * sxy) - (sx * sy)) / ((n * sxx) - (sx * sx)) AS slope,
        |  (sy - (((n * sxy) - (sx * sy)) / ((n * sxx) - (sx * sx))) * sx) / n
        |    AS intercept
        |FROM s ORDER BY l_returnflag""".stripMargin,
    "agg_corr_exact" ->
      """WITH s AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,0))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,0))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,0)) * CAST(l_extendedprice AS DECIMAL(18,0))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,0)) * CAST(l_quantity AS DECIMAL(18,0))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,0)) * CAST(l_extendedprice AS DECIMAL(18,0))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT l_returnflag,
        |  (sxy / n) - (sx / n) * (sy / n) AS covar_pop,
        |  ((n * sxy) - (sx * sy)) /
        |    (sqrt((n * sxx) - (sx * sx)) * sqrt((n * syy) - (sy * sy))) AS corr
        |FROM s ORDER BY l_returnflag""".stripMargin,
    "agg_percentile_cont" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25_qty,
        |  quantile_cont(l_quantity, 0.5) AS p50_qty,
        |  quantile_cont(l_extendedprice, 0.75) AS p75_price
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // DuckDB median = quantile_cont(0.5): same interpolation contract
    "agg_median" ->
      """SELECT l_returnflag,
        |  CAST(median(l_quantity) AS DOUBLE) AS med_qty,
        |  CAST(median(l_extendedprice) AS DOUBLE) AS med_price,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // same all-integer cumulative-weight selection; the ROWS frame's
    // intra-tie order cannot change the selected cents value
    "agg_weighted_median" ->
      """WITH li AS (
        |  SELECT l_returnflag,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT) AS w
        |  FROM lineitem
        |), tot AS (
        |  SELECT l_returnflag, CAST(sum(w) AS BIGINT) AS total_w,
        |    count(*) AS n_rows
        |  FROM li GROUP BY l_returnflag
        |), cum AS (
        |  SELECT l_returnflag, cents,
        |    CAST(sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_w
        |  FROM li
        |)
        |SELECT c.l_returnflag, t.n_rows, t.total_w,
        |  min(c.cents) AS wmed_cents
        |FROM cum c JOIN tot t ON c.l_returnflag = t.l_returnflag
        |WHERE c.cum_w * 2 >= t.total_w
        |GROUP BY c.l_returnflag, t.n_rows, t.total_w
        |ORDER BY c.l_returnflag""".stripMargin,
    // same exact integer sums, same division/sqrt order
    "agg_variance_exact" ->
      """WITH p AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,0))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,0)) *
        |      CAST(l_quantity AS DECIMAL(18,0)) AS DECIMAL(18,0)))
        |      AS DOUBLE) AS s2
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
        |  CASE WHEN n > 1 THEN (s2 - s1 * s1 / n) / (n - 1.0) END
        |    AS var_samp,
        |  (s2 - s1 * s1 / n) / n AS var_pop,
        |  CASE WHEN n > 1 THEN sqrt((s2 - s1 * s1 / n) / (n - 1.0)) END
        |    AS stddev_samp
        |FROM p ORDER BY l_returnflag""".stripMargin,
    "agg_skew_kurt" ->
      """WITH p AS (
        |  SELECT l_returnflag,
        |    CAST(l_quantity AS DECIMAL(18,0)) AS x,
        |    CAST(CAST(l_quantity AS DECIMAL(18,0)) *
        |         CAST(l_quantity AS DECIMAL(18,0)) AS DECIMAL(18,0)) AS x2
        |  FROM lineitem
        |), p2 AS (
        |  SELECT l_returnflag, x, x2,
        |    CAST(x2 * x AS DECIMAL(18,0)) AS x3,
        |    CAST(x2 * x2 AS DECIMAL(18,0)) AS x4
        |  FROM p
        |), s AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(x) AS DOUBLE) AS s1,
        |    CAST(sum(x2) AS DOUBLE) AS s2,
        |    CAST(sum(x3) AS DOUBLE) AS s3,
        |    CAST(sum(x4) AS DOUBLE) AS s4
        |  FROM p2 GROUP BY l_returnflag
        |)
        |SELECT l_returnflag,
        |  (s3 / n - 3 * (s1 / n) * (s2 / n) +
        |    2 * (s1 / n) * (s1 / n) * (s1 / n)) /
        |    (sqrt(s2 / n - (s1 / n) * (s1 / n)) *
        |    (s2 / n - (s1 / n) * (s1 / n))) AS skew_pop,
        |  (s4 / n - 4 * (s1 / n) * (s3 / n) +
        |    6 * (s1 / n) * (s1 / n) * (s2 / n) -
        |    3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n)) /
        |    ((s2 / n - (s1 / n) * (s1 / n)) *
        |    (s2 / n - (s1 / n) * (s1 / n))) - 3 AS kurt_pop
        |FROM s ORDER BY l_returnflag""".stripMargin,
    "agg_histogram" ->
      """WITH b AS (
        |  SELECT least(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT) // 5000000, 9) AS bucket
        |  FROM orders
        |), c AS (
        |  SELECT bucket, count(*) AS n FROM b GROUP BY 1
        |)
        |SELECT bucket, n,
        |  n * 10000 // CAST(sum(n) OVER () AS BIGINT) AS share_bp
        |FROM c ORDER BY bucket""".stripMargin,
    // same disc-quantile cut values, same closed-boundary buckets
    "agg_histogram_equi_depth" ->
      """WITH cuts AS (
        |  SELECT l_returnflag,
        |    quantile_disc(l_extendedprice, 0.25) AS c1,
        |    quantile_disc(l_extendedprice, 0.5) AS c2,
        |    quantile_disc(l_extendedprice, 0.75) AS c3
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT li.l_returnflag,
        |  CAST(CASE WHEN li.l_extendedprice <= c.c1 THEN 0
        |    WHEN li.l_extendedprice <= c.c2 THEN 1
        |    WHEN li.l_extendedprice <= c.c3 THEN 2
        |    ELSE 3 END AS BIGINT) AS bucket,
        |  count(*) AS n
        |FROM lineitem li JOIN cuts c ON li.l_returnflag = c.l_returnflag
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // same sorted ordered fold of c*log2(c) (list_reduce with a 0.0
    // seed), same log2(n) - s/n closed form
    "agg_entropy" ->
      """WITH c AS (
        |  SELECT o_orderstatus, o_orderpriority, count(*) AS c
        |  FROM orders GROUP BY 1, 2
        |)
        |SELECT o_orderstatus, CAST(sum(c) AS BIGINT) AS n,
        |  count(*) AS n_values,
        |  CAST(round((log2(CAST(sum(c) AS BIGINT)) - list_reduce(
        |    list_prepend(CAST(0 AS DOUBLE),
        |      list(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))
        |        ORDER BY o_orderpriority)),
        |    (acc, x) -> acc + x) / CAST(sum(c) AS BIGINT)) * 1000000)
        |    AS BIGINT) AS entropy_microbits
        |FROM c GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "agg_mode" ->
      """WITH c AS (
        |  SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        |  FROM orders GROUP BY 1, 2
        |), r AS (
        |  SELECT o_orderstatus, o_orderpriority, cnt,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY cnt DESC, o_orderpriority ASC) AS rk
        |  FROM c
        |)
        |SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt
        |FROM r WHERE rk = 1 ORDER BY o_orderstatus""".stripMargin,
    "agg_string_concat" ->
      """SELECT n_regionkey,
        |  string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |  count(*) AS n
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    // same 16-bucket integer share algebra; missing buckets coalesce
    // to 0 on either side via the full outer join
    "profile_drift" ->
      """WITH cells AS (
        |  SELECT CASE WHEN source = 'src0' THEN 'batch' ELSE 'corpus' END AS grp,
        |    least(n_chars // 64, 15) AS bkt, count(*) AS n
        |  FROM documents GROUP BY 1, 2
        |), tot AS (
        |  SELECT grp, sum(n) AS tot FROM cells GROUP BY grp
        |), shares AS (
        |  SELECT c.grp, c.bkt, c.n * 10000 // t.tot AS bp
        |  FROM cells c JOIN tot t ON c.grp = t.grp
        |), b AS (SELECT bkt, bp AS bp_b FROM shares WHERE grp = 'batch'),
        |c AS (SELECT bkt, bp AS bp_c FROM shares WHERE grp = 'corpus')
        |SELECT CAST(sum(abs(coalesce(bp_b, 0) - coalesce(bp_c, 0))) AS BIGINT) AS l1_bp,
        |  count(*) AS n_buckets
        |FROM b FULL OUTER JOIN c USING (bkt)""".stripMargin,
    // plain aggregate mirror — the observation must equal what a
    // dedicated scan computes
    // same one-pass sums, reshaped by a VALUES join instead of stack
    "profile_expectations" ->
      """WITH a AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_key_null,
        |    count(*) - count(DISTINCT o_orderkey) AS v_key_dup,
        |    CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_price_pos,
        |    CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_status_set,
        |    CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01'
        |      OR o_orderdate >= TIMESTAMP '1999-01-01'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_date_range,
        |    CAST(sum(CASE WHEN o_custkey <= 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_cust_fk
        |  FROM orders
        |)
        |SELECT r.rule, r.n_violations, r.n_violations = 0 AS passed,
        |  a.n AS n_rows
        |FROM a, LATERAL (VALUES
        |  ('o_custkey_positive', a.v_cust_fk),
        |  ('o_orderdate_in_range', a.v_date_range),
        |  ('o_orderkey_not_null', a.v_key_null),
        |  ('o_orderkey_unique', a.v_key_dup),
        |  ('o_orderstatus_accepted', a.v_status_set),
        |  ('o_totalprice_positive', a.v_price_pos))
        |  AS r(rule, n_violations)
        |ORDER BY r.rule""".stripMargin,
    "profile_observe" ->
      """SELECT count(*) AS n_rows, count(l_returnflag) AS n_flag,
        |  min(l_orderkey) AS min_okey, max(l_orderkey) AS max_okey,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem""".stripMargin,
    "profile_columns" ->
      """SELECT 'c_acctbal' AS col_name, count(*) AS n,
        |  count(c_acctbal) AS n_nonnull, count(DISTINCT c_acctbal) AS n_distinct,
        |  CAST(min(c_acctbal) AS DOUBLE) AS min_d, CAST(max(c_acctbal) AS DOUBLE) AS max_d
        |FROM customer
        |UNION ALL
        |SELECT 'c_custkey', count(*), count(c_custkey), count(DISTINCT c_custkey),
        |  CAST(min(c_custkey) AS DOUBLE), CAST(max(c_custkey) AS DOUBLE)
        |FROM customer
        |UNION ALL
        |SELECT 'c_nationkey', count(*), count(c_nationkey), count(DISTINCT c_nationkey),
        |  CAST(min(c_nationkey) AS DOUBLE), CAST(max(c_nationkey) AS DOUBLE)
        |FROM customer
        |ORDER BY col_name""".stripMargin,
    // same bounded value-pair numerator (HUGEINT-exact, then one
    // double division); same grouped-data identity
    "agg_gini" ->
      """WITH c AS (
        |  SELECT l_returnflag, CAST(round(l_quantity) AS BIGINT) AS q,
        |    count(*) AS c
        |  FROM lineitem GROUP BY 1, 2
        |), num AS (
        |  SELECT a.l_returnflag, sum(a.c * b.c * abs(a.q - b.q)) AS num
        |  FROM c a JOIN c b ON a.l_returnflag = b.l_returnflag
        |  GROUP BY a.l_returnflag
        |), st AS (
        |  SELECT l_returnflag, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(c * q) AS BIGINT) AS sum_qty
        |  FROM c GROUP BY l_returnflag
        |)
        |SELECT st.l_returnflag, n, sum_qty,
        |  CAST(round(CAST(num AS DOUBLE) /
        |    (2.0 * CAST(n AS DOUBLE) * CAST(sum_qty AS DOUBLE)) * 1e6)
        |    AS BIGINT) AS gini_micro
        |FROM st JOIN num ON st.l_returnflag = num.l_returnflag
        |ORDER BY st.l_returnflag""".stripMargin,
    // same exact-cents digit head, same literal-digit transcendental
    "agg_benford" ->
      """WITH dg AS (
        |  SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100)
        |    AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders
        |), c AS (SELECT digit, count(*) AS n FROM dg GROUP BY digit),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
        |SELECT digit, n, n * 10000 // total AS share_bp,
        |  CAST(round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * 1e6)
        |    AS BIGINT) AS benford_micro
        |FROM c, t ORDER BY digit""".stripMargin,
    // same HUGEINT-exact numerator, same single division
    "agg_hhi" ->
      """WITH rev AS (
        |  SELECT c_mktsegment, o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_mktsegment, o_custkey
        |)
        |SELECT c_mktsegment, count(*) AS n_customers,
        |  CAST(sum(rev) AS BIGINT) AS total_cents,
        |  CAST(round(CAST(sum(rev * rev) AS DOUBLE) /
        |    (CAST(CAST(sum(rev) AS BIGINT) AS DOUBLE) *
        |     CAST(CAST(sum(rev) AS BIGINT) AS DOUBLE)) * 1e6)
        |    AS BIGINT) AS hhi_micro
        |FROM rev GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // same sorted 15-term fold, same per-cell double expression tree
    "agg_chi2_contingency" ->
      """WITH o AS MATERIALIZED (
        |  SELECT o_orderstatus AS s, o_orderpriority AS p, count(*) AS o
        |  FROM orders GROUP BY 1, 2
        |), r AS (SELECT s, CAST(sum(o) AS BIGINT) AS r FROM o GROUP BY s),
        |c AS (SELECT p, CAST(sum(o) AS BIGINT) AS c FROM o GROUP BY p),
        |cells AS (
        |  SELECT o.s, o.p, o.o, r.r, c.c
        |  FROM o JOIN r ON o.s = r.s JOIN c ON o.p = c.p
        |), l AS (
        |  SELECT CAST(sum(o) AS BIGINT) AS n,
        |    count(DISTINCT s) AS nr, count(DISTINCT p) AS nc,
        |    list(struct_pack(s := s, p := p, o := o, r := r, c := c)
        |      ORDER BY s, p) AS lst
        |  FROM cells
        |), x AS (
        |  SELECT n, nr, nc,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(lst, e ->
        |        (CAST(e.o AS DOUBLE) * CAST(n AS DOUBLE) -
        |         CAST(e.r AS DOUBLE) * CAST(e.c AS DOUBLE)) *
        |        (CAST(e.o AS DOUBLE) * CAST(n AS DOUBLE) -
        |         CAST(e.r AS DOUBLE) * CAST(e.c AS DOUBLE)) /
        |        (CAST(n AS DOUBLE) * CAST(e.r AS DOUBLE) *
        |         CAST(e.c AS DOUBLE)))),
        |      (a, v) -> a + v) AS chi2
        |  FROM l
        |)
        |SELECT n, nr, nc,
        |  CAST(round(chi2 * 1e6) AS BIGINT) AS chi2_micro,
        |  CAST(round(sqrt(chi2 / (CAST(n AS DOUBLE) *
        |    CAST(least(nr, nc) - 1 AS DOUBLE))) * 1e6) AS BIGINT)
        |    AS cramers_v_micro
        |FROM x""".stripMargin,
    // same bounded value-pair cumulatives, same integer gap algebra
    "agg_ks_test" ->
      """WITH counts AS MATERIALIZED (
        |  SELECT CAST(round(l_quantity) AS BIGINT) AS q,
        |    CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cr
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY 1
        |), cum AS (
        |  SELECT a.q, CAST(sum(b.ca) AS BIGINT) AS cum_a,
        |    CAST(sum(b.cr) AS BIGINT) AS cum_r
        |  FROM counts a JOIN counts b ON b.q <= a.q GROUP BY a.q
        |), tot AS (
        |  SELECT CAST(sum(ca) AS BIGINT) AS n_a,
        |    CAST(sum(cr) AS BIGINT) AS n_r FROM counts
        |)
        |SELECT max(n_a) AS n_a, max(n_r) AS n_r,
        |  CAST(round(CAST(max(abs(cum_a * n_r - cum_r * n_a)) AS DOUBLE) /
        |    (CAST(max(n_a) AS DOUBLE) * CAST(max(n_r) AS DOUBLE)) * 1e6)
        |    AS BIGINT) AS ks_micro
        |FROM cum, tot""".stripMargin,
    // same exact integer moments (DuckDB's HUGEINT sums mirror the
    // engine's DECIMAL(38,0) squares), same fixed double tree
    "agg_welch_ttest" ->
      """WITH g AS (
        |  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END
        |      AS grp,
        |    count(*) AS n,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS s,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT) *
        |        CAST(round(o_totalprice * 100) AS BIGINT)) AS q
        |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        |  GROUP BY 1
        |), wide AS (
        |  SELECT
        |    max(CASE WHEN grp = 1 THEN n END) AS n1,
        |    max(CASE WHEN grp = 1 THEN s END) AS s1,
        |    max(CASE WHEN grp = 1 THEN q END) AS q1,
        |    max(CASE WHEN grp = 2 THEN n END) AS n2,
        |    max(CASE WHEN grp = 2 THEN s END) AS s2,
        |    max(CASE WHEN grp = 2 THEN q END) AS q2
        |  FROM g
        |), v AS (
        |  SELECT n1, n2, s1, s2,
        |    (CAST(n1 AS DOUBLE) * CAST(q1 AS DOUBLE) -
        |     CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) /
        |    (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0) *
        |     CAST(n1 AS DOUBLE)) AS vn1,
        |    (CAST(n2 AS DOUBLE) * CAST(q2 AS DOUBLE) -
        |     CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)) /
        |    (CAST(n2 AS DOUBLE) * (CAST(n2 AS DOUBLE) - 1.0) *
        |     CAST(n2 AS DOUBLE)) AS vn2
        |  FROM wide
        |)
        |SELECT n1, n2,
        |  CAST(round((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
        |    CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) /
        |    sqrt(vn1 + vn2) * 1e6) AS BIGINT) AS t_micro,
        |  CAST(round((vn1 + vn2) * (vn1 + vn2) /
        |    (vn1 * vn1 / (CAST(n1 AS DOUBLE) - 1.0) +
        |     vn2 * vn2 / (CAST(n2 AS DOUBLE) - 1.0)) * 1e3) AS BIGINT)
        |    AS df_milli
        |FROM v""".stripMargin,
    // same counts table, same q-sorted √-term fold
    "agg_bhattacharyya" ->
      """WITH counts AS MATERIALIZED (
        |  SELECT CAST(round(l_quantity) AS BIGINT) AS q,
        |    CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cr
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(ca) AS BIGINT) AS n_a,
        |    CAST(sum(cr) AS BIGINT) AS n_r FROM counts
        |)
        |SELECT n_a, n_r,
        |  CAST(round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(sqrt(CAST(ca AS DOUBLE) * CAST(cr AS DOUBLE)) /
        |         sqrt(CAST(n_a AS DOUBLE) * CAST(n_r AS DOUBLE))
        |         ORDER BY q)),
        |    (acc, x) -> acc + x) * 1e6) AS BIGINT) AS bc_micro
        |FROM counts, tot GROUP BY n_a, n_r""".stripMargin,
    // same disc medians off the counts table, same integer moments,
    // same group-sorted Σ S²/n fold, same fixed double tree
    "agg_levene" ->
      """WITH base AS MATERIALIZED (
        |  SELECT l_returnflag AS f, CAST(round(l_quantity) AS BIGINT) AS q
        |  FROM lineitem
        |), counts AS MATERIALIZED (
        |  SELECT f, q, count(*) AS c FROM base GROUP BY f, q
        |), cum AS (
        |  SELECT a.f, a.q, CAST(sum(b.c) AS BIGINT) AS cc
        |  FROM counts a JOIN counts b ON a.f = b.f AND b.q <= a.q
        |  GROUP BY a.f, a.q
        |), tot AS (SELECT f, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY f),
        |med AS (
        |  SELECT cum.f, min(cum.q) AS med
        |  FROM cum JOIN tot ON cum.f = tot.f
        |  WHERE cc * 2 >= n GROUP BY cum.f
        |), g AS (
        |  SELECT base.f, count(*) AS ng,
        |    CAST(sum(abs(q - med)) AS BIGINT) AS sg,
        |    CAST(sum(abs(q - med) * abs(q - med)) AS BIGINT) AS qg
        |  FROM base JOIN med ON base.f = med.f GROUP BY base.f
        |), t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(ng) AS BIGINT) AS n,
        |    CAST(sum(sg) AS BIGINT) AS s,
        |    CAST(sum(qg) AS BIGINT) AS qq,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) /
        |           CAST(ng AS DOUBLE) ORDER BY f)),
        |      (acc, x) -> acc + x) AS ssg
        |  FROM g
        |)
        |SELECT k, n,
        |  CAST(round((CAST(n AS DOUBLE) - CAST(k AS DOUBLE)) /
        |    (CAST(k AS DOUBLE) - 1.0) *
        |    (ssg - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) /
        |     CAST(n AS DOUBLE)) /
        |    (CAST(qq AS DOUBLE) - ssg) * 1e6) AS BIGINT) AS f_micro
        |FROM t""".stripMargin,
    // same exact integer 2U and DECIMAL/HUGEINT tie radicand, same
    // fixed double tree
    "agg_mann_whitney" ->
      """WITH counts AS MATERIALIZED (
        |  SELECT CAST(round(l_quantity) AS BIGINT) AS q,
        |    CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cr
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY 1
        |), below AS (
        |  SELECT a.q, CAST(sum(b.cr) AS BIGINT) AS crb
        |  FROM counts a JOIN counts b ON b.q < a.q GROUP BY a.q
        |), t AS (
        |  SELECT
        |    CAST(sum(ca) AS BIGINT) AS n_a,
        |    CAST(sum(cr) AS BIGINT) AS n_r,
        |    CAST(sum(ca * (2 * coalesce(crb, 0) + cr)) AS BIGINT) AS u2,
        |    sum((ca + cr) * (ca + cr) * (ca + cr) - (ca + cr)) AS ties
        |  FROM counts LEFT JOIN below USING (q)
        |), v AS (
        |  SELECT n_a, n_r, u2,
        |    CAST(n_a + n_r AS DOUBLE) AS radn,
        |    CAST((n_a + n_r)::HUGEINT * (n_a + n_r)::HUGEINT *
        |      (n_a + n_r)::HUGEINT - (n_a + n_r)::HUGEINT - ties
        |      AS DOUBLE) AS tfree
        |  FROM t
        |)
        |SELECT n_a, n_r, u2,
        |  CAST(round((CAST(u2 AS DOUBLE) -
        |    CAST(n_a AS DOUBLE) * CAST(n_r AS DOUBLE)) /
        |    (2.0 * sqrt(CAST(n_a AS DOUBLE) * CAST(n_r AS DOUBLE) *
        |    tfree / (12.0 * radn * (radn - 1.0)))) * 1e6) AS BIGINT)
        |    AS z_micro
        |FROM v""".stripMargin,
    // same sorted fold of (O/N)·log2(O·N/(R·C)) micro-bit terms
    "agg_mutual_info" ->
      """WITH o AS MATERIALIZED (
        |  SELECT o_orderstatus AS s, o_orderpriority AS p, count(*) AS o
        |  FROM orders GROUP BY 1, 2
        |), r AS (SELECT s, CAST(sum(o) AS BIGINT) AS r FROM o GROUP BY s),
        |c AS (SELECT p, CAST(sum(o) AS BIGINT) AS c FROM o GROUP BY p),
        |cells AS (
        |  SELECT o.s, o.p, o.o, r.r, c.c
        |  FROM o JOIN r ON o.s = r.s JOIN c ON o.p = c.p
        |), l AS (
        |  SELECT CAST(sum(o) AS BIGINT) AS n, count(*) AS n_cells,
        |    list(struct_pack(s := s, p := p, o := o, r := r, c := c)
        |      ORDER BY s, p) AS lst
        |  FROM cells
        |)
        |SELECT n, n_cells,
        |  CAST(round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_transform(lst, e ->
        |      CAST(e.o AS DOUBLE) / CAST(n AS DOUBLE) *
        |      log2(CAST(e.o AS DOUBLE) * CAST(n AS DOUBLE) /
        |        (CAST(e.r AS DOUBLE) * CAST(e.c AS DOUBLE))))),
        |    (a, v) -> a + v) * 1e6) AS BIGINT) AS mi_microbits
        |FROM l""".stripMargin,
    // same single quantile_disc cut, same strict-> membership
    "agg_pareto_share" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS rev_cents
        |  FROM orders GROUP BY o_custkey
        |), cut AS (SELECT quantile_disc(rev_cents, 0.8) AS cut FROM rev)
        |SELECT count(*) AS n_customers,
        |  CAST(sum(rev_cents) AS BIGINT) AS total_cents,
        |  CAST(sum(CASE WHEN rev_cents > cut THEN 1 ELSE 0 END) AS BIGINT)
        |    AS top_customers,
        |  CAST(sum(CASE WHEN rev_cents > cut THEN rev_cents ELSE 0 END)
        |    AS BIGINT) AS top_cents,
        |  CAST(sum(CASE WHEN rev_cents > cut THEN rev_cents ELSE 0 END)
        |    * 10000 // sum(rev_cents) AS BIGINT) AS top_share_bp
        |FROM rev, cut""".stripMargin
  )
}
