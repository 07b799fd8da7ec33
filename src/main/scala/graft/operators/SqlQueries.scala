package graft.operators

import graft.Tables._
import org.apache.spark.sql.functions._

/** SURVEY.md §2.N — the SQL text API: `spark.sql` over the dir-scoped
  * temp views `Tables.view` registers per call, exercising the
  * subquery forms Catalyst must decorrelate into
  * joins (a user of the engine writes these as SQL, not DataFrame
  * calls; the reference snapshot `/root/reference/README.md:1-2`
  * declares an analytics pipeline, and SQL text is the lingua franca).
  *
  * Each op targets a DISTINCT physical plan family:
  *  - correlated EXISTS → left semi join after decorrelation;
  *  - correlated scalar subquery → left outer join + aggregate;
  *  - NOT IN → null-aware anti join (the one join variant the
  *    DataFrame API has no direct spelling for).
  *
  * Scale notes (100 TB): all three decorrelate to ONE key-partitioned
  * join — never a per-row re-execution of the inner query (the naive
  * nested-loop reading is the thing Catalyst's RewriteCorrelatedScalar /
  * RewritePredicateSubquery rules exist to eliminate).
  */
object SqlQueries {

  val queries: Map[String, Q] = Map(
    // Correlated EXISTS: customers holding at least one big-ticket
    // order. Catalyst rewrites to a left SEMI join on c_custkey.
    "sql_exists_subquery" -> ((s, d) =>
      s.sql(s"""
        SELECT c_custkey, c_name
        FROM ${view(s, d, "customer")} c
        WHERE EXISTS (
          SELECT 1 FROM ${view(s, d, "orders")} o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000.0)
        ORDER BY c_custkey""")),

    // Correlated scalar subquery in the SELECT list: per-nation
    // customer count. Catalyst decorrelates to a left OUTER join
    // against the pre-aggregated inner side (count per key), with the
    // empty-group-becomes-0 coalesce the rewrite must preserve.
    "sql_scalar_subquery" -> ((s, d) =>
      s.sql(s"""
        SELECT n_nationkey, n_name,
          (SELECT count(*) FROM ${view(s, d, "customer")} c
           WHERE c.c_nationkey = n.n_nationkey) AS n_cust
        FROM ${view(s, d, "nation")} n
        ORDER BY n_nationkey""")),

    // NOT IN subquery: parts never shipped in bulk (quantity > 45 —
    // every part ships at SOME quantity in the fixture, so the inner
    // side is filtered to keep the answer non-vacuous at every scale).
    // The null-aware anti join — if the inner side could contain NULL
    // the whole NOT IN collapses to empty, so the physical plan must
    // check it; the DataFrame API has no direct spelling for this
    // operator (left_anti is the NOT EXISTS semantics, not NOT IN).
    "sql_not_in_subquery" -> ((s, d) =>
      s.sql(s"""
        SELECT p_partkey, p_name
        FROM ${view(s, d, "part")}
        WHERE p_partkey NOT IN (
          SELECT l_partkey FROM ${view(s, d, "lineitem")} WHERE l_quantity > 45.0)
        ORDER BY p_partkey""")),

    // Correlated LATERAL subquery with ORDER BY + LIMIT: each
    // customer's top-2 orders by price — the per-row-subquery spelling
    // of topk_per_group. Catalyst decorrelates the lateral (the LIMIT
    // becomes a per-key window under the hood) into ONE key join —
    // never a per-customer re-execution of the inner query — asserted
    // in LateralJoinSpec, which also recomputes the result through
    // the window spelling and requires exact agreement. Tie order
    // (price DESC, o_orderkey) is total, so the top-2 sets are
    // engine-deterministic.
    "sql_lateral_topk" -> ((s, d) =>
      s.sql(s"""
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM ${view(s, d, "customer")} c,
        LATERAL (
          SELECT o_orderkey, o_totalprice FROM ${view(s, d, "orders")} o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
        ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""")),

    // WITH RECURSIVE (Spark 4's recursive CTE execution): generate the
    // dense daily calendar spanning the event feed by recursion, then
    // zero-fill per-day event counts with one left join — the
    // SQL-text double entry of the ts_gap_fill family's
    // sequence()+explode grid. Spark only supports UNION ALL
    // recursion (probed: UNION-distinct raises
    // UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), so the recursion must be
    // acyclic-by-construction like this monotone counter.
    //
    // Depth guard (r4 VERDICT): a day-per-level recursion anchored at
    // the single min day has depth = feed span in days, which exceeds
    // Spark's default 100-level `spark.sql.cteRecursionLevelLimit` on
    // any feed longer than ~3 months. The anchor here is instead the
    // set of 30-day BLOCK starts (one `sequence()` stride per block),
    // and recursion fills days within each block concurrently — depth
    // is <= 30 levels for ANY span, while width scales with the span
    // (rows-per-level parallelism is exactly what Spark's recursion
    // executes well). The IS NOT NULL anchor guard makes an EMPTY
    // feed produce an empty calendar instead of a NULL row.
    "sql_recursive_cte" -> ((s, d) => {
      val ev = view(s, d, "events")
      s.sql(s"""
        WITH RECURSIVE bounds AS (
          SELECT min(ts_us div 86400000000) AS d0,
                 max(ts_us div 86400000000) AS d1
          FROM $ev
        ), starts AS (
          SELECT explode(sequence(d0, d1, 30)) AS blk0, d1
          FROM bounds WHERE d0 IS NOT NULL
        ), cal(day, blk_end) AS (
          SELECT blk0, least(blk0 + 29, d1) FROM starts
          UNION ALL
          SELECT c.day + 1, c.blk_end FROM cal c WHERE c.day < c.blk_end
        ), daily AS (
          SELECT ts_us div 86400000000 AS day, count(*) AS n
          FROM $ev GROUP BY 1
        )
        SELECT c.day, coalesce(d.n, CAST(0 AS BIGINT)) AS n
        FROM cal c LEFT JOIN daily d ON c.day = d.day
        ORDER BY c.day""")
    }),

    // EXISTS in a disjunction: because the subquery result is OR'd
    // with a local predicate, Catalyst cannot reduce it to a semi join
    // (a semi join would drop negative-balance customers with no
    // qualifying order) — it must plan the fourth decorrelation
    // family, ExistenceJoin: a left join variant that materializes the
    // match as a boolean column the filter then consumes. Still ONE
    // key-partitioned join at any scale, never per-row re-execution.
    "sql_exists_or" -> ((s, d) =>
      s.sql(s"""
        SELECT c_custkey, c_name
        FROM ${view(s, d, "customer")} c
        WHERE EXISTS (
          SELECT 1 FROM ${view(s, d, "orders")} o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)
          OR c.c_acctbal < 0.0
        ORDER BY c_custkey""")),

    // SQL-defined scalar function (Spark 4 SQL UDF — CREATE FUNCTION
    // ... RETURN expr): business logic shared as a CATALOG object, not
    // a JVM closure. Catalyst inlines the body into the calling plan,
    // so this stays whole-stage-codegen'd exact decimal arithmetic —
    // unlike a Scala UDF, which is an opaque black box to the
    // optimizer. The oracle inlines the same expression by hand: the
    // function boundary must be a pure naming layer with zero
    // numeric effect.
    "sql_udf_create" -> ((s, d) => {
      // the function name needs no dir scope: its body is d-independent,
      // so concurrent re-registration is idempotent same-content
      s.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_price(
          p DOUBLE, disc DOUBLE)
        RETURNS DECIMAL(16, 4)
        RETURN CAST(p AS DECIMAL(12, 2)) *
          (CAST(1.00 AS DECIMAL(3, 2)) - CAST(disc AS DECIMAL(4, 2)))""")
      s.sql(s"""
        SELECT l_returnflag,
          CAST(sum(graft_disc_price(l_extendedprice, l_discount))
            AS DOUBLE) AS sum_disc,
          count(*) AS n_rows
        FROM ${view(s, d, "lineitem")}
        GROUP BY l_returnflag ORDER BY l_returnflag""")
    }),

    // Parameterized SQL (Spark 4): named parameter markers bind VALUES
    // outside the SQL text (the injection-safe templating API — the
    // engine plans ONE query shape and the binding is a literal, never
    // string splicing), and IDENTIFIER() binds a NAME from a parameter
    // — the "same query over N tables" template a pipeline scheduler
    // emits. The oracle inlines both bindings by hand: parameter
    // passing must have zero semantic effect.
    "sql_parameterized" -> ((s, d) =>
      s.sql(
        """SELECT o_orderpriority, count(*) AS n_orders,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE)
          |    AS sum_price
          |FROM IDENTIFIER(:tbl)
          |WHERE o_totalprice > :floor
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
        Map("tbl" -> view(s, d, "orders"), "floor" -> 150000.0))),

    // SQL pipe syntax (Spark 4): the |>-chained relational form —
    // each stage consumes the previous result top-to-bottom, the way
    // the engine's own DataFrame API composes. Same plan as the
    // classic spelling (the parser desugars stages into the identical
    // logical tree), proven by the oracle being the classic GROUP BY.
    "sql_pipe_syntax" -> ((s, d) =>
      s.sql(s"""
        FROM ${view(s, d, "lineitem")}
        |> WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |> AGGREGATE count(*) AS n_rows,
             CAST(sum(CAST(l_quantity AS DECIMAL(18, 2))) AS DOUBLE)
               AS sum_qty
           GROUP BY l_returnflag, l_linestatus
        |> ORDER BY l_returnflag, l_linestatus""")),

    // GROUP BY ALL (r9): the analyzer infers the grouping set from the
    // non-aggregate select items — the DuckDB-pioneered shorthand
    // Spark 4 adopted; the SAME SQL text (modulo view name) runs in
    // both engines, so this operator is oracle-paired on the literal
    // feature, not a desugared equivalent. The plan is the ordinary
    // partial+final hash aggregate (syntax layer only).
    "sql_group_by_all" -> ((s, d) =>
      s.sql(s"""
        SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
          CAST(sum(CAST(l_quantity AS DECIMAL(18, 2))) AS DOUBLE)
            AS sum_qty
        FROM ${view(s, d, "lineitem")}
        GROUP BY ALL
        ORDER BY ALL""")),

    // Inline VALUES table (r9): a literal lookup/decode table spliced
    // into the query text and joined against a fixture table — the
    // "small dim that lives in the SQL, not in storage" pattern
    // (status-code decodes, enum labels). Catalyst plans the VALUES as
    // a LocalRelation, so the join broadcasts it for free; at 100 TB
    // the fact side streams map-side against the in-plan literal dim.
    "sql_values_inline" -> ((s, d) =>
      s.sql(s"""
        SELECT v.rk, v.zone, count(*) AS n_nations
        FROM ${view(s, d, "nation")} n
        JOIN (SELECT * FROM VALUES
            (0, 'alpha'), (1, 'beta'), (2, 'gamma'),
            (3, 'delta'), (4, 'epsilon') AS t(rk, zone)) v
          ON n.n_regionkey = v.rk
        GROUP BY v.rk, v.zone
        ORDER BY v.rk""")),

    // DISTINCT ON semantics (r9): one argmax row per key — DuckDB has
    // the literal `DISTINCT ON (key) ... ORDER BY key, tiebreak`
    // surface; Spark's equivalent spelling is the rn=1 window slice.
    // Both pick the SAME row because the ORDER BY is a total order
    // (price DESC then orderkey ASC breaks all ties). One
    // hash-partitioned window, no global sort: at 100 TB this is a
    // single shuffle on o_custkey + per-partition sort, and the rn=1
    // filter collapses each group before any downstream exchange.
    "sql_distinct_on" -> ((s, d) =>
      s.sql(s"""
        SELECT o_custkey, o_orderkey, top_price FROM (
          SELECT o_custkey, o_orderkey, o_totalprice AS top_price,
            row_number() OVER (PARTITION BY o_custkey
              ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
          FROM ${view(s, d, "orders")})
        WHERE rn = 1
        ORDER BY o_custkey""")),

    // FILTER clause (r9): the ANSI per-aggregate predicate — one scan,
    // many differently-filtered aggregates (the pivot-without-pivot
    // spelling analysts write daily). The SAME SQL text runs in both
    // engines. Catalyst folds each FILTER into the aggregate's
    // conditional update, so the plan stays ONE partial+final hash
    // aggregate over one scan — no per-aggregate passes at any scale.
    "sql_filter_clause" -> ((s, d) =>
      s.sql(s"""
        SELECT l_returnflag,
          count(*) AS n_all,
          count(*) FILTER (WHERE l_quantity >= 25) AS n_bulk,
          count(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
            FILTER (WHERE l_tax > 0.04) AS DOUBLE) AS taxed_price
        FROM ${view(s, d, "lineitem")}
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    // Join-strategy hint surface (r9): the /*+ BROADCAST */ comment
    // hint — the knob users reach for when statistics mislead the
    // planner. The hint changes the PLAN, never the result: the
    // oracle runs the same join hint-free, and SqlSyntaxSpec asserts
    // the hinted plan actually broadcasts while the value surface
    // stays identical. Per-nation order revenue through a 25-row dim
    // the hint pins to the build side.
    "sql_join_hint" -> ((s, d) =>
      s.sql(s"""
        SELECT /*+ BROADCAST(n) */ n.n_name,
          count(*) AS n_orders,
          CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            AS revenue
        FROM ${view(s, d, "orders")} o
        JOIN ${view(s, d, "customer")} c ON o.o_custkey = c.c_custkey
        JOIN ${view(s, d, "nation")} n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        ORDER BY n.n_name""")),

    // Named WINDOW clause (r9): define the frame spec once, reference
    // it from several window functions — the de-duplication feature
    // every hand-written analytics query leans on. The SAME window
    // text drives a rank, a running sum, and a lag in both engines;
    // because all three share one named spec, Catalyst plans ONE
    // Window node over one (o_custkey) sort — the clause is not just
    // sugar, it is how users guarantee the single-shuffle plan.
    "sql_named_window" -> ((s, d) =>
      s.sql(s"""
        SELECT o_custkey, o_orderkey,
          row_number() OVER w AS rn,
          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS run_cents,
          lag(o_orderkey) OVER w AS prev_order
        FROM ${view(s, d, "orders")}
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)
        ORDER BY o_custkey, rn""")),

    // ORDER BY ALL (r9): the companion of GROUP BY ALL — sort by
    // every select-list column left to right, the ad-hoc-analysis
    // idiom that makes paged output deterministic without naming
    // columns twice. SAME SQL text in both engines; all sorted
    // columns are non-null (the engines disagree on default NULL
    // placement, so a null would be an oracle trap, stated here so
    // nobody "simplifies" the projection later).
    "sql_order_by_all" -> ((s, d) =>
      s.sql(s"""
        SELECT c_mktsegment, c_nationkey, count(*) AS n,
          CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
            AS bal_cents
        FROM ${view(s, d, "customer")}
        GROUP BY ALL
        ORDER BY ALL"""))
  )

  val oracle: Map[String, String] = Map(
    "sql_lateral_topk" ->
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c,
        |LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        |) t
        |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin,
    "sql_recursive_cte" ->
      """WITH RECURSIVE bounds AS (
        |  SELECT min(epoch_us(ts) // 86400000000) AS d0,
        |         max(epoch_us(ts) // 86400000000) AS d1
        |  FROM events
        |), starts AS (
        |  SELECT unnest(generate_series(d0, d1, 30)) AS blk0, d1
        |  FROM bounds WHERE d0 IS NOT NULL
        |), cal(day, blk_end) AS (
        |  SELECT blk0, least(blk0 + 29, d1) FROM starts
        |  UNION ALL
        |  SELECT c.day + 1, c.blk_end FROM cal c WHERE c.day < c.blk_end
        |), daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS n
        |  FROM events GROUP BY 1
        |)
        |SELECT c.day, coalesce(d.n, 0) AS n
        |FROM cal c LEFT JOIN daily d ON c.day = d.day
        |ORDER BY c.day""".stripMargin,
    "sql_exists_subquery" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000.0)
        |ORDER BY c_custkey""".stripMargin,
    "sql_scalar_subquery" ->
      """SELECT n_nationkey, n_name,
        |  (SELECT count(*) FROM customer c
        |   WHERE c.c_nationkey = n.n_nationkey) AS n_cust
        |FROM nation n
        |ORDER BY n_nationkey""".stripMargin,
    "sql_not_in_subquery" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE p_partkey NOT IN (
        |  SELECT l_partkey FROM lineitem WHERE l_quantity > 45.0)
        |ORDER BY p_partkey""".stripMargin,
    "sql_exists_or" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)
        |  OR c.c_acctbal < 0.0
        |ORDER BY c_custkey""".stripMargin,
    // the UDF body inlined by hand — the function boundary must have
    // zero numeric effect
    "sql_udf_create" ->
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12, 2)) *
        |    (CAST(1.00 AS DECIMAL(3, 2)) - CAST(l_discount AS DECIMAL(4, 2))))
        |    AS DOUBLE) AS sum_disc,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // both parameter bindings inlined by hand — parameter passing must
    // have zero semantic effect
    "sql_parameterized" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders
        |WHERE o_totalprice > 150000.0
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // classic spelling of the pipe chain — the desugaring must be a
    // pure syntax layer
    "sql_pipe_syntax" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18, 2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // the literal feature: DuckDB runs the same GROUP BY ALL text
    "sql_group_by_all" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18, 2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY ALL
        |ORDER BY ALL""".stripMargin,
    "sql_values_inline" ->
      """SELECT v.rk, v.zone, count(*) AS n_nations
        |FROM nation n
        |JOIN (VALUES (0, 'alpha'), (1, 'beta'), (2, 'gamma'),
        |  (3, 'delta'), (4, 'epsilon')) AS v(rk, zone)
        |  ON n.n_regionkey = v.rk
        |GROUP BY v.rk, v.zone
        |ORDER BY v.rk""".stripMargin,
    // DuckDB's literal DISTINCT ON surface; the tiebreak ORDER BY is a
    // total order so it selects the identical row to Spark's rn=1.
    "sql_distinct_on" ->
      """SELECT DISTINCT ON (o_custkey)
        |  o_custkey, o_orderkey, o_totalprice AS top_price
        |FROM orders
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey ASC""".stripMargin,
    // identical SQL text — the literal ANSI FILTER clause
    "sql_filter_clause" ->
      """SELECT l_returnflag,
        |  count(*) AS n_all,
        |  count(*) FILTER (WHERE l_quantity >= 25) AS n_bulk,
        |  count(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
        |    FILTER (WHERE l_tax > 0.04) AS DOUBLE) AS taxed_price
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // hint-free: the hint may only change the plan, never the values
    "sql_join_hint" ->
      """SELECT n.n_name, count(*) AS n_orders,
        |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name
        |ORDER BY n.n_name""".stripMargin,
    // the same named-window text, minus the view suffix; the windowed
    // BIGINT sum comes back HUGEINT, hence the CAST on both sides
    "sql_named_window" ->
      """SELECT o_custkey, o_orderkey,
        |  row_number() OVER w AS rn,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS run_cents,
        |  lag(o_orderkey) OVER w AS prev_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, rn""".stripMargin,
    // identical text — ALL expands to the same column list
    "sql_order_by_all" ->
      """SELECT c_mktsegment, c_nationkey, count(*) AS n,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS bal_cents
        |FROM customer
        |GROUP BY ALL
        |ORDER BY ALL""".stripMargin
  )
}
