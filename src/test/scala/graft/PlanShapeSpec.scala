package graft

/** SURVEY.md §5.2.3 — plan-shape assertions: the optimizations the 100 TB
  * design depends on must actually engage in the physical plan.
  */
class PlanShapeSpec extends SparkSpecBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("scan_parquet_pruned reads only the projected columns") {
    val p = plan("scan_parquet_pruned")
    assert(p.contains("ReadSchema"))
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("l_orderkey") && read.contains("l_linenumber"))
    assert(!read.contains("l_extendedprice") && !read.contains("l_shipdate"))
  }

  test("filter_comparison pushes predicates into the parquet scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val pushed = SparkEntry.queries("filter_comparison")(spark, sfDir)
      .queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec => f.metadata("PushedFilters")
      }.mkString
    assert(pushed.contains("GreaterThan(l_quantity,30.0)"), pushed)
    assert(pushed.contains("LessThanOrEqual(l_tax,0.05)"), pushed)
  }

  test("join_inner_broadcast uses a broadcast hash join") {
    assert(plan("join_inner_broadcast").contains("BroadcastHashJoin"))
  }

  test("sort_limit_topk fuses to TakeOrderedAndProject") {
    assert(plan("sort_limit_topk").contains("TakeOrderedAndProject"))
  }

  test("agg_group_sums does partial (map-side) + final hash aggregation") {
    val p = plan("agg_group_sums")
    assert(p.contains("HashAggregate"))
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "expected partial+final HashAggregate pair")
  }

  test("flagship plan keeps the scan inside whole-stage codegen") {
    // under AQE the codegen stages only appear in the FINAL plan, so
    // execute first, then inspect
    val df = Tables.flagship(spark, sfDir)
    df.collect()
    // codegen stages print as "*(n)" node prefixes in the final plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true") && p.contains("*("), p)
  }

  test("SQL subqueries decorrelate to joins, never per-row re-execution") {
    // EXISTS → left semi; NOT IN → null-aware anti; scalar → outer
    // join + aggregate. None may survive as an uncorrelated-subquery
    // node executing the inner query per outer row.
    val exists = plan("sql_exists_subquery")
    assert(exists.contains("LeftSemi"), exists)
    val notIn = plan("sql_not_in_subquery")
    assert(notIn.contains("LeftAnti"), notIn)
    val scalar = plan("sql_scalar_subquery")
    assert(scalar.contains("HashAggregate") &&
      (scalar.contains("LeftOuter") || scalar.contains("BroadcastHashJoin")),
      scalar)
    for (p <- Seq(exists, notIn, scalar))
      assert(!p.contains("CartesianProduct"), p)
  }

  test("cluster_by_key layout lets the scan skip non-matching row groups") {
    import org.apache.spark.sql.functions.col
    // build the clustered layout via the operator itself
    SparkEntry.queries("cluster_by_key")(spark, sfDir).collect()
    val dir = graft.TempDirs.scoped("clustered", sfDir)
    val total = spark.read.parquet(dir).count()
    val df = spark.read.parquet(dir).filter(col("l_partkey") <= 25L)
    df.collect()
    val scanned = df.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numOutputRows").value
    }.sum
    // 8 disjoint partkey ranges: the selective filter must read only
    // the first range's row group(s) (± a boundary-straddling file),
    // never the full table
    assert(scanned > 0 && scanned < total / 3,
      s"scan read $scanned of $total rows — row-group pruning did not engage")
  }

  test("join_range_binned is an equi join on bins, not a nested loop") {
    val p = plan("join_range_binned")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("LSH dedup joins never degenerate to cartesian products") {
    for (name <- Seq("dedup_minhash", "dedup_simhash",
      "dedup_ngram_jaccard", "dedup_embedding_cosine")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"),
        s"$name contains a cartesian product")
    }
  }

  test("LSH candidate joins are id-only equi joins with no forced " +
    "corpus-side broadcast") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    for (name <- Seq("dedup_embedding_cosine", "ann_lsh_topk")) {
      val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
      val p = qe.executedPlan.toString
      // never a product join: every join (bucket self-join and vector
      // join-backs alike) planned as an equi hash/sort-merge join
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$name:\n$p")
      // no hint-forced broadcast whose build side is the corpus: the
      // only permissible hint is ann_lsh_topk's probe band set, which
      // is bounded by the operator definition (vec_id < LITERAL) —
      // any other broadcast must be AQE-elected at runtime, not
      // mandated in the logical plan. "Bounded" requires a filter
      // comparing vec_id to a LITERAL: the bucket join's
      // attribute-vs-attribute `a.vec_id < b.vec_id` condition must
      // NOT qualify (a re-hinted corpus-sized candidate table would
      // contain that filter and false-pass a laxer check). BOTH
      // hinted sides of a join are checked.
      import org.apache.spark.sql.catalyst.expressions.{
        AttributeReference, LessThan, Literal}
      def bounded(side: org.apache.spark.sql.catalyst.plans.logical
          .LogicalPlan): Boolean =
        side.collectFirst {
          case f: Filter if f.condition.collectFirst {
            case LessThan(a: AttributeReference, _: Literal)
              if a.name == "vec_id" => ()
          }.isDefined => ()
        }.isDefined
      val hintedSides = qe.optimizedPlan.collect {
        case j: Join =>
          Seq(j.hint.leftHint.exists(_.strategy.isDefined) -> j.left,
            j.hint.rightHint.exists(_.strategy.isDefined) -> j.right)
            .collect { case (true, side) => side }
      }.flatten
      assert(hintedSides.forall(bounded),
        s"$name hints a broadcast of an unbounded (corpus-sized) side")
    }
  }

  test("topk_per_group pushes the rank limit below the window") {
    // WindowGroupLimit keeps only the per-partition top-k BEFORE the
    // full window computation — the difference between shuffling k
    // rows per group and shuffling every row at 100 TB
    assert(plan("topk_per_group").contains("WindowGroupLimit"))
  }

  test("MinHash sketch aggregate runs partial+final object hash agg") {
    val p = plan("source_minhash_sim")
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_graft_minhash_sketch"),
      "expected map-side partial sketch aggregation")
  }

  test("heavy-hitters sketch aggregates map-side; recount joins the " +
    "broadcast candidate set") {
    val p = plan("text_heavy_hitters")
    // the MG sketch must partial-aggregate before the exchange (256
    // entries per partial cross the shuffle, never the term stream)
    assert(p.contains("partial_graft_misra_gries"),
      "expected map-side partial Misra-Gries sketch aggregation:\n" + p)
    // the exact recount is gated by a broadcast of the candidate set
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("bucketed join needs no shuffle of either side") {
    // build the bucketed tables via the operator itself
    SparkEntry.queries("join_bucketed")(spark, sfDir).count()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast so the bucket-co-located sort-merge path is
      // what the planner must choose
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val tag = graft.TempDirs.scoped("bucketed", sfDir)
        .replaceAll("[^A-Za-z0-9]", "_")
      val joined = spark.table(s"graft_orders_b_$tag")
        .join(spark.table(s"graft_lineitem_b_$tag"),
          org.apache.spark.sql.functions.col("o_orderkey") ===
            org.apache.spark.sql.functions.col("l_orderkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"),
        "bucketed join should not shuffle either side")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("sample_hash is a pure map filter — no Exchange before the sort") {
    // the only exchange allowed is the final presentation ORDER BY
    val p = plan("sample_hash")
    assert(p.indexOf("Exchange") == p.lastIndexOf("Exchange"),
      s"expected exactly one Exchange (the output sort):\n$p")
  }

  test("shuffle_global is one range-partitioned sort") {
    // without SmallFinalSort, as for inputs above its gate: this checks
    // the range-partitioned sort that large inputs get
    withoutSmallFinalSort {
      val p = plan("shuffle_global")
      assert(p.contains("rangepartitioning"), p)
      assert(p.indexOf("Exchange") == p.lastIndexOf("Exchange"),
        s"expected exactly one Exchange:\n$p")
    }
  }

  test("pack_token_budget shuffles once on the shard key") {
    val p = plan("pack_token_budget")
    assert(p.contains("Window"), p)
    // one hash exchange for the window, one range exchange for the
    // presentation ORDER BY — nothing else
    assert("Exchange".r.findAllIn(p).size <= 2, p)
  }

  test("codegen signature expressions stay inside WholeStageCodegen") {
    val p = plan("ann_lsh_topk")
    assert(p.contains("graft_sign_projection"), p)
    assert(!p.contains("CartesianProduct"), p)
    val q = plan("dedup_ngram_jaccard")
    assert(q.contains("graft_sorted_intersect_count"), q)
  }

  test("contamination_ngram broadcasts the benchmark gram set") {
    val p = plan("contamination_ngram")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dedup_incremental anti-joins on digests, no nested loop") {
    val p = plan("dedup_incremental")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("snapshot_diff is one full-outer key join, no cartesian") {
    val p = plan("snapshot_diff")
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("ts_streaks shares the user_id exchange across both windows") {
    // hash(user_id) satisfies the (user_id, event_type) window and both
    // aggregates (subset rule) — one hash exchange + the output sort
    val p = plan("ts_streaks")
    assert(p.contains("Window"), p)
    assert("Exchange".r.findAllIn(p).size <= 2, p)
  }

  test("ts_sessionize shuffles once on user_id end to end") {
    val p = plan("ts_sessionize")
    assert(p.contains("Window"), p)
    assert("Exchange".r.findAllIn(p).size <= 2, p)
  }

  test("cluster_zorder layout prunes row groups in BOTH dimensions") {
    import org.apache.spark.sql.functions.col
    SparkEntry.queries("cluster_zorder")(spark, sfDir).collect()
    val dir = graft.TempDirs.scoped("zordered", sfDir)
    val total = spark.read.parquet(dir).count()
    def scanned(f: org.apache.spark.sql.Column): Long = {
      val df = spark.read.parquet(dir).filter(f)
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
      }.sum
    }
    // z-interleave keeps row-group min/max compact in each dim, so a
    // single-dim filter prunes too — the property a 1-D sort can only
    // give its own column. 16 z-ranges = 4 shared split bits, ~2 per
    // dim: each selective single-dim filter must skip at least half
    // the row groups.
    val byDate = scanned(
      col("o_orderdate") < org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.lit("1996-01-01")))
    val byPrice = scanned(col("o_totalprice") < 50000.0)
    assert(byDate > 0 && byDate < total / 2,
      s"date filter read $byDate of $total")
    assert(byPrice > 0 && byPrice < total / 2,
      s"price filter read $byPrice of $total")
  }

  test("scan_parquet_bloom prunes row groups that min/max cannot") {
    import org.apache.spark.sql.functions.col
    // build the hash-ordered bloom layout (writeOnce)
    SparkEntry.queries("scan_parquet_bloom")(spark, sfDir).collect()
    val dir = graft.TempDirs.scoped("pqbloom", sfDir)
    val total = spark.read.parquet(dir).count()
    def scanned(): Long = {
      val df = spark.read.parquet(dir).filter(col("l_orderkey") === 1L)
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
      }.sum
    }
    // the layout is hash-ordered, so every row group's min/max spans
    // the whole key domain — any pruning below the full table proves
    // the BLOOM filters engaged; require at least half skipped
    val rows = scanned()
    assert(rows > 0 && rows < total / 2,
      s"bloom point-lookup read $rows of $total rows — filters not engaging")
  }

  test("join_dpp prunes fact partitions from the runtime dim filter") {
    import org.apache.spark.sql.functions.col
    val df = SparkEntry.queries("join_dpp")(spark, sfDir)
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.contains("dynamicpruning"), planStr)
    df.collect()
    // the A and R directories are read, the N directory is skipped.
    // AQE wraps the executed plan (AdaptiveSparkPlanExec is a leaf
    // node), so descend into adaptive plans and query stages to reach
    // the fact scan's metrics.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val dir = graft.TempDirs.scoped("dppfact", sfDir)
    val total = spark.read.parquet(dir).count()
    val scanned = scans(df.queryExecution.executedPlan)
      .filter(_.metadata("Location").contains("dppfact"))
      .map(_.metrics("numOutputRows").value).sum
    assert(scanned > 0 && scanned < total,
      s"DPP scan read $scanned of $total rows — no partitions skipped")
  }

  test("join_runtime_bloom pushes might_contain onto the fact scan") {
    val df = SparkEntry.queries("join_runtime_bloom")(spark, sfDir)
    // InjectRuntimeFilter fires at logical optimization — the bloom
    // probe must appear on the lineitem (application) side BEFORE the
    // shuffle, not merely anywhere in the plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"),
      s"no runtime bloom filter was injected:\n$p")
    assert(df.collect().head.getLong(0) > 0)
  }

  test("join_skew_aqe's executed plan actually split the skewed partition") {
    val df = SparkEntry.queries("join_skew_aqe")(spark, sfDir)
    df.collect()
    // after execution AQE's final plan is visible; OptimizeSkewedJoin
    // marks the SMJ it rewrote with skew=true and the shuffle read
    // with "skewed" split metrics — either marker proves the runtime
    // split happened (vs merely being enabled)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("skew=true"),
      s"AQE did not split the skewed partition:\n$p")
  }

  test("sql_exists_or plans the ExistenceJoin variant") {
    val p = plan("sql_exists_or")
    assert(p.contains("ExistenceJoin"), p)
  }

  test("agg_skew_kurt does partial+final hash aggregation") {
    val p = plan("agg_skew_kurt")
    assert(p.contains("partial_"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }
}
