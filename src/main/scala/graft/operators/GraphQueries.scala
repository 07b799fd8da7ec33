package graft.operators

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.P — graph analytics over a derived similarity graph.
  *
  * Football reading: a "plays-like" supplier network — clubs/suppliers
  * that stock the same parts are neighbors; triangles and PageRank
  * surface the tightly-coupled clusters and the most central vendors
  * (derived surface — `/root/reference/README.md:2`).
  *
  * Graph construction is the scale decision. The naive co-occurrence
  * graph ("edge iff two suppliers share ≥1 part") is degenerate at
  * every fixture scale — it converges to the COMPLETE graph K_N
  * (measured: 499 500 edges over 1 000 suppliers at sf0.1), and any
  * fixed count threshold is scale-dependent the other way (at 10× the
  * data every pair clears it). The scale-invariant construction is the
  * top-k similarity digraph: each node keeps edges to its K=3
  * strongest co-suppliers by (shared-part count DESC, id) — bounded
  * out-degree K regardless of corpus size, the k-NN-graph shape every
  * large-scale graph pipeline uses. Downstream cost is then O(N·K),
  * not O(N²).
  *
  * Scale notes (100 TB):
  * - The co-occurrence count stage is the one data-proportional cost:
  *   Σ_parts C(suppliers_per_part, 2) pairs through one partial-agg
  *   shuffle (map-side combine on (u, v)). Hot parts with huge
  *   supplier lists are the skew risk — capped at `HotPartCap`
  *   suppliers per part before the self-join (r8; same playbook as
  *   the dedup blocking buckets, SURVEY §2.K), so per-part pair count
  *   is bounded by a constant at any corpus size.
  * - The edge table is a build-once corpus artifact
  *   (`Tables.artifact`, same offline-build/online-read split as
  *   the cc-labels and IVF artifacts): three queries consume it, and
  *   a triangle join that referenced the raw subtree would otherwise
  *   re-run the pair stage once per self-join alias.
  * - Triangle counting uses degree-ordered orientation (each edge
  *   points from the (degree, id)-smaller endpoint): every wedge is
  *   enumerated at its π-minimum vertex, bounding intermediate size by
  *   Σ outdeg² — the arboricity-bounded classic, never all-pairs.
  * - PageRank runs a FIXED 3 iterations with integer micro-unit
  *   arithmetic (rank mass 10^12, contributions via `div`): integer
  *   sums are associative, so the result is partitioning- and
  *   order-invariant — byte-identical in DuckDB — where a double
  *   accumulation would hash-diverge on summation order. Each
  *   iteration is one join + one partial-agg shuffle over the O(N·K)
  *   edge list; lineage stays linear off the parquet artifact.
  */
object GraphQueries {

  /** Out-degree cap of the similarity digraph. */
  private val K = 3

  /** Hot-part cap: at most this many suppliers per part enter the
    * co-occurrence pair join (the 20 smallest suppkeys — deterministic,
    * so the DuckDB oracle mirrors it exactly). Without it the pair
    * stage is Σ_parts C(suppliers_per_part, 2) with a QUADRATIC blowup
    * on any hot part (r7 VERDICT: 87 M pairs / 45 s at sf1); capped,
    * no part contributes more than C(20,2) = 190 pairs regardless of
    * corpus size — the same skew playbook as the dedup blocking-bucket
    * caps (SURVEY §2.K). At sf0.001 (≤ 10 suppliers/part) the cap is a
    * no-op; at larger sfs it deterministically sparsifies the graph,
    * identically in both engines.
    */
  private val HotPartCap = 20

  /** Integer PageRank: total rank mass, damping 0.85 as 85/100. */
  private val Mass = 1000000000000L

  /** Top-K co-supplier digraph, built once per (JVM, input dir) as a
    * parquet artifact. Columns: u, v, shared_parts (u → its K
    * strongest neighbors).
    */
  private def edgesTopK(s: SparkSession, d: String): DataFrame =
    artifact(s, "graph_edges", d) {
      val ps = lineitem(s, d)
        .select(col("l_partkey").as("p"), col("l_suppkey").as("sup"))
        .distinct()
      // hot-part cap BEFORE the self-join (see HotPartCap scaladoc);
      // the row_number shuffle partitions on p, which the pair join
      // then reuses — no extra exchange
      val capW = Window.partitionBy(col("p")).orderBy(col("sup"))
      val psc = ps.withColumn("cap_rn", row_number().over(capW))
        .filter(col("cap_rn") <= HotPartCap)
        .drop("cap_rn")
      val pairs = psc.as("a")
        .join(psc.as("b"),
          col("a.p") === col("b.p") && col("a.sup") < col("b.sup"))
        .groupBy(col("a.sup").as("u"), col("b.sup").as("v"))
        .agg(count(lit(1)).as("shared_parts"))
      val sym = pairs.select(col("u"), col("v"), col("shared_parts"))
        .unionByName(pairs.select(col("v").as("u"), col("u").as("v"),
          col("shared_parts")))
      val w = Window.partitionBy(col("u"))
        .orderBy(col("shared_parts").desc, col("v").asc)
      sym.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= K)
        .drop("rn")
    }

  /** Symmetrized distinct edge set (x, y) — BOTH directions of every
    * top-k edge. Shared by BFS and link prediction so the two queries
    * can never diverge on what "the undirected graph" means.
    */
  private def undirected(e: DataFrame): DataFrame =
    e.select(col("u").as("x"), col("v").as("y"))
      .unionByName(e.select(col("v").as("x"), col("u").as("y")))
      .distinct()

  /** Undirected edge set of the top-K digraph (either direction
    * counts), oriented low→high by the (degree, id) total order π.
    * `dhi` carries π's first component for the hi endpoint so the
    * triangle wedge join can compare π without re-joining degrees.
    */
  private def oriented(e: DataFrame): DataFrame = {
    val und = e.select(least(col("u"), col("v")).as("x"),
      greatest(col("u"), col("v")).as("y")).distinct()
    val deg = und.select(col("x").as("n"))
      .unionByName(und.select(col("y").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("dg"))
    val xFirst = col("dx.dg") < col("dy.dg") ||
      (col("dx.dg") === col("dy.dg") && col("x") < col("y"))
    und.join(deg.as("dx"), col("x") === col("dx.n"))
      .join(deg.as("dy"), col("y") === col("dy.n"))
      .select(
        when(xFirst, col("x")).otherwise(col("y")).as("lo"),
        when(xFirst, col("y")).otherwise(col("x")).as("hi"),
        when(xFirst, col("dy.dg")).otherwise(col("dx.dg")).as("dhi"))
  }

  /** The narrow 8-partition child session the build loops
    * (`graph_wcc`, `graph_kcore`, `dedup_cc_clusters`) run on: rounds
    * of tiny joins over an edge table at the caller's partition count
    * are pure task-scheduling overhead (the k-core peel measured 12 s
    * cold at sf0.1 on 32 shuffle partitions, ~3 s on 8), the knob a
    * cluster job sets between a corpus-sized stage and an edge-sized
    * iterative one.
    */
  private[operators] def buildSession(s: SparkSession): SparkSession =
    graft.Sessions.child(s, "narrow_build")("spark.sql.shuffle.partitions" -> "8")

  /** Connected components of the undirected graph whose edges are the
    * rows (a, b) of `pairs`: one row (v, label = min reachable v) per
    * vertex on any pair, handed to `write`. The one min-label
    * propagation loop of the engine, shared by `graph_wcc` and
    * `dedup_cc_clusters`.
    *
    * `pairs` is persisted: it feeds both directions of the edge list
    * and every propagation round, and without it the subplan that
    * derives it re-executes once per round (Spark does no cross-branch
    * common-subplan reuse). 4 lazy rounds (enough for every observed
    * fixture diameter), then rounds with persisted labels TO FIXPOINT:
    * the result matches the full transitive closure at ANY diameter,
    * while lineage stays linear (each round reads the previous
    * round's cache). Each extra round costs one tiny count, so the
    * cap is generous: a diameter beyond 100 means the graph
    * construction broke, and failing loudly beats silently wrong
    * components. Every cache (`pairs`, each round's labels) is
    * released on every exit path, so nothing stays in the shared
    * CacheManager after the build, even across build retries.
    */
  private[operators] def componentLabels(pairs: DataFrame, what: String)(
      write: DataFrame => Unit): Unit = {
    val p = pairs.toDF("a", "b").persist()
    val edges = p.select(col("a").as("src"), col("b").as("dst"))
      .union(p.select(col("b").as("src"), col("a").as("dst")))
    val verts = edges.select(col("src").as("v")).distinct()
    // self-loops keep each vertex's own label in the min
    val withSelf = edges
      .union(verts.select(col("v").as("src"), col("v").as("dst")))
    def propagate(l: DataFrame): DataFrame =
      withSelf.join(l, col("dst") === col("v"))
        .groupBy(col("src"))
        .agg(min(col("label")).as("label"))
        .select(col("src").as("v"), col("label"))
    var labels = verts.select(col("v"), col("v").as("label"))
    try {
      for (_ <- 1 to 4) labels = propagate(labels)
      labels = labels.persist()
      var changed = -1L
      var rounds = 4
      while (changed != 0 && rounds < 100) {
        val next = propagate(labels).persist()
        try {
          changed = next.as("n")
            .join(labels.as("p"), col("n.v") === col("p.v"))
            .filter(col("n.label") =!= col("p.label"))
            .count()
        } catch { case t: Throwable => next.unpersist(); throw t }
        labels.unpersist()
        labels = next
        rounds += 1
      }
      if (changed != 0)
        throw new IllegalStateException(
          s"$what: labels not converged after $rounds rounds")
      write(labels)
    } finally {
      labels.unpersist()
      p.unpersist()
    }
  }

  /** Weakly-connected-component labels (v, label = min reachable id)
    * of the undirected best-match graph, materialized as a build-once
    * parquet artifact.
    */
  private def wccLabels(s: SparkSession, d: String): DataFrame =
    parquet(s, graft.TempDirs.once("graph_wcc", d) { dir =>
      val cc = buildSession(s)
      // best-match (1-NN) subgraph of the top-K artifact: each node
      // keeps only its strongest tie, which fragments the network
      // into genuine match-chain communities (the full top-3 graph is
      // one giant component at every fixture scale — a degenerate
      // clustering). Top-1 ⊆ top-3, so this is a pure re-rank of the
      // existing artifact, no second pair pass.
      val w1 = Window.partitionBy(col("u"))
        .orderBy(col("shared_parts").desc, col("v").asc)
      val nn1 = edgesTopK(cc, d).withColumn("rn", row_number().over(w1))
        .filter(col("rn") === 1)
        .select(col("u"), col("v"))
      componentLabels(nn1, "graph_wcc")(
        _.write.mode("overwrite").parquet(dir))
    })

  /** Peel rounds / threshold of the k-core build (see `graph_kcore`). */
  private val KcoreRounds = 8
  private val KcoreK = 3

  /** Surviving 3-core nodes with their in-core degrees, after exactly
    * `KcoreRounds` peels of the undirected top-K graph. Build-once
    * parquet artifact; per-round persist keeps lineage linear.
    */
  private def kcoreNodes(s: SparkSession, d: String): DataFrame =
    artifact(s, "graph_kcore", d) {
      // localCheckpoint per round, NOT persist: each round references
      // und twice (degree count + edge filter), so without lineage
      // truncation the LOGICAL plan doubles per round — 2^rounds
      // subtrees that wedge the optimizer/plan-stringify long before
      // execution (persist only caches execution results; analysis
      // still walks the full tree). The eager checkpoint pins each
      // round to a LogicalRDD: 8 tiny jobs, linear plans.
      val cc = buildSession(s)
      var und = undirected(edgesTopK(cc, d)).localCheckpoint()
      // early exit once a round removes nothing: peeling only ever
      // deletes edges, so an unchanged edge count IS the fixpoint and
      // the remaining rounds are no-ops by construction — identical
      // output to the full 8, ~2 rounds instead of 8 on the fixtures
      var prevCnt = und.count()
      var round = 0
      var stable = false
      while (round < KcoreRounds && !stable) {
        val keep = und.groupBy(col("x")).agg(count(lit(1)).as("dg"))
          .filter(col("dg") >= KcoreK).select(col("x"))
        und = und.join(keep, Seq("x"), "left_semi")
          .join(keep.withColumnRenamed("x", "y"), Seq("y"), "left_semi")
          .select(col("x"), col("y"))
          .localCheckpoint()
        val cnt = und.count()
        stable = cnt == prevCnt
        prevCnt = cnt
        round += 1
      }
      und.groupBy(col("x")).agg(count(lit(1)).as("core_degree"))
    }

  val queries: Map[String, Q] = Map(
    // Weakly connected components (r9): min-label propagation to
    // FIXPOINT over the undirected BEST-MATCH (1-NN) subgraph — the
    // community/partition primitive (dedup_cc_clusters proved the
    // algorithm on the near-dup graph; this is its graph-analytics
    // surface on the supplier network, with component sizes joined
    // on; 8 match-chain communities over 100 suppliers at sf0.01 —
    // the full top-3 graph is one giant component, a degenerate
    // clustering). The oracle is the full recursive-CTE transitive
    // closure — correct at ANY diameter, so the fixpoint loop is
    // checked, not just an unrolled constant. Per round: one join +
    // one partial agg over the O(N) 1-NN edge set.
    "graph_wcc" -> ((s, d) => {
      val l = wccLabels(s, d)
      val sizes = l.groupBy(col("label")).agg(count(lit(1)).as("comp_size"))
      l.join(sizes, "label")
        .select(col("v").as("supplier"), col("label").as("component"),
          col("comp_size"))
        .orderBy(col("supplier"))
    }),
    // Label propagation communities (r13): 3 SYNCHRONOUS rounds of
    // "adopt the most frequent neighbor label" over the full
    // undirected top-K graph — the near-linear community-detection
    // baseline (Raghavan et al. 2007), the denser-graph complement of
    // graph_wcc's 1-NN match chains (WCC partitions by connectivity;
    // LPA partitions by neighborhood MAJORITY, so it splits the giant
    // component wcc's scaladoc calls degenerate). Determinism: the
    // argmax tie-breaks by (count DESC, label ASC) and rounds are
    // synchronous (round i reads only round i-1 labels), so the
    // result is partitioning/order-invariant and the oracle unrolls
    // the identical 3 rounds. Fixed rounds keep the plan static —
    // production iterates with a convergence delta (the cc-labels
    // checkpointed-rounds pattern). Per round: one join + one
    // map-combined count + one per-node row_number over O(N·K) rows.
    "graph_lpa" -> ((s, d) => {
      val und = undirected(edgesTopK(s, d))
      var labels = und.select(col("x").as("v")).distinct()
        .select(col("v"), col("v").as("label"))
      for (_ <- 1 to 3) {
        val w = Window.partitionBy(col("x"))
          .orderBy(col("cnt").desc, col("label"))
        labels = und
          .join(labels.withColumnRenamed("v", "y"), "y")
          .groupBy(col("x"), col("label"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("x").as("v"), col("label"))
      }
      val sizes = labels.groupBy(col("label"))
        .agg(count(lit(1)).as("comm_size"))
      labels.join(sizes, "label")
        .select(col("v").as("supplier"), col("label").as("community"),
          col("comm_size"))
        .orderBy(col("supplier"))
    }),

    // The graph construction IS the operator: per-node top-K strongest
    // co-suppliers. N·K rows out, deterministic tie-break (count DESC,
    // neighbor id).
    "graph_edges_topk" -> ((s, d) =>
      edgesTopK(s, d)
        .select(col("u").as("supplier"), col("v").as("neighbor"),
          col("shared_parts"))
        .orderBy(col("supplier"), col("shared_parts").desc, col("neighbor"))),

    // Per-node triangle participation, top 20 by (count DESC, id).
    // Wedge join at the π-min vertex of each triangle: e1=(a,b),
    // e2=(a,c) with π(b) < π(c), closed by the oriented edge (b,c)
    // (orientation guarantees it is stored exactly as lo=b, hi=c).
    "graph_triangle_count" -> ((s, d) => {
      // materialize the oriented edge list ONCE (r14, guide §2.4/§3.3):
      // `oriented` is itself a 2-join + distinct derivation, and the
      // wedge join references it through THREE aliases — without
      // truncation the optimizer plans (and the string dump carries)
      // three full copies of that subtree (64 Exchanges in the r13
      // plan; execution deduped some via ReusedExchange, but planning,
      // codegen and the non-reusable stages did not). The eager
      // localCheckpoint pins the O(N·K) rows to a LogicalRDD the three
      // aliases then scan — the kcore-loop pattern applied to a
      // self-join fan-out.
      val o = oriented(edgesTopK(s, d)).localCheckpoint()
      val tri = o.as("e1")
        .join(o.as("e2"),
          col("e1.lo") === col("e2.lo") &&
            (col("e1.dhi") < col("e2.dhi") ||
              (col("e1.dhi") === col("e2.dhi") &&
                col("e1.hi") < col("e2.hi"))))
        .join(o.as("e3"),
          col("e3.lo") === col("e1.hi") && col("e3.hi") === col("e2.hi"))
        .select(col("e1.lo").as("a"), col("e1.hi").as("b"),
          col("e2.hi").as("c"))
      tri.select(col("a").as("n"))
        .unionByName(tri.select(col("b").as("n")))
        .unionByName(tri.select(col("c").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("n_triangles"))
        .select(col("n").as("supplier"), col("n_triangles"))
        .orderBy(col("n_triangles").desc, col("supplier"))
        .limit(20)
    }),

    // Degree distribution of the undirected similarity graph (r8):
    // the first sanity plot of ANY graph pipeline — a top-k
    // construction must produce a right-bounded degree histogram
    // (out-degree ≤ K by construction; undirected degree can exceed K
    // only via in-edges), and a degenerate construction shows up here
    // before any downstream algorithm runs. One count aggregate over
    // the edge artifact, then a histogram of the counts — two tiny
    // shuffles over O(N·k) rows.
    "graph_degree_hist" -> ((s, d) => {
      val und = undirected(edgesTopK(s, d))
      und.groupBy(col("x")).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("degree"))
    }),

    // k-core decomposition (r12): iteratively peel nodes of
    // undirected degree < k (k = 3) until the remaining subgraph —
    // the 3-core, the standard dense-nucleus extraction (Seidman
    // 1983; community seeds, spam rings, influence cores) — is
    // stable. AT MOST 8 peel rounds with an unchanged-count early
    // exit (equal edge count IS the fixpoint — peeling only deletes);
    // the oracle unrolls the full 8, equal because a round past
    // fixpoint is a no-op, and the spec pins fixpoint equality. Built
    // once as a parquet artifact (the wcc playbook): per round one
    // map-combined degree count + two semi joins on node id over the
    // O(N·K) edge set, with per-round persist so lineage stays
    // LINEAR (re-deriving round i-1 twice per round would square the
    // subtree each iteration). At 100 TB the peel loop is the same
    // shape with a convergence-delta check per round — shuffle volume
    // ∝ surviving edges, monotonically shrinking.
    "graph_kcore" -> ((s, d) =>
      kcoreNodes(s, d)
        .select(col("x").as("supplier"), col("core_degree"))
        .orderBy(col("supplier"))),

    // Bounded-depth BFS: minimum hop distance from supplier 0 over
    // the undirected top-K graph, depth ≤ 4 (fixed rounds keep the
    // plan static; unreachable-within-4 nodes are excluded, which is
    // deterministic). Each round is one join + one min-combine over
    // the O(N·k) edge list — frontier state is the (node, dist)
    // table, never paths. The DuckDB mirror is a recursive CTE with a
    // level counter; its path enumeration and this round-unrolled
    // min-fold agree because min-over-paths ≤ 4 is the same quantity.
    "graph_bfs_hops" -> ((s, d) => {
      val e = edgesTopK(s, d)
      // und feeds every round and dist feeds each round TWICE (join +
      // union) — unchecked, the logical plan doubles per round (2^4
      // copies of the base subtree, 47 Exchanges in the r13 dump).
      // localCheckpoint per round keeps lineage linear: 4 tiny eager
      // jobs over the O(N·k) frontier, the kcore-loop pattern (r14,
      // guide §2.4). Interleaved A/B at sf0.1/32: checkpointed warm
      // 1.1-1.8 s vs unchecked 1.3-2.3 s on a noisy window — equal or
      // better, and the linear lineage is the scale-correct shape.
      val und = undirected(e).localCheckpoint()
      var dist = und.select(col("x").as("n")).distinct()
        .filter(col("n") === 0L)
        .withColumn("d", lit(0L))
      for (_ <- 1 to 4) {
        val next = dist.join(und, dist("n") === und("x"))
          .select(col("y").as("n"), (col("d") + 1L).as("d"))
        dist = dist.unionByName(next)
          .groupBy(col("n")).agg(min(col("d")).as("d"))
          .localCheckpoint()
      }
      dist.select(col("n").as("supplier"), col("d").as("hops"))
        .orderBy(col("supplier"))
    }),

    // Link prediction by neighbor overlap: top 20 NON-adjacent node
    // pairs ranked by Jaccard similarity of their neighbor sets —
    // the classic common-neighbors predictor. Candidate pairs come
    // from the wedge join (pairs sharing ≥1 neighbor, intermediate
    // ∝ Σ deg² like the triangle count — never all-pairs); the score
    // is integer milli-Jaccard (1000·|∩| div (deg_u + deg_v − |∩|)),
    // so ranking is exact in both engines. Existing edges are
    // anti-joined away: the output is predicted NEW links.
    "graph_link_predict" -> ((s, d) => {
      val e = edgesTopK(s, d)
      // r14 probe: one-shot materialization of und measured slower
      // (0.35 → 0.44 s warm) — AQE exchange reuse already covers the
      // four-way read; reverted
      val und = undirected(e)
      val deg = und.groupBy(col("x")).agg(count(lit(1)).as("dg"))
      val inter = und.as("a").join(und.as("b"),
          col("a.x") === col("b.x") && col("a.y") < col("b.y"))
        .groupBy(col("a.y").as("u"), col("b.y").as("v"))
        .agg(count(lit(1)).as("inter"))
      val adj = und.filter(col("x") < col("y"))
        .select(col("x").as("u"), col("y").as("v"))
      inter.join(adj, Seq("u", "v"), "left_anti")
        .join(deg.select(col("x").as("u"), col("dg").as("du")), "u")
        .join(deg.select(col("x").as("v"), col("dg").as("dv")), "v")
        .select(col("u"), col("v"),
          expr("(1000 * inter) div (du + dv - inter)").as("jaccard_milli"))
        .orderBy(col("jaccard_milli").desc, col("u"), col("v"))
        .limit(20)
    }),

    // 2-hop reach (r9): per node, |neighbors| and |nodes within ≤2
    // hops, self excluded| — the neighborhood-size feature
    // recommendation and fraud pipelines precompute. One wedge join
    // over the undirected top-K artifact (Σ deg² intermediate, the
    // same arboricity-bounded class as link_predict — never a
    // closure), then UNION-distinct with the 1-hop set so overlap
    // between rings never double-counts.
    "graph_2hop_reach" -> ((s, d) => {
      // r14 probe: one-shot materialization of und measured slower
      // (0.36 → 0.43 s warm) — AQE exchange reuse already covers the
      // three-way read; reverted
      val und = undirected(edgesTopK(s, d))
      val two = und.as("a").join(und.as("b"), col("a.y") === col("b.x"))
        .select(col("a.x").as("x"), col("b.y").as("y"))
        .filter(col("x") =!= col("y"))
      val reach = und.unionByName(two).distinct()
      val d1 = und.groupBy(col("x")).agg(count(lit(1)).as("n_1hop"))
      reach.groupBy(col("x")).agg(count(lit(1)).as("n_reach2"))
        .join(d1, "x")
        .select(col("x").as("supplier"), col("n_1hop"), col("n_reach2"))
        .orderBy(col("supplier"))
    }),

    // 3-iteration PageRank in integer micro-units, top 20 by rank.
    // new = (15·(Mass div N)) div 100 + (85·Σ incoming) div 100, with
    // contrib(u) = rank(u) div outdeg(u) — every op is int64, so the
    // result is exact and order-invariant (see scaladoc).
    "graph_pagerank" -> ((s, d) => {
      val e = edgesTopK(s, d).select(col("u"), col("v"))
      val outdeg = e.groupBy(col("u")).agg(count(lit(1)).as("od"))
      val nodes = e.select(col("u").as("n"))
        .unionByName(e.select(col("v").as("n"))).distinct()
      val nn = nodes.agg(count(lit(1)).as("c"))
      var ranks = nodes.crossJoin(nn)
        .select(col("n"), expr(s"$Mass div c").as("rank"), col("c"))
      // r14 probe: per-iteration localCheckpoint (the kcore-loop
      // pattern) was tried here to cut the 2^3 logical-subtree growth
      // (ranks is read twice per iteration) and measured SLOWER
      // (1.09 → 1.19-1.33 s warm at sf0.1/32): AQE's runtime exchange
      // reuse already dedups the repeated subtrees, and 3 eager job
      // barriers cost more than the saved planning. Reverted — the
      // lineage is bounded (fixed 3 iterations) by construction.
      for (_ <- 1 to 3) {
        val inc = ranks.join(e, ranks("n") === e("u"))
          .join(outdeg, "u")
          .select(col("v"), expr("rank div od").as("contrib"))
          .groupBy(col("v")).agg(sum(col("contrib")).as("inc"))
        ranks = ranks.join(inc, ranks("n") === inc("v"), "left")
          .select(col("n"),
            expr(s"(15 * ($Mass div c)) div 100 + " +
              "(85 * coalesce(inc, 0L)) div 100").as("rank"),
            col("c"))
      }
      ranks.select(col("n").as("supplier"), col("rank").as("pr_rank"))
        .orderBy(col("pr_rank").desc, col("supplier"))
        .limit(20)
    }),

    // Partition modularity (r9): Newman's Q for the match-chain
    // communities (the WCC labels of the 1-NN subgraph) evaluated
    // over the FULL undirected top-K graph — the standard "was this
    // clustering better than chance" score community pipelines report
    // next to their labels. On the both-directions edge set E2
    // (|E2| = 2m): Q = (|E2|·Σ within_c − Σ d_c²) / |E2|² — an exact
    // integer numerator (DECIMAL sum for Σd²), one IEEE division,
    // micro-units. Label and degree joins are all on node id over the
    // bounded artifact; the 1-row |E2| aggregate broadcasts.
    "graph_modularity" -> ((s, d) => {
      val labels = wccLabels(s, d)
      // r14 probe: one-shot materialization of e2 measured slower
      // (0.33 → 0.50 s warm) — AQE exchange reuse already covers the
      // three-way read; reverted
      val e2 = undirected(edgesTopK(s, d))
      val deg = e2.groupBy(col("x")).agg(count(lit(1)).as("dg"))
      val dC = deg.join(labels, col("x") === col("v"))
        .groupBy(col("label")).agg(sum(col("dg")).as("d_c"))
      val within = e2
        .join(labels.select(col("v").as("x"), col("label").as("lx")), "x")
        .join(labels.select(col("v").as("y"), col("label").as("ly")), "y")
        .filter(col("lx") === col("ly"))
        .groupBy(col("lx").as("label")).agg(count(lit(1)).as("e2_c"))
      val perLabel = dC.join(within, Seq("label"), "left")
        .select(col("label"), col("d_c"),
          coalesce(col("e2_c"), lit(0L)).as("e2_c"))
      val agg1 = perLabel.agg(count(lit(1)).as("n_components"),
        sum(col("e2_c")).as("se2"),
        sum((col("d_c") * col("d_c")).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("sd2"))
      val m2 = e2.agg(count(lit(1)).as("m2"))
      agg1.crossJoin(broadcast(m2))
        .select(col("n_components"), expr("m2 div 2").as("m_edges"),
          expr("se2 div 2").as("within_edges"),
          round((col("m2").cast("double") * col("se2").cast("double") -
            col("sd2").cast("double")) /
            (col("m2").cast("double") * col("m2").cast("double")) * 1e6)
            .cast("long").as("q_micro"))
    }),

    // Per-node clustering coefficient (r9): 2·t / (deg·(deg−1)) — how
    // close each node's neighborhood is to a clique, the local
    // companion of the global triangle count and the feature
    // community-detection pipelines start from. Reuses the oriented
    // wedge join (every triangle found exactly once, candidate volume
    // bounded by the top-K degree cap), counts triangles PER NODE,
    // joins degrees, and emits integer milli-units (2000·t div
    // (deg·(deg−1))) — exact, no IEEE division. deg<2 nodes have an
    // undefined denominator and are pinned to 0, matching the oracle.
    "graph_clustering_coef" -> ((s, d) => {
      val e = edgesTopK(s, d)
      // r14 probe: materializing `oriented` once (as in
      // graph_triangle_count) measured SLOWER here (0.27 → 0.61 s):
      // the bench action is count(), under which the optimizer
      // ELIMINATES the left-joined triangle subtree entirely (left
      // join to an aggregate is row-preserving), while an eager
      // checkpoint would force it. Reverted — AQE exchange reuse
      // covers the three-alias fan-out when the subtree does run.
      val o = oriented(e)
      val tri = o.as("e1")
        .join(o.as("e2"),
          col("e1.lo") === col("e2.lo") &&
            (col("e1.dhi") < col("e2.dhi") ||
              (col("e1.dhi") === col("e2.dhi") &&
                col("e1.hi") < col("e2.hi"))))
        .join(o.as("e3"),
          col("e3.lo") === col("e1.hi") && col("e3.hi") === col("e2.hi"))
        .select(col("e1.lo").as("a"), col("e1.hi").as("b"),
          col("e2.hi").as("c"))
      val triPerNode = tri.select(col("a").as("n"))
        .unionByName(tri.select(col("b").as("n")))
        .unionByName(tri.select(col("c").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("t"))
      val deg = undirected(e).groupBy(col("x")).agg(count(lit(1)).as("dg"))
      deg.join(triPerNode, col("x") === col("n"), "left")
        .select(col("x").as("supplier"), col("dg").as("degree"),
          coalesce(col("t"), lit(0L)).as("n_triangles"),
          when(col("dg") >= 2,
            expr("2000 * coalesce(t, 0L) div (dg * (dg - 1))"))
            .otherwise(0L).as("coef_milli"))
        .orderBy(col("supplier"))
    }),

    // Degree assortativity (r9): the Pearson correlation between the
    // degrees at the two ends of every edge — one scalar that says
    // whether hubs attach to hubs (positive) or to leaves (negative),
    // the first structural summary after the degree histogram. Exact
    // INTEGER sufficient statistics over the directed edge list (the
    // agg_corr_exact treatment: degrees are small ints, so n·Σxy etc.
    // stay far inside int64), closed form applied once in DOUBLE with
    // an identical expression tree in both engines, micro-units out.
    // Two bounded joins on the O(N·k) artifact and a single global
    // aggregate — no window, no closure.
    "graph_assortativity" -> ((s, d) => {
      val und = undirected(edgesTopK(s, d))
      val deg = und.groupBy(col("x")).agg(count(lit(1)).as("dg"))
      val st = und
        .join(deg.select(col("x"), col("dg").as("dx")), "x")
        .join(deg.select(col("x").as("y"), col("dg").as("dy")), "y")
        .agg(count(lit(1)).as("n_dir_edges"),
          sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
          sum(col("dx") * col("dy")).as("sxy"),
          sum(col("dx") * col("dx")).as("sxx"),
          sum(col("dy") * col("dy")).as("syy"))
      st.select(col("n_dir_edges"),
        when(
          col("n_dir_edges") * col("sxx") - col("sx") * col("sx") > 0 &&
            col("n_dir_edges") * col("syy") - col("sy") * col("sy") > 0,
          round(
            (col("n_dir_edges") * col("sxy") - col("sx") * col("sy"))
              .cast("double") /
              (sqrt((col("n_dir_edges") * col("sxx") -
                col("sx") * col("sx")).cast("double")) *
                sqrt((col("n_dir_edges") * col("syy") -
                  col("sy") * col("sy")).cast("double"))) * 1e6))
          .cast("long").as("assort_micro"))
    })
  )

  /** Shared DuckDB mirror of the artifact build (SURVEY §5.3: the
    * oracle re-derives artifacts inline).
    */
  private val edgeCte =
    s"""WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sup FROM lineitem),
      |psc AS (
      |  SELECT p, sup FROM (
      |    SELECT p, sup, row_number() OVER (PARTITION BY p ORDER BY sup) AS cap_rn
      |    FROM ps) t
      |  WHERE cap_rn <= $HotPartCap),
      |pairs AS (
      |  SELECT a.sup AS u, b.sup AS v, count(*) AS shared_parts
      |  FROM psc a JOIN psc b ON a.p = b.p AND a.sup < b.sup
      |  GROUP BY a.sup, b.sup),
      |sym AS (
      |  SELECT u, v, shared_parts FROM pairs
      |  UNION ALL
      |  SELECT v AS u, u AS v, shared_parts FROM pairs),
      |topk AS (
      |  SELECT u, v, shared_parts,
      |         row_number() OVER (PARTITION BY u ORDER BY shared_parts DESC, v) AS rn
      |  FROM sym),
      |e AS MATERIALIZED (SELECT u, v, shared_parts FROM topk WHERE rn <= $K)""".stripMargin

  val oracle: Map[String, String] = Map(
    // full transitive closure: UNION-dedup makes the recursion
    // terminate; min reachable id = the component label
    "graph_wcc" -> (edgeCte.replaceFirst("WITH ps", "WITH RECURSIVE ps") +
      """,
        |nn1 AS (
        |  SELECT u, v FROM (
        |    SELECT u, v, row_number() OVER (PARTITION BY u
        |      ORDER BY shared_parts DESC, v ASC) AS rn1 FROM e) t
        |  WHERE rn1 = 1),
        |und AS MATERIALIZED (SELECT DISTINCT least(u, v) AS x, greatest(u, v) AS y FROM nn1),
        |ed AS MATERIALIZED (
        |  SELECT x AS src, y AS dst FROM und
        |  UNION SELECT y, x FROM und
        |  UNION SELECT x, x FROM und
        |  UNION SELECT y, y FROM und),
        |reach AS (
        |  SELECT src AS v, src AS u FROM ed
        |  UNION
        |  SELECT r.v, ed.dst FROM reach r JOIN ed ON ed.src = r.u),
        |lab AS (SELECT v, min(u) AS component FROM reach GROUP BY v),
        |sz AS (SELECT component, count(*) AS comp_size FROM lab GROUP BY component)
        |SELECT lab.v AS supplier, lab.component, sz.comp_size
        |FROM lab JOIN sz USING (component) ORDER BY supplier""".stripMargin),
    "graph_edges_topk" -> (edgeCte +
      """
        |SELECT u AS supplier, v AS neighbor, shared_parts
        |FROM e ORDER BY supplier, shared_parts DESC, neighbor""".stripMargin),
    // identical 3 synchronous rounds, identical (count DESC, label
    // ASC) argmax tie-break; each round reads only the previous
    // round's labels
    "graph_lpa" -> (edgeCte +
      """,
        |und AS MATERIALIZED (
        |  SELECT DISTINCT x, y FROM (
        |    SELECT u AS x, v AS y FROM e UNION ALL SELECT v, u FROM e)),
        |l0 AS (SELECT DISTINCT x AS v, x AS label FROM und),
        |r1 AS MATERIALIZED (SELECT x AS v, label FROM (
        |  SELECT und.x, l.label, count(*) AS cnt,
        |    row_number() OVER (PARTITION BY und.x
        |      ORDER BY count(*) DESC, l.label) AS rn
        |  FROM und JOIN l0 l ON l.v = und.y GROUP BY und.x, l.label) t
        |  WHERE rn = 1),
        |r2 AS MATERIALIZED (SELECT x AS v, label FROM (
        |  SELECT und.x, l.label, count(*) AS cnt,
        |    row_number() OVER (PARTITION BY und.x
        |      ORDER BY count(*) DESC, l.label) AS rn
        |  FROM und JOIN r1 l ON l.v = und.y GROUP BY und.x, l.label) t
        |  WHERE rn = 1),
        |r3 AS MATERIALIZED (SELECT x AS v, label FROM (
        |  SELECT und.x, l.label, count(*) AS cnt,
        |    row_number() OVER (PARTITION BY und.x
        |      ORDER BY count(*) DESC, l.label) AS rn
        |  FROM und JOIN r2 l ON l.v = und.y GROUP BY und.x, l.label) t
        |  WHERE rn = 1),
        |sz AS (SELECT label, count(*) AS comm_size FROM r3 GROUP BY label)
        |SELECT r3.v AS supplier, r3.label AS community, sz.comm_size
        |FROM r3 JOIN sz USING (label) ORDER BY supplier""".stripMargin),

    "graph_triangle_count" -> (edgeCte +
      """,
        |und AS MATERIALIZED (SELECT DISTINCT least(u, v) AS x, greatest(u, v) AS y FROM e),
        |deg AS (SELECT n, count(*) AS dg FROM (
        |  SELECT x AS n FROM und UNION ALL SELECT y AS n FROM und) t GROUP BY n),
        |ornt AS MATERIALIZED (
        |  SELECT CASE WHEN (dx.dg < dy.dg) OR (dx.dg = dy.dg AND und.x < und.y)
        |              THEN und.x ELSE und.y END AS lo,
        |         CASE WHEN (dx.dg < dy.dg) OR (dx.dg = dy.dg AND und.x < und.y)
        |              THEN und.y ELSE und.x END AS hi,
        |         CASE WHEN (dx.dg < dy.dg) OR (dx.dg = dy.dg AND und.x < und.y)
        |              THEN dy.dg ELSE dx.dg END AS dhi
        |  FROM und JOIN deg dx ON dx.n = und.x JOIN deg dy ON dy.n = und.y),
        |tri AS (
        |  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
        |  FROM ornt e1 JOIN ornt e2 ON e1.lo = e2.lo
        |    AND ((e1.dhi < e2.dhi) OR (e1.dhi = e2.dhi AND e1.hi < e2.hi))
        |  JOIN ornt e3 ON e3.lo = e1.hi AND e3.hi = e2.hi)
        |SELECT n AS supplier, count(*) AS n_triangles FROM (
        |  SELECT a AS n FROM tri UNION ALL SELECT b AS n FROM tri
        |  UNION ALL SELECT c AS n FROM tri) t
        |GROUP BY n ORDER BY n_triangles DESC, supplier LIMIT 20""".stripMargin),

    "graph_degree_hist" -> (edgeCte +
      """,
        |und AS (SELECT DISTINCT x, y FROM (
        |  SELECT u AS x, v AS y FROM e UNION ALL SELECT v AS x, u AS y FROM e) t),
        |deg AS (SELECT x, count(*) AS degree FROM und GROUP BY x)
        |SELECT degree, count(*) AS n_nodes
        |FROM deg GROUP BY degree ORDER BY degree""".stripMargin),

    // identical 8 unrolled peel rounds over the same symmetric edge
    // set; a round past fixpoint is a no-op in both engines
    "graph_kcore" -> (edgeCte +
      s""",
        |und0 AS MATERIALIZED (SELECT DISTINCT x, y FROM (
        |  SELECT u AS x, v AS y FROM e UNION ALL SELECT v AS x, u AS y FROM e) t),
        |""".stripMargin +
      (1 to KcoreRounds).map { i =>
        s"""k$i AS (SELECT x FROM und${i - 1} GROUP BY x HAVING count(*) >= $KcoreK),
           |und$i AS MATERIALIZED (
           |  SELECT a.x, a.y FROM und${i - 1} a
           |  JOIN k$i kx ON a.x = kx.x
           |  JOIN k$i ky ON a.y = ky.x)""".stripMargin
      }.mkString(",\n") +
      s"""
        |SELECT x AS supplier, count(*) AS core_degree
        |FROM und$KcoreRounds GROUP BY x ORDER BY supplier""".stripMargin),

    "graph_bfs_hops" -> (edgeCte +
      """,
        |und AS MATERIALIZED (SELECT DISTINCT x, y FROM (
        |  SELECT u AS x, v AS y FROM e UNION ALL SELECT v AS x, u AS y FROM e) t),
        |bfs AS (
        |  WITH RECURSIVE walk(n, d) AS (
        |    SELECT CAST(0 AS BIGINT) AS n, CAST(0 AS BIGINT) AS d
        |    WHERE EXISTS (SELECT 1 FROM und WHERE x = 0)
        |    UNION ALL
        |    SELECT und.y, walk.d + 1 FROM walk JOIN und ON und.x = walk.n
        |    WHERE walk.d < 4)
        |  SELECT n, min(d) AS hops FROM walk GROUP BY n)
        |SELECT n AS supplier, hops FROM bfs ORDER BY supplier""".stripMargin),

    "graph_2hop_reach" -> (edgeCte +
      """,
        |und AS MATERIALIZED (SELECT DISTINCT x, y FROM (
        |  SELECT u AS x, v AS y FROM e UNION ALL SELECT v AS x, u AS y FROM e) t),
        |two AS (
        |  SELECT a.x AS x, b.y AS y FROM und a JOIN und b ON a.y = b.x
        |  WHERE a.x <> b.y),
        |reach AS (SELECT x, y FROM und UNION SELECT x, y FROM two),
        |d1 AS (SELECT x, count(*) AS n_1hop FROM und GROUP BY x)
        |SELECT r.x AS supplier, d1.n_1hop, count(*) AS n_reach2
        |FROM reach r JOIN d1 ON d1.x = r.x
        |GROUP BY r.x, d1.n_1hop ORDER BY supplier""".stripMargin),

    "graph_link_predict" -> (edgeCte +
      """,
        |und AS MATERIALIZED (SELECT DISTINCT x, y FROM (
        |  SELECT u AS x, v AS y FROM e UNION ALL SELECT v AS x, u AS y FROM e) t),
        |deg AS (SELECT x, count(*) AS dg FROM und GROUP BY x),
        |inter AS (
        |  SELECT a.y AS u, b.y AS v, count(*) AS inter
        |  FROM und a JOIN und b ON a.x = b.x AND a.y < b.y
        |  GROUP BY a.y, b.y),
        |cand AS (
        |  SELECT i.u, i.v, i.inter FROM inter i
        |  WHERE NOT EXISTS (SELECT 1 FROM und WHERE und.x = i.u AND und.y = i.v))
        |SELECT c.u, c.v,
        |  (1000 * c.inter) // (du.dg + dv.dg - c.inter) AS jaccard_milli
        |FROM cand c JOIN deg du ON du.x = c.u JOIN deg dv ON dv.x = c.v
        |ORDER BY jaccard_milli DESC, u, v LIMIT 20""".stripMargin),

    "graph_pagerank" -> (edgeCte +
      s""",
        |de AS MATERIALIZED (SELECT u, v FROM e),
        |outdeg AS (SELECT u, count(*) AS od FROM de GROUP BY u),
        |nodes AS (SELECT DISTINCT n FROM (
        |  SELECT u AS n FROM de UNION ALL SELECT v AS n FROM de) t),
        |nn AS (SELECT count(*) AS c FROM nodes),
        |r0 AS (SELECT n, ($Mass // c) AS rank, c FROM nodes, nn),
        |i1 AS (SELECT de.v AS n, CAST(sum(r0.rank // od.od) AS BIGINT) AS inc
        |  FROM r0 JOIN de ON r0.n = de.u JOIN outdeg od ON od.u = de.u GROUP BY de.v),
        |r1 AS (SELECT r0.n, (15 * ($Mass // r0.c)) // 100
        |    + (85 * coalesce(i1.inc, 0)) // 100 AS rank, r0.c AS c
        |  FROM r0 LEFT JOIN i1 ON r0.n = i1.n),
        |i2 AS (SELECT de.v AS n, CAST(sum(r1.rank // od.od) AS BIGINT) AS inc
        |  FROM r1 JOIN de ON r1.n = de.u JOIN outdeg od ON od.u = de.u GROUP BY de.v),
        |r2 AS (SELECT r1.n, (15 * ($Mass // r1.c)) // 100
        |    + (85 * coalesce(i2.inc, 0)) // 100 AS rank, r1.c AS c
        |  FROM r1 LEFT JOIN i2 ON r1.n = i2.n),
        |i3 AS (SELECT de.v AS n, CAST(sum(r2.rank // od.od) AS BIGINT) AS inc
        |  FROM r2 JOIN de ON r2.n = de.u JOIN outdeg od ON od.u = de.u GROUP BY de.v),
        |r3 AS (SELECT r2.n, (15 * ($Mass // r2.c)) // 100
        |    + (85 * coalesce(i3.inc, 0)) // 100 AS rank
        |  FROM r2 LEFT JOIN i3 ON r2.n = i3.n)
        |SELECT n AS supplier, rank AS pr_rank FROM r3
        |ORDER BY pr_rank DESC, supplier LIMIT 20""".stripMargin),

    // labels from the same recursive closure as graph_wcc; modularity
    // algebra over the full both-directions edge set, HUGEINT-exact
    // numerator, one double division
    "graph_modularity" -> (edgeCte.replaceFirst("WITH ps", "WITH RECURSIVE ps") +
      """,
        |nn1 AS (
        |  SELECT u, v FROM (
        |    SELECT u, v, row_number() OVER (PARTITION BY u
        |      ORDER BY shared_parts DESC, v ASC) AS rn1 FROM e) t
        |  WHERE rn1 = 1),
        |und AS MATERIALIZED (SELECT DISTINCT least(u, v) AS x, greatest(u, v) AS y FROM nn1),
        |ed AS MATERIALIZED (
        |  SELECT x AS src, y AS dst FROM und
        |  UNION SELECT y, x FROM und
        |  UNION SELECT x, x FROM und
        |  UNION SELECT y, y FROM und),
        |reach AS (
        |  SELECT src AS v, src AS u FROM ed
        |  UNION
        |  SELECT r.v, ed.dst FROM reach r JOIN ed ON ed.src = r.u),
        |lab AS MATERIALIZED (SELECT v, min(u) AS label FROM reach GROUP BY v),
        |e2 AS MATERIALIZED (SELECT DISTINCT x, y FROM (
        |  SELECT u AS x, v AS y FROM e UNION ALL SELECT v AS x, u AS y FROM e) t),
        |deg AS (SELECT x, count(*) AS dg FROM e2 GROUP BY x),
        |dc AS (SELECT lab.label, CAST(sum(dg) AS BIGINT) AS d_c
        |  FROM deg JOIN lab ON lab.v = deg.x GROUP BY lab.label),
        |wi AS (SELECT lx.label AS label, count(*) AS e2_c
        |  FROM e2 JOIN lab lx ON lx.v = e2.x JOIN lab ly ON ly.v = e2.y
        |  WHERE lx.label = ly.label GROUP BY lx.label),
        |pl AS (SELECT dc.label, d_c, coalesce(wi.e2_c, 0) AS e2_c
        |  FROM dc LEFT JOIN wi ON wi.label = dc.label),
        |a1 AS (SELECT count(*) AS n_components,
        |  CAST(sum(e2_c) AS BIGINT) AS se2, sum(d_c * d_c) AS sd2 FROM pl),
        |m2t AS (SELECT count(*) AS m2 FROM e2)
        |SELECT n_components, m2 // 2 AS m_edges, se2 // 2 AS within_edges,
        |  CAST(round((CAST(m2 AS DOUBLE) * CAST(se2 AS DOUBLE) -
        |    CAST(sd2 AS DOUBLE)) /
        |    (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE)) * 1e6) AS BIGINT)
        |    AS q_micro
        |FROM a1, m2t""".stripMargin),

    // same oriented triangle listing as graph_triangle_count, per-node
    // counts left-joined onto degrees, same milli-unit integer div
    "graph_clustering_coef" -> (edgeCte +
      """,
        |und AS MATERIALIZED (SELECT DISTINCT least(u, v) AS x, greatest(u, v) AS y FROM e),
        |deg AS (SELECT n, count(*) AS dg FROM (
        |  SELECT x AS n FROM und UNION ALL SELECT y AS n FROM und) t GROUP BY n),
        |ornt AS MATERIALIZED (
        |  SELECT CASE WHEN (dx.dg < dy.dg) OR (dx.dg = dy.dg AND und.x < und.y)
        |              THEN und.x ELSE und.y END AS lo,
        |         CASE WHEN (dx.dg < dy.dg) OR (dx.dg = dy.dg AND und.x < und.y)
        |              THEN und.y ELSE und.x END AS hi,
        |         CASE WHEN (dx.dg < dy.dg) OR (dx.dg = dy.dg AND und.x < und.y)
        |              THEN dy.dg ELSE dx.dg END AS dhi
        |  FROM und JOIN deg dx ON dx.n = und.x JOIN deg dy ON dy.n = und.y),
        |tri AS (
        |  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
        |  FROM ornt e1 JOIN ornt e2 ON e1.lo = e2.lo
        |    AND ((e1.dhi < e2.dhi) OR (e1.dhi = e2.dhi AND e1.hi < e2.hi))
        |  JOIN ornt e3 ON e3.lo = e1.hi AND e3.hi = e2.hi),
        |tpn AS (SELECT n, count(*) AS t FROM (
        |  SELECT a AS n FROM tri UNION ALL SELECT b AS n FROM tri
        |  UNION ALL SELECT c AS n FROM tri) t GROUP BY n)
        |SELECT deg.n AS supplier, deg.dg AS degree,
        |  coalesce(tpn.t, 0) AS n_triangles,
        |  CASE WHEN deg.dg >= 2
        |       THEN (2000 * coalesce(tpn.t, 0)) // (deg.dg * (deg.dg - 1))
        |       ELSE 0 END AS coef_milli
        |FROM deg LEFT JOIN tpn ON tpn.n = deg.n
        |ORDER BY supplier""".stripMargin),

    // identical integer sufficient stats and closed-form tree; HUGEINT
    // sums cast back before the double algebra
    "graph_assortativity" -> (edgeCte +
      """,
        |und AS MATERIALIZED (SELECT DISTINCT x, y FROM (
        |  SELECT u AS x, v AS y FROM e UNION ALL SELECT v AS x, u AS y FROM e) t),
        |deg AS (SELECT x, count(*) AS dg FROM und GROUP BY x),
        |st AS (
        |  SELECT count(*) AS n_dir_edges,
        |    CAST(sum(dx.dg) AS BIGINT) AS sx,
        |    CAST(sum(dy.dg) AS BIGINT) AS sy,
        |    CAST(sum(dx.dg * dy.dg) AS BIGINT) AS sxy,
        |    CAST(sum(dx.dg * dx.dg) AS BIGINT) AS sxx,
        |    CAST(sum(dy.dg * dy.dg) AS BIGINT) AS syy
        |  FROM und JOIN deg dx ON dx.x = und.x JOIN deg dy ON dy.x = und.y
        |)
        |SELECT n_dir_edges,
        |  CASE WHEN n_dir_edges * sxx - sx * sx > 0
        |        AND n_dir_edges * syy - sy * sy > 0 THEN
        |    CAST(round(CAST(n_dir_edges * sxy - sx * sy AS DOUBLE) /
        |      (sqrt(CAST(n_dir_edges * sxx - sx * sx AS DOUBLE)) *
        |       sqrt(CAST(n_dir_edges * syy - sy * sy AS DOUBLE))) * 1e6)
        |      AS BIGINT)
        |  END AS assort_micro
        |FROM st""".stripMargin)
  )
}
