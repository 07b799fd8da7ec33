package graft

import org.apache.spark.sql.functions._

import graft.operators.GraphQueries

/** Graph-analytics family (SURVEY §2.P): independent recomputation of
  * all three operators in plain Scala from the collected edge list —
  * the same oracle-beside-the-engine pattern as IvfIndexBuilderSpec.
  * The fixture graph at sf0.001 is 10 suppliers / 30 directed top-3
  * edges, small enough for exact brute force.
  */
class GraphSpec extends SparkSpecBase {

  private def edges: Seq[(Long, Long, Long)] =
    GraphQueries.queries("graph_edges_topk")(spark, sfDir)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

  test("top-k digraph: out-degree is at most 3, no self-loops") {
    val e = edges
    assert(e.nonEmpty)
    val outdeg = e.groupBy(_._1).view.mapValues(_.size)
    assert(outdeg.values.forall(_ <= 3), "out-degree cap violated")
    assert(e.forall { case (u, v, _) => u != v }, "self-loop")
  }

  test("edge selection is the per-node top-3 by (shared count desc, id)") {
    // Recompute co-occurrence counts from lineitem with plain Scala.
    val ps = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byPart = ps.groupBy(_._1).view.mapValues(_.map(_._2).sorted)
    val counts = scala.collection.mutable.Map.empty[(Long, Long), Long]
    for ((_, sups) <- byPart; i <- sups.indices; j <- (i + 1) until sups.length) {
      val k = (sups(i), sups(j))
      counts(k) = counts.getOrElse(k, 0L) + 1L
    }
    val sym = counts.toSeq.flatMap { case ((a, b), c) =>
      Seq((a, b, c), (b, a, c))
    }
    val expected = sym.groupBy(_._1).toSeq.flatMap { case (_, nbrs) =>
      nbrs.sortBy { case (_, v, c) => (-c, v) }.take(3)
    }.toSet
    assert(edges.toSet == expected)
  }

  test("triangle participation matches brute force over the edge set") {
    val und = edges.map { case (u, v, _) =>
      (math.min(u, v), math.max(u, v))
    }.toSet
    val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val part = scala.collection.mutable.Map.empty[Long, Long]
    for {
      i <- nodes.indices; j <- (i + 1) until nodes.length
      k <- (j + 1) until nodes.length
      (a, b, c) = (nodes(i), nodes(j), nodes(k))
      if und((a, b)) && und((a, c)) && und((b, c))
      n <- Seq(a, b, c)
    } part(n) = part.getOrElse(n, 0L) + 1L
    val expected = part.toSeq.sortBy { case (n, t) => (-t, n) }.take(20)
    val got = GraphQueries.queries("graph_triangle_count")(spark, sfDir)
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    assert(got == expected)
  }

  test("integer PageRank matches an exact sequential reimplementation") {
    val e = edges.map { case (u, v, _) => (u, v) }
    val outdeg = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = e.flatMap { case (u, v) => Seq(u, v) }.distinct.sorted
    val n = nodes.length.toLong
    val mass = 1000000000000L
    var rank = nodes.map(_ -> mass / n).toMap
    for (_ <- 1 to 3) {
      val inc = scala.collection.mutable.Map.empty[Long, Long]
      for ((u, v) <- e)
        inc(v) = inc.getOrElse(v, 0L) + rank(u) / outdeg(u)
      rank = nodes.map(x =>
        x -> ((15L * (mass / n)) / 100L + 85L * inc.getOrElse(x, 0L) / 100L)).toMap
    }
    val expected = rank.toSeq.sortBy { case (x, r) => (-r, x) }.take(20)
    val got = GraphQueries.queries("graph_pagerank")(spark, sfDir)
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    assert(got == expected)
    // Integer truncation only ever LOSES mass: total stays under Mass.
    assert(rank.values.sum <= mass)
  }

  test("bfs hop distances match a plain queue BFS over the edge set") {
    val und = edges.flatMap { case (u, v, _) => Seq((u, v), (v, u)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    val dist = scala.collection.mutable.Map(0L -> 0L)
    var frontier = List(0L)
    for (k <- 1L to 4L) {
      frontier = frontier.flatMap(n => und.getOrElse(n, Nil))
        .filterNot(dist.contains).distinct
      frontier.foreach(n => dist(n) = k)
    }
    val expected = dist.toSeq.sortBy(_._1)
    val got = GraphQueries.queries("graph_bfs_hops")(spark, sfDir)
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    assert(got == expected)
  }

  test("link prediction matches brute-force neighbor-set Jaccard") {
    val und = edges.flatMap { case (u, v, _) => Seq((u, v), (v, u)) }.toSet
    val nbrs = und.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = nbrs.keys.toSeq.sorted
    val cands = for {
      i <- nodes.indices; j <- (i + 1) until nodes.length
      (u, v) = (nodes(i), nodes(j))
      inter = (nbrs(u) & nbrs(v)).size
      if inter > 0 && !und((u, v))
    } yield (u, v,
      1000L * inter / (nbrs(u).size + nbrs(v).size - inter))
    val expected = cands.sortBy { case (u, v, jm) => (-jm, u, v) }.take(20)
    val got = GraphQueries.queries("graph_link_predict")(spark, sfDir)
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got == expected)
  }

  test("LPA matches a sequential 3-round synchronous propagation") {
    // plain-Scala re-run of the exact algorithm: synchronous rounds,
    // argmax by (count desc, label asc)
    val und = edges.flatMap { case (u, v, _) => Seq((u, v), (v, u)) }.distinct
    val nbrs = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var labels = nbrs.keys.map(v => v -> v).toMap
    for (_ <- 1 to 3) {
      labels = nbrs.map { case (v, ns) =>
        val hist = ns.groupBy(labels).view.mapValues(_.size)
        v -> hist.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    val sizes = labels.values.groupBy(identity).view.mapValues(_.size)
    val expected = labels.toSeq.sortBy(_._1)
      .map { case (v, l) => (v, l, sizes(l).toLong) }
    val got = GraphQueries.queries("graph_lpa")(spark, sfDir)
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got == expected)
  }

  test("pagerank is invariant under input repartitioning") {
    val a = GraphQueries.queries("graph_pagerank")(spark, sfDir)
      .collect().toSeq
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val b = GraphQueries.queries("graph_pagerank")(spark, sfDir)
        .collect().toSeq
      assert(a == b)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("graph_wcc equals union-find over the 1-NN edges and leaves no cache behind") {
    // a fresh copy of the fixtures: the label build runs once per
    // (JVM, input dir), so only a new dir makes this call build it
    val copy = fixtureCopy("graft_wcc_fixture")
    try {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val got = GraphQueries.queries("graph_wcc")(spark, copy.toString)
        .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(sc.getPersistentRDDs.keySet == before,
        "the wcc build left cached relations in the shared context")
      // union-find over each node's strongest edge, root = min id
      val nn1 = edges.groupBy(_._1).values
        .map(_.minBy { case (_, v, c) => (-c, v) }).toSeq
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      nn1.foreach { case (u, v, _) =>
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
      }
      val nodes = nn1.flatMap { case (u, v, _) => Seq(u, v) }.distinct.sorted
      val sizes = nodes.groupBy(find).view.mapValues(_.size.toLong).toMap
      assert(got == nodes.map(n => (n, find(n), sizes(find(n)))))
    } finally TempDirs.deleteRecursively(copy)
  }
}
