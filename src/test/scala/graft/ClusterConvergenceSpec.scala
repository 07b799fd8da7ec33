package graft

import org.apache.spark.sql.functions._

/** dedup_cc_clusters runs min-label propagation to a fixpoint over the
  * near-dup pair graph (`GraphQueries.componentLabels`); this proves the
  * result is EXACTLY the true connected components (driver-side
  * union-find over the same collected pairs — independent algorithm).
  */
class ClusterConvergenceSpec extends SparkSpecBase {

  private val dupDir = "/root/testdata/sf0.1"

  private def unionFindClusters(
      pairs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    // always attach the larger root under the smaller, so the final
    // root of every component is its min id
    def union(a: Long, b: Long): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    pairs.foreach { case (a, b) => union(a, b) }
    pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted.map(v => (v, find(v)))
  }

  private def ccAgreesWithUnionFind(dir: String): Unit = {
    val pairs = SparkEntry.queries("dedup_ngram_jaccard")(spark, dir)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.nonEmpty, s"no near-dup pairs at $dir")
    val expected = unionFindClusters(pairs)
    val got = SparkEntry.queries("dedup_cc_clusters")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected)
  }

  test("clusters equal a driver-side union-find (sf0.001)") {
    ccAgreesWithUnionFind(sfDir)
  }

  test("clusters equal a driver-side union-find (sf0.1, dup-bearing)") {
    ccAgreesWithUnionFind(dupDir)
  }

  test("dedup_keep_canonical output contains no duplicate texts") {
    val kept = SparkEntry.queries("dedup_keep_canonical")(spark, dupDir)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val texts = Tables.documents(spark, dupDir)
      .filter(col("doc_id").isInCollection(kept))
      .select(col("text")).collect().map(_.getString(0))
    assert(texts.length == texts.distinct.length)
    // and nothing was lost: every distinct text is represented
    val allDistinct = Tables.documents(spark, dupDir)
      .select(countDistinct(col("text"))).collect()(0).getLong(0)
    assert(texts.length.toLong == allDistinct)
  }
}
