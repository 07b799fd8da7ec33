package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Offline IVF index refinement: Lloyd's k-means over the embedding
  * corpus. This is the BUILD step that `ann_ivf_topk`'s fixed-centroid
  * query abstracts away — iterative, driver-coordinated, one
  * assign+recompute job per round, the canonical "iterative algorithm
  * on DataFrames" shape (each round: one broadcast join + two narrow
  * maps + one shuffle on (centroid, dim)).
  *
  * Scale notes (100 TB): per round the corpus is read once; the only
  * shuffle carries (cluster, dim, partial sums) — k×64 groups, so the
  * reduce side is tiny regardless of corpus size. Centroid means are
  * float-summation-order dependent (documented): index QUALITY is
  * reproducible-in-distribution, not bit-stable — which is why the
  * oracle-facing query keeps fixed centroids and the builder lives
  * outside the correctness gate.
  */
object IvfIndexBuilder {

  /** nlist for a corpus of `n` vectors: ~√N (the standard IVF sizing —
    * balances |list| ≈ √N per inverted list against the probe-side
    * centroid scan), floored at 4 so tiny fixtures still cluster and
    * capped at 65536 so the broadcast centroid table stays ≤ ~32 MB at
    * any corpus size (beyond that a hierarchical coarse quantizer, not
    * a bigger flat nlist, is the right structure). This makes the
    * SURVEY "nlist grows ~√N" note executable code: the builder and
    * dedup_semantic both size from the corpus count (r9 verdict #5).
    * ceil(IEEE sqrt) is engine-portable — DuckDB mirrors it exactly.
    */
  def nlistFor(n: Long): Int =
    math.min(65536L,
      math.max(4L, math.ceil(math.sqrt(n.toDouble)).toLong)).toInt

  /** One Lloyd round: assign to nearest centroid (by cosine over
    * pre-normalized vectors), then recompute each centroid as the
    * element-wise mean of its members (re-normalized).
    */
  def lloydRound(vecs: DataFrame, cents: DataFrame): DataFrame = {
    // the shared nearest-centroid pass (SimilarityQueries.centRanked)
    // — the SAME ranked assignment every IVF-family query uses, so a
    // tie-break tweak cannot desynchronize the build from the lookups
    val assigned = SimilarityQueries.centRanked(vecs, broadcast(cents))
      .filter(col("rn") === 1)
      .join(vecs, "vec_id") // id-only centRanked since r14 (see its doc)
      .select(col("cent_id"), col("vec_id"), col("emb_n"))
    val means = assigned
      .select(col("cent_id"),
        posexplode(col("emb_n")).as(Seq("dim", "x")))
      .groupBy(col("cent_id"), col("dim"))
      .agg(avg(col("x")).as("m"))
      .groupBy(col("cent_id"))
      .agg(map_from_arrays(collect_list(col("dim")),
        collect_list(col("m"))).as("dm"))
      // rebuild in dim order from the map's OWN keys — a hardcoded
      // sequence(0, 63) baked the fixture's dimension in (and under
      // ANSI a missing key is a hard error for any other length)
      .select(col("cent_id"),
        expr("transform(array_sort(map_keys(dm)), i -> dm[i])")
          .as("cent_raw"))
    means
      .withColumn("nrm", sqrt(aggregate(
        transform(col("cent_raw"), x => x * x),
        lit(0.0), (acc, v) => acc + v)))
      .select(col("cent_id"),
        transform(col("cent_raw"), x => x / col("nrm")).as("cent_vec"))
  }

  /** Normalized corpus + k seed centroids (deterministic id sample).
    * Normalization is SimilarityQueries.embN — the one float fold the
    * lookups also use, so the built index and the serving-side query
    * vectors can never drift onto different summation orders (the r7
    * review found a second hand-written fold here).
    */
  def prepare(s: SparkSession, d: String, k: Int): (DataFrame, DataFrame) = {
    val vecs = SimilarityQueries.embN(s, d)
    val cents = vecs.filter(col("vec_id") >= 100 && col("vec_id") < 100 + k)
      .select(col("vec_id").as("cent_id"), col("emb_n").as("cent_vec"))
    (vecs, cents)
  }

  /** Mean cosine of each vector to its assigned centroid — the
    * objective Lloyd's algorithm (non-strictly) improves.
    */
  def objective(vecs: DataFrame, cents: DataFrame): Double = {
    val r = SimilarityQueries.centRanked(vecs, broadcast(cents))
      .filter(col("rn") === 1)
      .agg(avg(col("cos"))).first()
    // empty corpus / empty centroid set -> avg over zero rows is NULL;
    // 0.0 keeps the degenerate build's "empty index" contract instead
    // of an NPE out of getDouble (r7 review)
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }
}
