package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** The PARAMETERIZED library surface: the engine's reusable curation
  * primitives over caller-named columns, so a user points them at
  * their own tables instead of the test fixtures. The fixture
  * operators in `SparkEntry` call these functions on the fixture
  * columns, so the DuckDB oracle compare of those operators tests
  * this code; GraftOpsSpec adds one run on a non-fixture schema.
  *
  * Everything here is a narrow map, a broadcast-threshold join, or a
  * banded candidate join — the per-operator scale notes live with the
  * fixture queries (SURVEY §2) and apply unchanged.
  */
object GraftOps {

  /** Native as-of join (backward/forward/nearest, payload-complete) —
    * see [[graft.plans.AsofJoinApi.asofJoin]]. Nearest requires BIGINT
    * times (the delta needs arithmetic, not just an ordering).
    */
  def asofJoin(s: SparkSession, left: DataFrame, right: DataFrame,
      leftKeyCol: String, rightKeyCol: String,
      leftTimeCol: String, rightTimeCol: String,
      rightTiebreak: Seq[String] = Nil,
      forward: Boolean = false,
      nearest: Boolean = false): DataFrame =
    graft.plans.AsofJoinApi.asofJoin(s, left, right, leftKeyCol,
      rightKeyCol, leftTimeCol, rightTimeCol, rightTiebreak, forward,
      nearest)

  /** Deterministic content-hash sample: keep rows whose md5(hashCol)
    * first hex digit falls in the lowest `sixteenths`/16 of the hash
    * space. Repeatable across runs, partitionings, and engines;
    * disjoint samples come from disjoint digit ranges.
    */
  def hashSample(df: DataFrame, hashCol: String,
      sixteenths: Int): DataFrame = {
    require(sixteenths >= 1 && sixteenths <= 16,
      s"sixteenths must be 1..16, got $sixteenths")
    // 16/16 must be a no-op filter: toHexString(16) = "10" compares
    // LEXICOGRAPHICALLY against single hex digits ("2" < "10" is
    // false), so the full-sample case cannot go through the digit
    // comparison at all. The explicit string cast (r14, caught by
    // QuickstartDocSpec) admits numeric id columns — md5 only
    // implicit-casts from STRING, so a BIGINT id failed analysis; for
    // string callers the cast is the identity, so membership is
    // unchanged.
    if (sixteenths == 16) df
    else df.filter(substring(md5(col(hashCol).cast("string")), 1, 1) <
      java.lang.Integer.toHexString(sixteenths))
  }

  /** Content-hash-stable train/val/test split column: 256 uniform
    * md5-prefix levels cut at ~80/10/10. A row never migrates between
    * splits when the corpus around it changes.
    */
  def hashSplit(df: DataFrame, hashCol: String,
      splitName: String = "split"): DataFrame =
    // string cast as in hashSample: identity for string columns,
    // admits numeric ids. The prefix is its own column so md5 runs
    // once per row: CollapseProject does not inline a non-trivial
    // alias that the CASE reads twice.
    df.withColumn("__h2", substring(md5(col(hashCol).cast("string")), 1, 2))
      .withColumn(splitName, when(col("__h2") < "cd", "train")
        .when(col("__h2") < "e7", "val").otherwise("test"))
      .drop("__h2")

  /** Integer-exact quality-score columns over a whitespace-tokenized
    * text column: token count, mean token length (centi-chars),
    * stopword and short-token ratios in basis points, and the
    * tok_cnt>=20 && stop_bp<4000 gate.
    */
  def qualityScore(df: DataFrame, textCol: String,
      stopwords: Seq[String] = Seq("the", "a", "and", "of", "to")): DataFrame = {
    val toks = split(col(textCol), " ")
    val stop = array(stopwords.map(lit): _*)
    // passes_gate recomputes the stop_bp expression rather than reading
    // the column: reading it would keep one more Project in the plan
    df.withColumn("tok_cnt", size(toks).cast("long"))
      .withColumn("char_cnt",
        aggregate(transform(toks, t => length(t).cast("long")),
          lit(0L), (acc, v) => acc + v))
      .withColumn("stop_cnt",
        size(filter(toks, t => array_position(stop, t) > 0)).cast("long"))
      .withColumn("short_cnt",
        size(filter(toks, t => length(t) <= lit(2))).cast("long"))
      .withColumns(ListMap(
        "mean_tok_len_c" -> expr("char_cnt * 100 div tok_cnt"),
        "stop_bp" -> expr("stop_cnt * 10000 div tok_cnt"),
        "short_bp" -> expr("short_cnt * 10000 div tok_cnt"),
        "passes_gate" -> (col("tok_cnt") >= 20 &&
          expr("stop_cnt * 10000 div tok_cnt") < 4000)))
      .drop("char_cnt", "stop_cnt", "short_cnt")
  }

  /** Token-count columns: whitespace tokens, BPE-ish regex tokens
    * (letter runs / digit runs / single other chars), distinct tokens.
    */
  def tokenCounts(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("ws_tokens",
        size(split(col(textCol), " ")).cast("long"))
      .withColumn("re_tokens",
        size(regexp_extract_all(col(textCol),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long"))
      .withColumn("distinct_tokens",
        size(array_distinct(split(col(textCol), " "))).cast("long"))

  /** Document-boundary token-budget packing: within each shard
    * (`shardCol`), rows in `orderCol` order are assigned to bin
    * floor(tokens_before / budget) — one window cumsum, no sequential
    * loop; long documents simply start their own bins.
    */
  def packTokenBudget(df: DataFrame, shardCol: String, orderCol: String,
      textCol: String, budget: Int = 4096): DataFrame =
    df.withColumn("n_toks", size(split(col(textCol), " ")))
      .withColumn("bin", expr(
        s"(sum(n_toks) OVER (PARTITION BY `$shardCol` ORDER BY `$orderCol` " +
          s"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_toks) div $budget"))

  /** MinHash + LSH near-duplicate pairs over a text column: 3-word
    * shingles → 64-bit hashed shingle sets → `numPerm`-permutation
    * signature (codegen'd MinHashSigExpr) → `bands` band digests →
    * band-bucket self-join → exact Jaccard (over the hashed sets) on
    * cohabitants only. Returns distinct (id_a, id_b) with
    * jaccard >= `jaccardMin`, id_a < id_b. Never all-pairs: candidate
    * volume ∝ Σ bucket².
    */
  def minhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
      numPerm: Int = 16, bands: Int = 4,
      jaccardMin: Double = 0.4): DataFrame =
    minhashPairs(
      withShingleHashes(
        df.select(col(idCol).as("__id"), col(textCol).as("__text")), "__text")
        .select(col("__id"), col("hset")),
      numPerm, bands, jaccardMin)

  /** Adds `hset`: the distinct xxhash64 digests of `textCol`'s 3-word
    * shingles (a text under 3 words is one shingle). One string hash
    * per distinct shingle; the signature permutations then re-hash
    * longs, not strings.
    */
  private[graft] def withShingleHashes(df: DataFrame,
      textCol: String): DataFrame =
    df.withColumn("__toks", split(col(textCol), " "))
      .withColumn("__shingles",
        when(size(col("__toks")) < 3, array(array_join(col("__toks"), " ")))
          .otherwise(expr(
            "transform(sequence(0, size(__toks) - 3), " +
              "i -> concat_ws(' ', slice(__toks, i + 1, 3)))")))
      .withColumn("hset",
        expr("array_distinct(transform(__shingles, s -> xxhash64(s)))"))
      .drop("__toks", "__shingles")

  /** The hset → signature → banded pairs step of
    * [[minhashCandidatePairs]] over `(__id, hset)` rows. The signature
    * is the codegen'd MinHashSigExpr (bit-identical to the interpreted
    * `transform(sequence(0, numPerm - 1), i -> array_min(transform(hset,
    * h -> xxhash64(h, i))))`, asserted in SimilaritySpec). The hashed
    * shingle set (~8 B/shingle) rides the band join, so exact Jaccard
    * is one map step on the matched pair; a pair matching in k bands
    * is scored k times, then de-duplicated.
    */
  private[graft] def minhashPairs(hsets: DataFrame, numPerm: Int,
      bands: Int, jaccardMin: Double): DataFrame = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    val rows = numPerm / bands
    val banded = hsets
      .withColumn("sig",
        graft.functions.MinHashSigExpr.sig(col("hset"), numPerm))
      .select(col("__id"), col("hset"),
      posexplode(expr(
        s"transform(sequence(0, ${bands - 1}), " +
          s"b -> xxhash64(concat_ws(',', slice(sig, b * $rows + 1, $rows))))"))
        .as(Seq("band", "band_sig")))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_sig") === col("b.band_sig") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        (size(array_intersect(col("a.hset"), col("b.hset")))
          .cast("double") /
          size(array_union(col("a.hset"), col("b.hset")))).as("jaccard"))
      .filter(col("jaccard") >= jaccardMin)
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Exact substring-level dedup statistics (Lee et al. 2022) over
    * caller-named columns: per row, overlapping-`k`-token-gram count,
    * grams occurring >= 2 times corpus-wide, longest duplicated token
    * span, and basis-point coverage — the `dedup_substring` tree.
    */
  def substringDupStats(df: DataFrame, idCol: String, textCol: String,
      k: Int = 10): DataFrame =
    graft.operators.LlmQueries.substringDupStats(
      df.select(col(idCol).as("doc_id"), col(textCol).as("text")), k)

  /** Exact substring-level dedup REMOVAL over caller-named columns:
    * canonical-first-survives span deletion + digest-proven reassembly
    * — the `dedup_substring_remove` tree.
    */
  def substringRemove(df: DataFrame, idCol: String, textCol: String,
      k: Int = 10): DataFrame =
    graft.operators.LlmQueries.substringRemove(
      df.select(col(idCol).as("doc_id"), col(textCol).as("text")), k)

  /** Interval×interval OVERLAP join via week tiling: each side
    * explodes to the 7-day tiles it touches, the join is an EQUI join
    * on tile with the exact overlap residual, and `distinct` collapses
    * pairs sharing several tiles — O(n·tiles + true pairs), never the
    * nested loop Spark would plan for a raw theta overlap. Start/end
    * columns must be DateType, ends inclusive. Returns all left
    * columns + all right columns of the overlapping pairs, distinct.
    */
  def intervalOverlapJoin(left: DataFrame, leftStart: String,
      leftEnd: String, right: DataFrame, rightStart: String,
      rightEnd: String): DataFrame = {
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"rename overlapping columns before joining: ${overlap.mkString(", ")}")
    val epoch = lit("1970-01-01")
    def tiled(df: DataFrame, s0: String, e0: String) =
      df.withColumn("__tile", explode(sequence(
        floor(datediff(col(s0), epoch) / 7),
        floor(datediff(col(e0), epoch) / 7))))
    val outCols = (left.columns ++ right.columns).map(col).toSeq
    tiled(left, leftStart, leftEnd)
      .join(tiled(right, rightStart, rightEnd), Seq("__tile"))
      .filter(col(leftStart) <= col(rightEnd) &&
        col(rightStart) <= col(leftEnd))
      .select(outCols: _*)
      .distinct()
  }

  /** Exact integer covariance NUMERATORS of a float-vector column:
    * components milli-quantized, upper-triangle n·ΣXᵢXⱼ − ΣXᵢ·ΣXⱼ as
    * BIGINT — associative, partitioning-invariant. Returns (i, j,
    * cov_num, n) with 1-based dims, i <= j. Divide by n² for the
    * covariance itself. One scan + the mergeable GramCovAgg
    * sufficient-stats buffer (~d²/2 longs per partition) — no N·d²
    * row materialization (r10, matching `emb_covariance`). `idCol` is
    * retained for source compatibility; the aggregate no longer needs
    * a row id.
    */
  def covarianceNumerators(df: DataFrame, vecCol: String,
      idCol: String): DataFrame = {
    df(idCol) // validate eagerly: the aggregate no longer reads the id
              // column, but a typo'd name must still fail analysis
              // here instead of being silently accepted (r10 review)
    df.select(expr(
        s"transform($vecCol, x -> cast(round(cast(x as double) * 1000.0) as bigint))")
        .as("q"))
      .agg(graft.functions.GramCovAgg.gram(col("q")).as("st"))
      .select(explode(col("st")).as("e"))
      .select(col("e.i").as("i"), col("e.j").as("j"),
        col("e.cov_num").as("cov_num"), col("e.n").as("n"))
  }

  /** Per-entity bucket cuts fitted as EXACT disc-quantiles over the
    * deterministic 25% content-hash sample — the scale-safe threshold
    * recipe (fit small, apply map-side). Returns one row per entity
    * with a `cuts` array aligned to `probs`. Join it back broadcast
    * and compare.
    */
  def sampledQuantileCuts(df: DataFrame, entityCol: String,
      valueCol: String, hashCol: String,
      probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p < 1),
      s"probs must be non-empty fractions in (0, 1), got $probs")
    val aggs = probs.zipWithIndex.map { case (p, i) =>
      expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY `$valueCol`)")
        .as(s"__c$i")
    }
    hashSample(df, hashCol, 4)
      .groupBy(col(entityCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(entityCol),
        array(probs.indices.map(i => col(s"__c$i")): _*).as("cuts"))
  }

  /** Weighted median per group: smallest `valueCol` whose cumulative
    * `weightCol` reaches half the group total (the `agg_weighted_median`
    * tree over caller columns — all-integer when the inputs are;
    * `valueCol` must be integral). Bucketed two-pass distributed
    * selection: pass 1 locates the crossing bucket on the O(#buckets)
    * per-group histogram, pass 2 pins the exact value inside that one
    * bucket — no stage sorts more than max(#buckets, bucket-slice)
    * rows per group at any corpus size. Truncating `div` buckets are
    * order-preserving intervals for negative values too. Output: one
    * row per group with `n_rows`, `total_w`, `wmed`.
    */
  def weightedMedian(df: DataFrame, groupCol: String,
      valueCol: String, weightCol: String,
      bucketWidth: Long = 65536L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    val bucketed = df.withColumn("__bkt",
      expr(s"`$valueCol` div $bucketWidth"))
    val bw = bucketed.groupBy(col(groupCol), col("__bkt"))
      .agg(sum(col(weightCol)).as("__bw"), count(lit(1)).as("__bn"))
    val cumW = Window.partitionBy(col(groupCol)).orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bw.withColumn("__cum", sum(col("__bw")).over(cumW))
    val tot = bw.groupBy(col(groupCol))
      .agg(sum(col("__bw")).as("total_w"), sum(col("__bn")).as("n_rows"))
    val crossing = cum.join(broadcast(tot), groupCol)
      .filter(col("__cum") * 2 >= col("total_w"))
      .groupBy(col(groupCol), col("total_w"), col("n_rows"))
      .agg(min_by(struct(col("__bkt"), (col("__cum") - col("__bw")).as("below")),
        col("__bkt")).as("__cb"))
      .select(col(groupCol), col("total_w"), col("n_rows"),
        col("__cb.__bkt").as("__cbkt"), col("__cb.below").as("__below"))
    val inBkt = bucketed.join(broadcast(crossing), Seq(groupCol))
      .filter(col("__bkt") === col("__cbkt"))
      .groupBy(col(groupCol), col("total_w"), col("n_rows"),
        col("__below"), col(valueCol))
      .agg(sum(col(weightCol)).as("__vw"))
    val cumV = Window.partitionBy(col(groupCol)).orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    inBkt.withColumn("__cum_in", sum(col("__vw")).over(cumV))
      .filter((col("__below") + col("__cum_in")) * 2 >= col("total_w"))
      .groupBy(col(groupCol), col("total_w"), col("n_rows"))
      .agg(min(col(valueCol)).as("wmed"))
      .select(col(groupCol), col("n_rows"), col("total_w"), col("wmed"))
  }

  /** Per-key CUSUM drift statistic: max |running sum of deviations
    * from the key mean| over the (orderCols) order — the
    * `ts_cusum` tree over caller columns. Integer-exact when
    * `valueCol` is integral. Output: key, n_events, mean (integer
    * div), max_abs_cusum.
    */
  def cusum(df: DataFrame, keyCol: String, valueCol: String,
      orderCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    val m = df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_events"), sum(col(valueCol)).as("__sum"))
      .withColumn("mean", expr("__sum div n_events")).drop("__sum")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.join(m, keyCol)
      .withColumn("__cusum", sum(col(valueCol) - col("mean")).over(w))
      .groupBy(col(keyCol), col("n_events"), col("mean"))
      .agg(max(abs(col("__cusum"))).as("max_abs_cusum"))
  }

  /** Per-key lag-1 autocorrelation from exact integer sufficient
    * statistics (the `ts_autocorr` tree over caller columns): NULL
    * for keys with < 2 rows or zero variance on either side.
    * Output: key, n_pairs, lag1_corr.
    */
  def lag1Autocorr(df: DataFrame, keyCol: String, valueCol: String,
      orderCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(orderCols.map(col): _*)
    val st = df
      .withColumn("__y", lead(col(valueCol), 1).over(w))
      .filter(col("__y").isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col(valueCol)).cast("double").as("sx"),
        sum(col("__y")).cast("double").as("sy"),
        sum(col(valueCol) * col("__y")).cast("double").as("sxy"),
        sum(col(valueCol) * col(valueCol)).cast("double").as("sxx"),
        sum(col("__y") * col("__y")).cast("double").as("syy"))
    st.select(col(keyCol), col("n").cast("long").as("n_pairs"),
      when((col("n") * col("sxx") - col("sx") * col("sx")) === 0.0 ||
           (col("n") * col("syy") - col("sy") * col("sy")) === 0.0, lit(null))
        .otherwise((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
           sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
        .as("lag1_corr"))
  }
}
