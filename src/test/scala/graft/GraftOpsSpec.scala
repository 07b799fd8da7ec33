package graft

import org.apache.spark.sql.functions._

/** The fixture operators call the parameterized facade
  * (graft.api.GraftOps) on the fixture columns; these tests pin that
  * the facade, projected the way each operator projects it, returns
  * exactly the oracle-verified operator's rows. Plus runs on a
  * NON-fixture schema, proving the column parameterization is real.
  */
class GraftOpsSpec extends SparkSpecBase {
  import graft.api.GraftOps

  private def docs = Tables.documents(spark, sfDir)

  test("hashSample(4/16) reproduces sample_hash") {
    val got = GraftOps.hashSample(docs, "text", 4)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id")).collect().toSeq
    val want = SparkEntry.queries("sample_hash")(spark, sfDir)
      .collect().toSeq
    assert(got.nonEmpty && got == want)
  }

  test("hashSample boundary fractions: 16/16 keeps everything, 1/16 a strict subset") {
    val n = docs.count()
    assert(GraftOps.hashSample(docs, "text", 16).count() == n)
    val one = GraftOps.hashSample(docs, "text", 1).count()
    assert(one > 0 && one < n)
  }

  test("hashSplit reproduces sample_split's audit") {
    val got = GraftOps.hashSplit(docs, "text")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("sum_toks"),
        expr("bit_xor(doc_id)").as("id_xor"))
      .orderBy(col("split")).collect().toSeq
    val want = SparkEntry.queries("sample_split")(spark, sfDir)
      .collect().toSeq
    assert(got == want)
  }

  test("hashSplit computes the md5 prefix once per row") {
    import org.apache.spark.sql.catalyst.expressions.Md5
    val plan = GraftOps.hashSplit(docs, "text")
      .queryExecution.optimizedPlan
    val md5s = plan.flatMap(_.expressions.flatMap(_.collect {
      case m: Md5 => m }))
    assert(md5s.size == 1, plan.toString)
  }

  test("qualityScore reproduces text_quality_score") {
    val got = GraftOps.qualityScore(docs, "text")
      .select(col("doc_id"), col("tok_cnt"), col("mean_tok_len_c"),
        col("stop_bp"), col("short_bp"), col("passes_gate"))
      .orderBy(col("doc_id")).collect().toSeq
    val want = SparkEntry.queries("text_quality_score")(spark, sfDir)
      .collect().toSeq
    assert(got == want)
  }

  test("tokenCounts reproduces text_token_count") {
    val got = GraftOps.tokenCounts(docs, "text")
      .select(col("doc_id"), col("ws_tokens"), col("re_tokens"),
        col("distinct_tokens"))
      .orderBy(col("doc_id")).collect().toSeq
    val want = SparkEntry.queries("text_token_count")(spark, sfDir)
      .collect().toSeq
    assert(got == want)
  }

  test("packTokenBudget reproduces pack_token_budget") {
    val got = GraftOps.packTokenBudget(docs, "lang", "doc_id", "text")
      .select(col("lang"), col("doc_id"), col("n_toks"), col("bin"))
      .orderBy(col("lang"), col("doc_id")).collect().toSeq
    val want = SparkEntry.queries("pack_token_budget")(spark, sfDir)
      .collect().toSeq
    assert(got == want)
  }

  test("minhashCandidatePairs reproduces dedup_minhash") {
    val got = GraftOps.minhashCandidatePairs(docs, "doc_id", "text")
      .orderBy(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = SparkEntry.queries("dedup_minhash")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("sampledQuantileCuts matches text_topfrac_sampled's thresholds") {
    val scored = GraftOps.qualityScore(docs, "text")
      .withColumn("score",
        lit(20000L) - col("stop_bp") - col("short_bp"))
    val cuts = GraftOps.sampledQuantileCuts(scored, "source", "score",
        "text", Seq(0.7))
      .select(col("source"), element_at(col("cuts"), 1).as("thr"))
      .collect()
      .map(r => r.getString(0) -> r.getAs[Number](1).longValue()).toMap
    // the operator's kept set must be exactly {score >= thr} per source
    val kept = SparkEntry.queries("text_topfrac_sampled")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(kept.nonEmpty && cuts.nonEmpty)
    kept.foreach { case (_, src, score) =>
      assert(score >= cuts(src), s"kept row below the facade cut in $src")
    }
    val below = scored.select(col("doc_id"), col("source"), col("score"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .filter { case (_, src, sc) => cuts.contains(src) && sc >= cuts(src) }
    assert(below.length == kept.length,
      "facade threshold keeps a different row count than the operator")
  }

  test("covarianceNumerators reproduces emb_covariance") {
    val emb = Tables.embeddings(spark, sfDir)
    val got = GraftOps.covarianceNumerators(emb, "embedding", "vec_id")
      .orderBy(col("i"), col("j")).collect().map(_.toString).toSeq
    val want = SparkEntry.queries("emb_covariance")(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("intervalOverlapJoin reproduces join_interval_overlap's pairs") {
    def side(mod: Int, lenMod: Int, id: String, s0: String, e0: String) =
      Tables.orders(spark, sfDir).filter(col("o_orderkey") % mod === 0)
        .select(col("o_orderkey").as(id),
          to_date(col("o_orderdate")).as(s0),
          date_add(to_date(col("o_orderdate")),
            (col("o_orderkey") % lenMod + 1).cast("int")).as(e0))
    val got = GraftOps.intervalOverlapJoin(
        side(97, 5, "a_id", "a_s", "a_e"), "a_s", "a_e",
        side(89, 7, "b_id", "b_s", "b_e"), "b_s", "b_e")
      .select(col("a_id"), col("b_id"))
      .orderBy(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = SparkEntry.queries("join_interval_overlap")(spark, sfDir)
      .select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("weightedMedian reproduces agg_weighted_median") {
    val li = Tables.lineitem(spark, sfDir).select(col("l_returnflag"),
      expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"),
      expr("cast(cast(l_quantity as decimal(18,0)) as long)").as("w"))
    val got = GraftOps.weightedMedian(li, "l_returnflag", "cents", "w")
      .orderBy(col("l_returnflag")).collect().toSeq
    val want = SparkEntry.queries("agg_weighted_median")(spark, sfDir)
      .collect().toSeq
    assert(got == want)
  }

  test("cusum reproduces ts_cusum") {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
    val got = GraftOps.cusum(ev, "user_id", "cents",
        Seq("ts_us", "event_id"))
      .select(col("user_id"), col("n_events"), col("mean").as("mean_cents"),
        col("max_abs_cusum"))
      .orderBy(col("user_id")).collect().toSeq
    val want = SparkEntry.queries("ts_cusum")(spark, sfDir)
      .collect().toSeq
    assert(got == want)
  }

  test("lag1Autocorr reproduces ts_autocorr") {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
    val got = GraftOps.lag1Autocorr(ev, "user_id", "cents",
        Seq("ts_us", "event_id"))
      .orderBy(col("user_id")).collect().toSeq
    val want = SparkEntry.queries("ts_autocorr")(spark, sfDir)
      .collect().toSeq
    assert(got == want)
  }

  test("substringDupStats / substringRemove reproduce the fixture operators") {
    val gotStats = GraftOps.substringDupStats(
        docs.select(col("doc_id").as("rid"), col("text").as("body")),
        "rid", "body")
      .collect().toSeq
    val wantStats = SparkEntry.queries("dedup_substring")(spark, sfDir)
      .collect().toSeq
    assert(gotStats.nonEmpty && gotStats == wantStats)
    val gotRm = GraftOps.substringRemove(
        docs.select(col("doc_id").as("rid"), col("text").as("body")),
        "rid", "body")
      .collect().toSeq
    val wantRm = SparkEntry.queries("dedup_substring_remove")(spark, sfDir)
      .collect().toSeq
    assert(gotRm.nonEmpty && gotRm == wantRm)
  }

  test("the facade works on a non-fixture schema (column names are real parameters)") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma delta epsilon"),
        (2L, "alpha beta gamma delta epsilon"),
        (3L, "completely different words here now"))
      .toDF("rid", "body")
    val pairs = GraftOps.minhashCandidatePairs(df, "rid", "body",
        jaccardMin = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((1L, 2L)))
    val q = GraftOps.qualityScore(df, "body")
    assert(q.columns.contains("stop_bp") &&
      q.count() == 3 && q.filter(col("tok_cnt") === 5).count() == 3)
  }
}
