package graft

import org.apache.spark.sql.functions._

/** Invariant pins for the r6 scoring/compression operators:
  * `text_bm25_topk`, `emb_quantize_int8`, and `ts_outlier_mad`.
  */
class RobustOpsSpec extends SparkSpecBase {

  test("emb_quantize_int8: quantized range and extreme-element pin") {
    val out = SparkEntry.queries("emb_quantize_int8")(spark, sfDir).cache()
    // |q_i| <= 127 always implies L1 <= 127 * dim
    assert(out.filter(col("l1_q") > col("dim") * 127).count() === 0)
    // the max-|x| element always quantizes to exactly +/-127, so a
    // non-degenerate vector has L1 >= 127
    assert(out.filter(col("scale_u") > 0 && col("l1_q") < 127)
      .count() === 0)
    assert(out.filter(col("nnz_q") > col("dim")).count() === 0)
    out.unpersist()
  }

  test("emb_quantize_int8: formula pin incl. the all-zero vector") {
    // the operator's exact lambda on known vectors: [3, -6, 0] has
    // maxabs 6 -> q = [64, -127, 0] (3*127/6 = 63.5 rounds HALF_UP
    // to 64); the zero vector quantizes to zeros with scale 0
    val rows = spark.sql(
      """SELECT transform(v, x -> CASE WHEN m = 0.0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST(round(x * 127.0 / m) AS BIGINT) END) AS q
        |FROM (
        |  SELECT v, aggregate(v, cast(0.0 as double),
        |    (a, x) -> greatest(a, abs(x))) AS m
        |  FROM VALUES (array(3.0D, -6.0D, 0.0D)),
        |              (array(0.0D, 0.0D, 0.0D)) AS t(v)
        |)""".stripMargin).collect()
    assert(rows(0).getSeq[Long](0) === Seq(64L, -127L, 0L))
    assert(rows(1).getSeq[Long](0) === Seq(0L, 0L, 0L))
  }

  test("text_bm25_topk: ranked, bounded, and term-grounded") {
    val out = SparkEntry.queries("text_bm25_topk")(spark, sfDir).collect()
    assert(out.length <= 20 && out.nonEmpty)
    // descending by score with doc_id tiebreak — already the output
    // order; re-assert it holds
    val scores = out.map(r => (r.getAs[Long]("bm25_u"), r.getAs[Long]("doc_id")))
    assert(scores.sameElements(scores.sortBy(t => (-t._1, t._2))))
    // every returned doc really contains at least one query term and
    // matched at most the 3 query terms
    assert(out.forall(r => r.getAs[Long]("n_terms") >= 1 &&
      r.getAs[Long]("n_terms") <= 3))
    val ids = out.map(_.getAs[Long]("doc_id")).toSeq
    def arrayOverlapCount = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id").isin(ids: _*))
      .filter(arrays_overlap(split(col("text"), " "),
        array(lit("query"), lit("join"), lit("fast"))))
      .count()
    assert(arrayOverlapCount === ids.length.toLong)
  }

  test("ann_pq_topk: codes and ADC agree with an independent recompute") {
    // recompute the PQ encode + ADC in plain Scala (no Spark
    // expressions) for the returned top-10 and compare exactly
    val cent: IndexedSeq[Double] =
      for {
        m <- 0 until 8; k <- 0 until 4; j <- 0 until 8
      } yield (((m * 131 + k * 47 + j * 13) % 19) - 9) / 9.0
    val q: IndexedSeq[Double] =
      (0 until 64).map(i => (((i * 31) % 17) - 8) / 8.0)
    def subDist(v: IndexedSeq[Double], m: Int, k: Int): Double = {
      var a = 0.0
      var j = 0
      while (j < 8) {
        val diff = v(m * 8 + j) - cent((m * 4 + k) * 8 + j)
        a += diff * diff
        j += 1
      }
      a
    }
    val out = SparkEntry.queries("ann_pq_topk")(spark, sfDir).collect()
    assert(out.length === 10)
    val embByIdRows: Map[Long, IndexedSeq[Double]] =
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .collect().map { r =>
          r.getAs[Long]("vec_id") ->
            r.getSeq[Float](r.fieldIndex("embedding"))
              .map(_.toDouble).toIndexedSeq
        }.toMap
    out.foreach { r =>
      val v = embByIdRows(r.getAs[Long]("vec_id"))
      val codes = (0 until 8).map { m =>
        val ds = (0 until 4).map(k => subDist(v, m, k))
        ds.indexOf(ds.min)
      }
      val pack = codes.foldLeft(0L)((a, c) => a * 4 + c)
      assert(r.getAs[Long]("code_pack") === pack)
      val adc = (0 until 8).foldLeft(0.0)((a, m) =>
        a + subDist(q, m, codes(m)))
      assert(r.getAs[Long]("adc_u") === math.round(adc * 1e6))
    }
  }

  test("agg_linreg: residuals sum to ~zero (the OLS normal equation)") {
    val res = SparkEntry.queries("agg_linreg")(spark, sfDir).collect()
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_returnflag"), col("l_quantity"),
        col("l_extendedprice")).collect()
      .groupBy(_.getString(0))
    res.foreach { r =>
      val (slope, icept) = (r.getAs[Double]("slope"),
        r.getAs[Double]("intercept"))
      val rows = li(r.getString(0))
      val meanResid = rows.map(x => x.getDouble(2) -
        (icept + slope * x.getDouble(1))).sum / rows.length
      val meanY = rows.map(_.getDouble(2)).sum / rows.length
      // the operator's sufficient statistics round to whole dollars
      // (the 2^53-exactness trade, see agg_corr_exact), so residuals
      // against the raw cents-precision values carry that rounding —
      // bounded well under 1e-6 relative
      assert(math.abs(meanResid) / meanY < 1e-6,
        s"flag ${r.getString(0)}: mean residual $meanResid vs mean $meanY")
    }
  }

  test("ts_outlier_mad: median grounded in data, outliers minority") {
    val out = SparkEntry.queries("ts_outlier_mad")(spark, sfDir).cache()
    assert(out.filter(col("mad") < 0).count() === 0)
    assert(out.filter(col("n_outliers") * 2 > col("n_events")).count() === 0,
      "more than half a user's events flagged as outliers")
    // each user's median is an ACTUAL value of that user (disc pick)
    val ev = Tables.events(spark, sfDir).select(col("user_id"), col("value"))
    val missing = out.select(col("user_id"), col("med"))
      .join(ev, out("user_id") === ev("user_id") &&
        out("med") === ev("value"), "left_anti")
    assert(missing.count() === 0)
    out.unpersist()
  }

  test("ts_outlier_mad: NULL values count as events, an all-NULL user " +
    "gets NULL med/mad") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mad_null")
    try {
      // user 1: 1, 2, 100 and one NULL; user 2: NULLs only
      Seq[(Long, Long, Long, String, Option[Double], String)](
          (1L, 1000L, 1L, "view", Some(1.0), "{}"),
          (2L, 2000L, 1L, "view", Some(2.0), "{}"),
          (3L, 3000L, 1L, "view", Some(100.0), "{}"),
          (4L, 4000L, 1L, "view", None, "{}"),
          (5L, 1000L, 2L, "view", None, "{}"),
          (6L, 2000L, 2L, "view", None, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$dir/events.parquet")
      val got = SparkEntry.queries("ts_outlier_mad")(spark, dir.toString)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), Option(r.get(2)), Option(r.get(3)), r.getLong(4)))
        .toMap
      // med = 2 of {1, 2, 100}, devs {0, 1, 98}: mad = 1, one outlier
      assert(got(1L) == ((4L, Some(2.0), Some(1.0), 1L)))
      assert(got(2L) == ((2L, None, None, 0L)))
    } finally TempDirs.deleteRecursively(dir)
  }

  test("ts_outlier_sampled: thresholds track the exact MAD within tolerance") {
    // the production (sample-thresholded) path must agree with the
    // exact operator up to sampling noise: per-user medians within one
    // exact MAD for >= 80% of users (a ~16-events/user sample at
    // sf0.001 is genuinely noisy), and the corpus-level outlier total
    // within 2x either way — a wrong sample predicate or a broken
    // threshold join blows far past these bands
    val exact = SparkEntry.queries("ts_outlier_mad")(spark, sfDir)
      .select(col("user_id"), col("med").as("med_x"), col("mad").as("mad_x"),
        col("n_outliers").as("out_x"))
    val sampled = SparkEntry.queries("ts_outlier_sampled")(spark, sfDir)
      .select(col("user_id"), col("med").as("med_s"), col("mad").as("mad_s"),
        col("n_outliers").as("out_s"))
    val j = exact.join(sampled, "user_id").cache()
    val n = j.count()
    assert(n > 0)
    // sampled output covers (nearly) every user the exact one does
    assert(n >= exact.count() * 9 / 10)
    val offMed = j.filter(
      abs(col("med_s") - col("med_x")) > col("mad_x") * 1.0 + lit(1e-9)).count()
    assert(offMed * 5 <= n,
      s"$offMed of $n users have a sampled median off by > 1 MAD")
    val sums = j.agg(sum(col("out_x")).as("sx"), sum(col("out_s")).as("ss"))
      .head()
    val (sx, ss) = (sums.getLong(0), sums.getLong(1))
    assert(ss <= 2 * sx + 10 && sx <= 2 * ss + 10,
      s"outlier totals diverged: exact=$sx sampled=$ss")
    j.unpersist()
  }
}
