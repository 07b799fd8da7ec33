package graft

import org.apache.spark.sql.functions._

/** `text_lm_score` checked against a hand-computed bigram LM on a
  * tiny synthetic corpus (exact expected millibits), plus ordering
  * invariants on the fixture corpus — the oracle proves Spark≡DuckDB,
  * this proves both match the MODEL's definition.
  */
class LmScoreSpec extends SparkSpecBase {

  /** Corpus with hand-countable statistics:
    *   doc 0 "a b a b"  bigrams (a,b) (b,a) (a,b)
    *   doc 1 "a b c"    bigrams (a,b) (b,c)
    *   doc 2 "z z"      bigrams (z,z)
    * counts: (a,b)=3 (b,a)=1 (b,c)=1 (z,z)=1; contexts a=3 b=2 z=1;
    * vocab V = |{a,b,c,z}| = 4.
    */
  private lazy val tinyDir: String =
    TempDirs.once("lm_tiny", "fixture") { dir =>
      val s = spark
      import s.implicits._
      Seq(
        (0L, "a b a b", "en", "src", 7L),
        (1L, "a b c", "en", "src", 5L),
        (2L, "z z", "en", "src", 3L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }

  private def bits(c: Long, cu: Long, v: Long): Double =
    -(math.log((c + 1).toDouble / (cu + v).toDouble) / math.log(2.0))

  test("scores equal the hand-computed add-one bigram model exactly") {
    val rows = SparkEntry.queries("text_lm_score")(spark, tinyDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val ab = bits(3, 3, 4); val ba = bits(1, 2, 4)
    val bc = bits(1, 2, 4); val zz = bits(1, 1, 4)
    // fold order is (w1, w2)-sorted: doc 0 = [ab, ab, ba]
    val exp0 = math.round((ab + ab + ba) / 3 * 1000)
    val exp1 = math.round((ab + bc) / 2 * 1000)
    val exp2 = math.round(zz / 1 * 1000)
    assert(rows(0L) == ((3L, exp0)))
    assert(rows(1L) == ((2L, exp1)))
    assert(rows(2L) == ((1L, exp2)))
  }

  test("rare-bigram text scores more bits than common-bigram text") {
    // doc 2's (z,z) is rarer than doc 0's (a,b)-heavy stream: the
    // perplexity gate must rank it as less corpus-like
    val byDoc = SparkEntry.queries("text_lm_score")(spark, tinyDir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(byDoc(2L) > byDoc(0L))
  }

  test("fixture corpus: every score is positive and n_bigrams = tokens - 1") {
    val out = SparkEntry.queries("text_lm_score")(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        (size(split(col("text"), " ")) - 1).cast("long").as("nb"))
    val joined = out.join(docs, "doc_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getAs[Long]("n_bigrams") == r.getAs[Long]("nb"))
      assert(r.getAs[Long]("bits_mbits") > 0L)
    }
  }
}
