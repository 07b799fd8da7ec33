package graft

import org.apache.spark.sql.functions._

/** Hand-computed invariants for `dedup_chunk_global` (the oracle proves
  * cross-engine agreement; this proves the semantics are the INTENDED
  * ones on a fixture small enough to check by hand).
  */
class ChunkDedupSpec extends SparkSpecBase {

  // 16 words = exactly 2 chunks of 8. docs:
  //   10: [A B]  (chunks A and B)
  //   20: [A C]  (chunk A is a cross-doc duplicate of doc 10's)
  //   30: [B B]  (both chunks identical — in-doc duplicate, and a
  //              cross-doc duplicate of doc 10's second chunk)
  private val chunkA = (1 to 8).map(i => s"a$i").mkString(" ")
  private val chunkB = (1 to 8).map(i => s"b$i").mkString(" ")
  private val chunkC = (1 to 8).map(i => s"c$i").mkString(" ")

  private def run() = {
    import spark.implicits._
    val docs = Seq(
      (10L, s"$chunkA $chunkB", "en", "src0", 0L),
      (20L, s"$chunkA $chunkC", "en", "src0", 0L),
      (30L, s"$chunkB $chunkB", "en", "src0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = TempDirs.once("chunk_dedup_spec", "tiny") { dir =>
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }
    SparkEntry.queries("dedup_chunk_global")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
  }

  test("first occurrence survives; later cross-doc and in-doc copies drop") {
    val rows = run()
    val byId = rows.map(r => r._1 -> r).toMap
    // doc 10 owns the first occurrence of both its chunks: all kept
    assert(byId(10L)._2 == 2 && byId(10L)._3 == 2)
    // doc 20 loses chunk A (first seen in doc 10), keeps C
    assert(byId(20L)._2 == 2 && byId(20L)._3 == 1)
    // doc 30 loses BOTH copies of B (first seen in doc 10)
    assert(byId(30L)._2 == 2 && byId(30L)._3 == 0)
  }

  test("rebuilt digests are the surviving chunks in position order") {
    val rows = run().map(r => r._1 -> r._4).toMap
    def h(s: String) = org.apache.commons.codec.digest.DigestUtils.md5Hex(s)
    assert(rows(10L) == h(s"$chunkA $chunkB"))
    assert(rows(20L) == h(chunkC))
    assert(rows(30L) == h(""))
  }
}
