package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Doc-test for the README Quickstart (r13 VERDICT task 7): the
  * snippet the README shows must (a) appear in README.md verbatim —
  * so editing either side without the other fails here, not in a
  * user's shell — and (b) actually run, on a session configured
  * exactly as the quickstart configures it (GraftExtensions at
  * session creation), against the fixture path the snippet names.
  */
class QuickstartDocSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var savedDefault: Option[SparkSession] = None

  override def beforeAll(): Unit = {
    super.beforeAll()
    // the GraftExtensionsSpec session-isolation dance: extensions
    // apply only at session creation, and the JVM-global default must
    // be restored afterwards (suites run sequentially)
    savedDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    savedDefault.foreach { s =>
      SparkSession.setDefaultSession(s)
      SparkSession.setActiveSession(s)
    }
    super.afterAll()
  }

  /** The quickstart's load-bearing lines, verbatim as README shows
    * them. Drift guard: each must appear in README.md. */
  private val snippetLines = Seq(
    """val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")""",
    """val sample = GraftOps.hashSample(docs, "doc_id", sixteenths = 4)""",
    """val kept = GraftOps.qualityScore(docs, "text").filter(col("passes_gate"))""",
    """val dups = GraftOps.minhashCandidatePairs(docs, "doc_id", "text",""",
    """  numPerm = 16, bands = 4, jaccardMin = 0.4)""",
    """docs.createOrReplaceTempView("documents")""",
    """  "SELECT doc_id, graft_minhash_sig(" +""",
    """  "array_distinct(transform(split(text, ' '), t -> xxhash64(t))), 16)" +""",
    """  " AS sig FROM documents").show(3)""")

  test("README.md contains the quickstart snippet verbatim") {
    val readme = Files.readString(Paths.get("/root/repo/README.md"))
    snippetLines.foreach { line =>
      assert(readme.contains(line), s"README drifted from doc-test: $line")
    }
  }

  test("the quickstart snippet runs end-to-end on the named fixture") {
    import graft.api.GraftOps
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val total = docs.count()
    assert(total > 0)

    val sample = GraftOps.hashSample(docs, "doc_id", sixteenths = 4)
    val nSample = sample.count()
    // a 4/16 hash sample of a real corpus is non-empty and proper
    assert(nSample > 0 && nSample < total)

    val kept = GraftOps.qualityScore(docs, "text").filter(col("passes_gate"))
    assert(kept.columns.contains("tok_cnt") && kept.count() > 0)

    val dups = GraftOps.minhashCandidatePairs(docs, "doc_id", "text",
      numPerm = 16, bands = 4, jaccardMin = 0.4)
    assert(dups.columns.toSeq == Seq("id_a", "id_b"))
    // the fixture plants exact dups — the LSH path must surface pairs,
    // all id-ordered
    val pairs = dups.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty && pairs.forall { case (a, b) => a < b })

    docs.createOrReplaceTempView("documents")
    val sig = spark.sql(
      "SELECT doc_id, graft_minhash_sig(" +
      "array_distinct(transform(split(text, ' '), t -> xxhash64(t))), 16)" +
      " AS sig FROM documents").limit(3).collect()
    assert(sig.length == 3 &&
      sig.forall(_.getSeq[Long](1).length == 16))
  }

  test("the engine's planner additions reach the extension session once each") {
    val dir = Files.createTempDirectory("quickstart_install")
    try {
      spark.range(3).write.parquet(s"$dir/t")
      Tables.parquet(spark, s"$dir/t")
      Tables.parquet(spark, s"$dir/t")
    } finally TempDirs.deleteRecursively(dir)
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    assert(state.planner.strategies.count(_ == graft.plans.AsofJoinStrategy) == 1)
    // the extension injects no optimizer rule: this is the rule's one path
    assert(spark.experimental.extraOptimizations == Seq(graft.plans.SmallFinalSort))
  }
}
