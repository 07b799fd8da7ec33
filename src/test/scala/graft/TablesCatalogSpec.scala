package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The session catalog: `Tables.table` reads exactly what a fresh
  * `spark.read.parquet` reads, resolves an unchanged path once per
  * session and a rewritten one again; `Tables.view` registers an
  * unchanged input once and a rewritten one again; `SessionMemo` runs
  * one init per (session, key) and keeps nothing from a failed one.
  */
class TablesCatalogSpec extends SparkSpecBase {

  private val fixtureTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private def jobsDuring(f: => Unit): Int = workDuring(f)._1

  test("every fixture table reads like a fresh spark.read.parquet") {
    fixtureTables.foreach { t =>
      val cached = Tables.table(spark, sfDir, t)
      val fresh = spark.read.parquet(s"$sfDir/$t.parquet")
      assert(cached.schema == fresh.schema, t)
      assert(cached.collect().toSeq == fresh.collect().toSeq, t)
    }
  }

  test("a second Tables.table on an unchanged path starts no Spark job") {
    val s = spark.newSession()
    val first = jobsDuring(Tables.table(s, sfDir, "lineitem"))
    val second = jobsDuring(Tables.table(s, sfDir, "lineitem"))
    assert(first >= 1, "the first read must infer the schema")
    assert(second == 0, s"the second read started $second job(s)")
  }

  test("a path rewritten with a different schema is resolved again") {
    val dir = Files.createTempDirectory("tables_catalog")
    val path = s"$dir/t.parquet"
    try {
      spark.range(3).toDF("a").write.mode("overwrite").parquet(path)
      assert(Tables.table(spark, dir.toString, "t").columns.toSeq == Seq("a"))
      spark.range(3)
        .select(col("id").cast("string").as("b"), col("id").cast("int").as("c"))
        .write.mode("overwrite").parquet(path)
      val t = Tables.table(spark, dir.toString, "t")
      assert(t.columns.toSeq == Seq("b", "c"))
      assert(t.collect().map(_.getString(0)).sorted.toSeq == Seq("0", "1", "2"))
    } finally TempDirs.deleteRecursively(dir)
  }

  test("Tables.view registers once per input and again after a rewrite") {
    val dir = Files.createTempDirectory("tables_view")
    val path = s"$dir/t.parquet"
    val s = spark.newSession()
    def registered(v: String) =
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.catalog.getRawTempView(v).get
    try {
      spark.range(3).toDF("a").write.parquet(path)
      val v = Tables.view(s, dir.toString, "t")
      val first = registered(v)
      assert(jobsDuring(assert(Tables.view(s, dir.toString, "t") == v)) == 0)
      assert(registered(v) eq first, "an unchanged input replaced the view")
      spark.range(5).toDF("a").write.mode("overwrite").parquet(path)
      assert(Tables.view(s, dir.toString, "t") == v)
      assert(!(registered(v) eq first), "a rewritten input kept the old view")
      assert(s.table(v).count() == 5)
    } finally TempDirs.deleteRecursively(dir)
  }

  test("sql_exists_subquery on two fixture dirs in one session returns each dir's rows") {
    val other = sfDir.replace("sf0.001", "sf0.01")
    def expected(d: String) = {
      val big = spark.read.parquet(s"$d/orders.parquet")
        .filter(col("o_totalprice") > 200000.0)
      spark.read.parquet(s"$d/customer.parquet")
        .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey")).collect().toSeq
    }
    val q = SparkEntry.queries("sql_exists_subquery")
    val small = q(spark, sfDir)
    val large = q(spark, other)
    val again = q(spark, sfDir)
    val (e1, e2) = (expected(sfDir), expected(other))
    assert(e1 != e2)
    assert(small.collect().toSeq == e1)
    assert(large.collect().toSeq == e2)
    assert(again.collect().toSeq == e1)
  }

  test("eight concurrent callers of one (session, key) get one child session") {
    val s = spark.newSession()
    val inits = new AtomicInteger
    val gate = new CyclicBarrier(8)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map(_ => pool.submit(new Callable[SparkSession] {
        def call(): SparkSession = {
          gate.await()
          SessionMemo(s, "spec_child") {
            inits.incrementAndGet(); Thread.sleep(50); s.newSession()
          }
        }
      }))
      val children = futures.map(_.get(60, TimeUnit.SECONDS))
      assert(inits.get == 1)
      assert(children.forall(_ eq children.head))
      assert(!(children.head eq s))
    } finally pool.shutdownNow()
  }

  test("two parent sessions get two distinct children") {
    val (p1, p2) = (spark.newSession(), spark.newSession())
    val c1 = SessionMemo(p1, "spec_child")(p1.newSession())
    val c2 = SessionMemo(p2, "spec_child")(p2.newSession())
    assert(!(c1 eq c2))
    assert(SessionMemo[SparkSession](p1, "spec_child")(sys.error("cached")) eq c1)
  }

  test("an init that throws stores nothing, so the next call succeeds") {
    val s = spark.newSession()
    var inits = 0
    intercept[IllegalStateException](SessionMemo[SparkSession](s, "spec_retry") {
      inits += 1; throw new IllegalStateException("boom")
    })
    val c = SessionMemo(s, "spec_retry") { inits += 1; s.newSession() }
    assert(inits == 2)
    assert(SessionMemo[SparkSession](s, "spec_retry")(sys.error("cached")) eq c)
  }
}
