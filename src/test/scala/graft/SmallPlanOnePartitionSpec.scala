package graft

import java.nio.file.Files
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, Sort, Statistics}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.util.QueryExecutionListener

import graft.plans.SmallPlanOnePartition

/** `graft.plans.SmallPlanOnePartition`: over inputs of at most
  * `SmallPlanOnePartition.MaxInputBytes`, grouped aggregates, windows
  * and global sorts run over a one-partition coalesce, so the query is
  * one stage with no exchange, and it returns the same rows in the same
  * order; a top-k, an ordered `Range`, a partition-dependent plan, a
  * streaming plan, a plain write and an input above the gate keep the
  * plans Spark gives them.
  */
class SmallPlanOnePartitionSpec extends SparkSpecBase {

  override def beforeAll(): Unit = {
    super.beforeAll()
    GraftExtensions.install(spark)
  }

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def coalesced(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.isInstanceOf[Repartition])

  // the football_batch jobs whose aggregate or window exchange the rule
  // replaces (project_cast's only exchange is its root sort's)
  private val rewritten = Seq("agg_group_sums", "agg_having", "dedup_distinct",
    "join_asof", "topk_per_group", "ts_resample_ohlc", "win_row_number")

  test("the rewritten football_batch jobs run in one stage with no exchange") {
    (rewritten :+ "project_cast").foreach { name =>
      val on = q(name)
      assert(!shuffles(plan(on)) && plan(on).contains("Coalesce 1"), s"$name\n${plan(on)}")
      val stagesOn = workDuring(on.collect())._2
      val stagesOff = withoutSmallPlanRule() {
        val off = q(name)
        assert(shuffles(plan(off)), s"$name\n${plan(off)}")
        workDuring(off.collect())._2
      }
      assert(stagesOn == 1 && stagesOff > 1, s"$name: stages with the rule $stagesOn, without $stagesOff")
    }
  }

  test("results match the exchange-planned query row for row") {
    (Seq("project_cast", "win_row_number", "topk_per_group", "agg_group_sums",
      "join_inner_broadcast", "dedup_distinct", "join_inner_shuffle", "join_skew_salted",
      "sql_exists_subquery", "sample_hash", "shuffle_global") ++ rewritten ++
      Seq("agg_cms_point", "pack_token_budget", "ts_streaks", "ts_sessionize",
        "join_asof_nearest")).distinct.foreach { name =>
      val on = q(name).collect().toSeq
      val off = withoutSmallPlanRule()(q(name).collect().toSeq)
      // agg_having's HAVING bound keeps no group at fixture size
      assert(on.nonEmpty || name == "agg_having", name)
      assert(on == off, name)
    }
  }

  test("sort_limit_topk still plans TakeOrderedAndProject") {
    val p = plan(q("sort_limit_topk"))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Coalesce"), p)
  }

  test("a sort over a one-partition input gets no coalesce") {
    // a global aggregate under Generate/Project, a union of them, and a
    // join of a global aggregate and a coalesced grouped aggregate
    Seq("profile_columns", "emb_covariance", "ts_funnel_steps", "agg_cms_point").foreach { name =>
      val df = q(name)
      val sort = df.queryExecution.optimizedPlan.collectFirst { case s @ Sort(_, true, _, _) => s }.get
      assert(!sort.child.isInstanceOf[Repartition], s"$name\n${sort.treeString}")
      assert(!plan(df).contains("rangepartitioning"), s"$name\n${plan(df)}")
    }
    assert(!coalesced(q("emb_covariance")))
  }

  test("a sort over an ordered Range is still dropped by the planner") {
    val p = plan(q("source_range"))
    assert(!p.contains("Sort") && !p.contains("Coalesce"), p)
  }

  test("a plan whose result follows its partitioning is left alone") {
    val grouped = spark.range(100).select((col("id") % 7).as("k"))
    assert(coalesced(grouped.groupBy("k").count()))
    Seq(
      grouped.withColumn("r", rand(1)).groupBy("k").agg(sum("r")),
      grouped.withColumn("m", monotonically_increasing_id()).groupBy("k").agg(max("m")),
      grouped.sample(0.5, 1L).groupBy("k").count(),
      grouped.groupBy("k").count().withColumn("p", spark_partition_id())
    ).foreach { df =>
      assert(!coalesced(df), df.queryExecution.optimizedPlan.treeString)
      assert(plan(df).contains("Exchange hashpartitioning"), plan(df))
    }
  }

  test("an input one byte over the gate keeps its exchanges") {
    val base = spark.range(100).select((col("id") % 7).as("k"))
    def sized(bytes: Long): DataFrame = {
      val leaf = LogicalRDD(base.queryExecution.analyzed.output, base.queryExecution.toRdd)(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
        Some(Statistics(sizeInBytes = bytes)))
      DatasetBridge.ofRows(spark, leaf).groupBy("k").count().orderBy("k")
    }
    val off = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // the gate is the leaves' summed size, not the broadcast threshold
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val at = sized(SmallPlanOnePartition.MaxInputBytes)
      assert(plan(at).contains("Coalesce 1") && !shuffles(plan(at)), plan(at))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", off)
    val over = sized(SmallPlanOnePartition.MaxInputBytes + 1)
    val p = plan(over)
    assert(p.contains("hashpartitioning") && p.contains("rangepartitioning") &&
      !p.contains("Coalesce"), p)
    assert(over.collect().map(_.getLong(1)).sum == 100L)
  }

  test("the rule stays on a session after an engine read and keeps a write's file layout") {
    val s = spark.newSession()
    def counts = s.range(100).select((col("id") % 7).as("k")).groupBy("k").count()
    def sorted = counts.orderBy(col("k"))
    assert(plan(sorted).contains("rangepartitioning"), plan(sorted))
    Tables.parquet(s, s"$sfDir/nation.parquet")
    // the caller's own queries now get the rule too
    assert(plan(sorted).contains("Coalesce 1") && !shuffles(plan(sorted)), plan(sorted))
    val written = new LinkedBlockingQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        written.put(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        written.put(s"failed: $e")
    }
    val dir = Files.createTempDirectory("small_plan_write")
    def files(out: String) = new java.io.File(s"$dir/$out").list().count(_.startsWith("part-"))
    s.listenerManager.register(listener)
    try {
      sorted.write.mode("overwrite").parquet(s"$dir/sorted")
      counts.write.mode("overwrite").parquet(s"$dir/grouped")
      Seq("sorted" -> "rangepartitioning", "grouped" -> "hashpartitioning").foreach { case (out, ex) =>
        val p = written.poll(60, TimeUnit.SECONDS)
        assert(p != null && p.contains(ex) && !p.contains("Coalesce"), s"$out\n$p")
      }
      withoutSmallPlanRule(s) {
        sorted.write.mode("overwrite").parquet(s"$dir/sorted_off")
        counts.write.mode("overwrite").parquet(s"$dir/grouped_off")
      }
      (1 to 2).foreach(_ => assert(written.poll(60, TimeUnit.SECONDS) != null))
      assert(files("sorted") == files("sorted_off") && files("grouped") == files("grouped_off"))
      // a coalesce(1) write is one file either way: what is under it is rewritten
      sorted.coalesce(1).write.mode("overwrite").parquet(s"$dir/out1")
      val p1 = written.poll(60, TimeUnit.SECONDS)
      assert(p1 != null && !shuffles(p1), p1)
      assert(files("out1") == 1)
    } finally {
      s.listenerManager.unregister(listener)
      TempDirs.deleteRecursively(dir)
    }
  }

  test("a streaming plan keeps its exchanges") {
    val dir = Files.createTempDirectory("small_plan_stream")
    try {
      spark.range(20).select((col("id") % 3).as("k")).write.parquet(s"$dir/in")
      Tables.parquet(spark, s"$dir/in") // the rule is installed on this session
      val counts = spark.readStream.schema("k long").parquet(s"$dir/in")
        .groupBy("k").count().orderBy(col("k"))
      val sq = counts.writeStream.format("memory").queryName("small_plan_q")
        .outputMode("complete").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$dir/ckpt").start()
      try {
        sq.awaitTermination()
        val last = sq.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
          .streamingQuery.lastExecution
        // the micro-batch reads small streaming leaves: only the
        // streaming check keeps the rule off it
        val sort = last.analyzed.collectFirst { case s: Sort => s }.get
        assert(sort.isStreaming && (SmallPlanOnePartition(sort) eq sort))
        val p = last.executedPlan.toString
        assert(p.contains("rangepartitioning") && p.contains("hashpartitioning"), p)
        assert(!p.contains("Coalesce"), p)
        assert(spark.table("small_plan_q").collect().map(_.getLong(1)).toSeq ==
          Seq(7L, 7L, 6L))
      } finally sq.stop()
    } finally TempDirs.deleteRecursively(dir)
  }
}
