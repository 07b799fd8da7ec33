package graft

import java.nio.file.Files
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.util.QueryExecutionListener

import graft.plans.SmallFinalSort

/** `graft.plans.SmallFinalSort`: a final ORDER BY over inputs of at most
  * `SmallFinalSort.MaxInputBytes` sorts in one task, with no range
  * exchange and no sampling job, and returns the same rows in the same
  * order; a top-k, an ordered `Range`, a streaming plan, a sorted write
  * and an input above the gate keep the plans Spark gives them.
  */
class SmallFinalSortSpec extends SparkSpecBase {

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("project_cast sorts in one task: no range exchange, fewer stages") {
    val on = q("project_cast")
    assert(!plan(on).contains("rangepartitioning"), plan(on))
    assert(plan(on).contains("Coalesce 1"), plan(on))
    val stagesOn = workDuring(on.collect())._2
    val stagesOff = withoutSmallFinalSort {
      val off = q("project_cast")
      assert(plan(off).contains("rangepartitioning"), plan(off))
      workDuring(off.collect())._2
    }
    assert(stagesOn < stagesOff, s"stages with the rule $stagesOn, without $stagesOff")
  }

  test("results match the range-partitioned sort row for row") {
    Seq("project_cast", "win_row_number", "topk_per_group", "agg_group_sums",
      "join_inner_broadcast", "dedup_distinct", "join_inner_shuffle", "join_skew_salted",
      "sql_exists_subquery", "sample_hash", "shuffle_global").foreach { name =>
      val on = q(name).collect().toSeq
      val off = withoutSmallFinalSort(q(name).collect().toSeq)
      assert(on.nonEmpty, name)
      assert(on == off, name)
    }
  }

  test("sort_limit_topk still plans TakeOrderedAndProject") {
    val p = plan(q("sort_limit_topk"))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Coalesce"), p)
  }

  test("a sort over a one-partition input gets no coalesce") {
    // a global aggregate under Generate/Project, and a union of them
    Seq("profile_columns", "emb_covariance", "ts_funnel_steps").foreach { name =>
      val p = plan(q(name))
      assert(!p.contains("Coalesce") && !p.contains("rangepartitioning"), s"$name\n$p")
    }
  }

  test("a sort over an ordered Range is still dropped by the planner") {
    val p = plan(q("source_range"))
    assert(!p.contains("Sort") && !p.contains("Coalesce"), p)
  }

  test("the gate is the leaves' summed size, not the broadcast threshold") {
    // a Range leaf is sized at 8 bytes a row; `% 7` drops its ordering
    def sorted(rows: Long) =
      spark.range(rows).select((col("id") % 7).as("k")).orderBy(col("k"))
    val atGate = SmallFinalSort.MaxInputBytes / 8
    val off = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(sorted(atGate))
      assert(p.contains("Coalesce 1") && !p.contains("rangepartitioning"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", off)
    val p = plan(sorted(atGate + 1))
    assert(p.contains("rangepartitioning") && !p.contains("Coalesce"), p)
  }

  test("the rule stays on a session after an engine read and keeps a write's file layout") {
    val s = spark.newSession()
    def sorted = s.range(100).select((col("id") % 7).as("k")).orderBy(col("k"))
    assert(plan(sorted).contains("rangepartitioning"), plan(sorted))
    Tables.parquet(s, s"$sfDir/nation.parquet")
    // the caller's own queries now get the rule too
    assert(plan(sorted).contains("Coalesce 1"), plan(sorted))
    val written = new LinkedBlockingQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        written.put(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        written.put(s"failed: $e")
    }
    val dir = Files.createTempDirectory("small_final_sort_write")
    s.listenerManager.register(listener)
    try {
      sorted.write.mode("overwrite").parquet(s"$dir/out")
      val p = written.poll(60, TimeUnit.SECONDS)
      assert(p != null && p.contains("rangepartitioning") && !p.contains("Coalesce"), p)
      // a coalesce(1) write is one file either way: its sort is rewritten
      sorted.coalesce(1).write.mode("overwrite").parquet(s"$dir/out1")
      val p1 = written.poll(60, TimeUnit.SECONDS)
      assert(p1 != null && !p1.contains("rangepartitioning"), p1)
    } finally {
      s.listenerManager.unregister(listener)
      TempDirs.deleteRecursively(dir)
    }
  }

  test("a streaming plan keeps its range exchange") {
    val dir = Files.createTempDirectory("small_final_sort")
    try {
      spark.range(20).select((col("id") % 3).as("k")).write.parquet(s"$dir/in")
      Tables.parquet(spark, s"$dir/in") // the rule is installed on this session
      val counts = spark.readStream.schema("k long").parquet(s"$dir/in")
        .groupBy("k").count().orderBy(col("k"))
      val sq = counts.writeStream.format("memory").queryName("small_final_sort_q")
        .outputMode("complete").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$dir/ckpt").start()
      try {
        sq.awaitTermination()
        val last = sq.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
          .streamingQuery.lastExecution
        // the micro-batch's sort reads small streaming leaves: only the
        // streaming check keeps the rule off it
        val sort = last.analyzed.collectFirst { case s: Sort => s }.get
        assert(sort.isStreaming && (SmallFinalSort(sort) eq sort))
        val p = last.executedPlan.toString
        assert(p.contains("rangepartitioning"), p)
        assert(!p.contains("Coalesce"), p)
        assert(spark.table("small_final_sort_q").collect().map(_.getLong(1)).toSeq ==
          Seq(7L, 7L, 6L))
      } finally sq.stop()
    } finally TempDirs.deleteRecursively(dir)
  }
}
