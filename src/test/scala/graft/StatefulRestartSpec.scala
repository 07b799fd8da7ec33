package graft

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.streaming.StreamingQueries
import graft.streaming.StreamingQueries.Ev

/** Checkpointed RESTART parity for the stateful pair (r4 VERDICT item
  * 7, extending `stream_sink_parquet`'s exactly-once restart check to
  * stateful state stores): the stream drains chunk A, is killed, chunk
  * B lands, and the stream restarts from the SAME checkpoint. The
  * per-user running values must come out as if the stream never
  * stopped — which requires BOTH state restoration (a fresh state
  * store would undercount every user present in both chunks, since
  * the running values are monotone and users span chunks by
  * construction) and exactly-once input tracking (a re-read of chunk
  * A after restart would emit extra rows in run 2, pinned by the
  * emission count).
  */
class StatefulRestartSpec extends SparkSpecBase {

  /** Runs `pipe` over a two-chunk file source with a kill/restart
    * between the chunks; returns (run-1 emissions, run-2 emissions,
    * distinct users in chunk B).
    */
  private def killRestart(kind: String, rocksDb: Boolean)(
      pipe: Dataset[Ev] => DataFrame)
    : (Seq[(Long, Long)], Seq[(Long, Long)], Long) = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    if (rocksDb)
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s.implicits._
    val base = TempDirs.scoped(s"restart_$kind", sfDir)
    // re-runs in one JVM start from scratch
    TempDirs.deleteRecursively(java.nio.file.Paths.get(base))
    val srcDir = s"$base/src"
    val ckpt = s"$base/ckpt"
    val ev = Tables.events(s, sfDir).select(col("event_id"), col("ts_us"),
      col("user_id"), col("event_type"), col("value"))
    // memory sinks refuse checkpoint RECOVERY, so emissions land in an
    // append-parquet dir via foreachBatch (recovery-capable), tagged
    // with the run index so each run's emissions stay separable
    val outDir = s"$base/out"
    def runOnce(runIdx: Int): Seq[(Long, Long)] = {
      val src = s.readStream.schema(Encoders.product[Ev].schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir).as[Ev]
      val q = pipe(src)
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.withColumn("run", lit(runIdx))
            .write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Update())
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      s.read.parquet(outDir).filter(col("run") === runIdx)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    // phase 1: only chunk A (even event ids) exists; drain and stop
    ev.filter(pmod(col("event_id"), lit(2)) === 0)
      .coalesce(1).write.mode("overwrite").parquet(srcDir)
    val run1 = runOnce(1)
    // phase 2: chunk B lands; restart from the SAME checkpoint
    ev.filter(pmod(col("event_id"), lit(2)) === 1)
      .coalesce(1).write.mode("append").parquet(srcDir)
    val run2 = runOnce(2)
    val usersInB = ev.filter(pmod(col("event_id"), lit(2)) === 1)
      .select(col("user_id")).distinct().count()
    (run1, run2, usersInB)
  }

  /** Final state = per-user max over all Update-mode emissions (the
    * running values are monotone). Must equal the batch computation
    * over the FULL feed.
    */
  private def finalState(runs: Seq[(Long, Long)]): Map[Long, Long] =
    runs.groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).max }

  test("stream_stateful_count state survives a kill/restart exactly-once") {
    val (run1, run2, usersInB) =
      killRestart("count", rocksDb = false)(StreamingQueries.statefulCountPipe)
    val batch = Tables.events(spark, sfDir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(finalState(run1 ++ run2) == batch)
    // exactly-once: the restarted stream processed ONLY chunk B (one
    // file → one micro-batch → one emission per user present in B); a
    // checkpoint-ignoring re-read of chunk A would emit more rows
    assert(run2.length == usersInB,
      s"run 2 emitted ${run2.length} rows for $usersInB chunk-B users")
  }

  test("stream_tws_running_sum RocksDB state survives a kill/restart " +
    "exactly-once") {
    val (run1, run2, usersInB) =
      killRestart("tws", rocksDb = true)(StreamingQueries.twsRunningSumPipe)
    val batch = Tables.events(spark, sfDir)
      .withColumn("cents",
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
          * 100).cast("long"))
      .groupBy(col("user_id")).agg(sum(col("cents")).as("total")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(finalState(run1 ++ run2) == batch)
    assert(run2.length == usersInB,
      s"run 2 emitted ${run2.length} rows for $usersInB chunk-B users")
  }
}
