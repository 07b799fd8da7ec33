package graft

import org.apache.spark.sql.functions._

/** SURVEY.md §2.I / §5.2.5 — batch/stream parity (Dataflow-model
  * discipline): the MemoryStream replays must agree with the equivalent
  * batch computation over the same events, and watermarking must
  * actually drop the held-back late rows.
  */
class StreamingParitySpec extends SparkSpecBase {

  private def run(name: String) =
    SparkEntry.queries(name)(spark, sfDir)

  test("stream_dedup equals batch per-type counts (duplicates collapsed)") {
    val streamed = run("stream_dedup").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = Tables.events(spark, sfDir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
  }

  test("stream_topk_complete equals the batch top-3 leaderboard") {
    val streamed = run("stream_topk_complete").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(round(value * 100) as bigint)")).as("c"))
      .orderBy(col("n").desc, col("event_type").asc).limit(3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed == batch)
    assert(streamed.size == 3)
  }

  test("stream_foreachbatch_upsert equals batch latest-per-key and is restart-stable") {
    val first = run("stream_foreachbatch_upsert").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // Independent argmax over (ts_us, event_id): the 4-round versioned
    // merge must land on the same per-key latest row a single batch
    // pass computes.
    val batch = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1).view
      .mapValues(_.maxBy { case (_, ts, id, _) => (ts, id) })
      .values.toSeq
      .map { case (u, ts, id, v) => (u, ts, id, v) }
      .sortBy(_._1)
    assert(first.toSeq == batch)
    // Re-invocation restarts the stream against the same checkpoint:
    // no new source files, so no new state version and identical rows.
    val again = run("stream_foreachbatch_upsert").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(again.toSeq == first.toSeq)
  }

  test("stream_stateful_count equals batch per-user counts") {
    val streamed = run("stream_stateful_count").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val batch = Tables.events(spark, sfDir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(streamed == batch)
  }

  test("stream_sink_parquet restart is exactly-once (sink unchanged)") {
    def sinkFiles = {
      val dir = new java.io.File(
        graft.TempDirs.scoped("sinkout", sfDir), "data")
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).map(_.getName).sorted.toSeq
    }
    val first = run("stream_sink_parquet").collect().map(_.toString).toSeq
    val filesAfterFirst = sinkFiles
    assert(first.nonEmpty && filesAfterFirst.nonEmpty)
    // restart against the same checkpoint: no unprocessed input files,
    // so the sink must gain NO files and the result must not change
    val second = run("stream_sink_parquet").collect().map(_.toString).toSeq
    assert(second == first)
    assert(sinkFiles == filesAfterFirst)
  }

  test("stream_stream_join equals the batch time-bounded self-join") {
    val streamed = run("stream_stream_join").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ev = Tables.events(spark, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts_us").as("c_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts_us").as("p_us"))
    val batch = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_us") >= col("c_us") &&
          col("p_us") <= col("c_us") + 600000000L)
      .select(col("user_id"), col("click_id"), col("purchase_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("memory-sink replays stop their query and drop their sink view, twice over") {
    for (name <- Seq("stream_stateful_count", "stream_stream_join",
           "stream_tws_timers"); round <- 1 to 2) {
      val out = run(name)
      val s = out.sparkSession
      assert(s.streams.active.isEmpty,
        s"$name (run $round) left a streaming query active")
      val views = s.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("graft_sink_"))
      assert(views.isEmpty,
        s"$name (run $round) left sink views: ${views.mkString(", ")}")
      assert(out.collect().nonEmpty,
        s"$name (run $round) returned no rows after its view was dropped")
    }
  }

  test("stream_watermark_late: emitted windows contain on-time rows only") {
    val sink = run("stream_watermark_late").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sink.nonEmpty)
    // every held-back row (event_id % 50 == 0) was delivered after the
    // watermark passed its window, so each emitted window's count must
    // equal the main-feed-only batch count for that window
    val mainOnly = Tables.events(spark, sfDir)
      .filter(col("event_id") % 50 =!= 0)
      .groupBy(expr("(ts_us div 3600000000) * 3600000000").as("w"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    sink.foreach { case (w, n) =>
      assert(mainOnly.get(w).contains(n),
        s"window $w: sink=$n mainOnly=${mainOnly.get(w)}")
    }
  }

  test("session_window streaming replay equals the batch session agg") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    import s.implicits._
    val ev = Tables.events(s, sfDir)
      .select(col("user_id"), col("ts_us")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2)
    // one far-future sentinel per user pushes the watermark past every
    // real session so append mode emits them all; sentinel sessions
    // themselves stay unemitted
    val maxTs = ev.map(_._2).max
    val sentinels = ev.map(_._1).distinct.map(u => (u, maxTs + 86400000000L))
    val src = MemoryStream[(Long, Long)](s)
    val q = src.toDS().toDF("user_id", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 minute")
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), unix_micros(col("w.start")).as("start_us"),
        col("n"))
      .writeStream.format("memory").queryName("graft_sess_parity")
      .outputMode(OutputMode.Append()).start()
    try {
      src.addData(ev.toSeq); q.processAllAvailable()
      src.addData(sentinels.toSeq); q.processAllAvailable()
    } finally q.stop()
    val streamed = s.table("graft_sess_parity").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = Tables.events(s, sfDir)
      .groupBy(col("user_id"),
        session_window(col("ts_ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), unix_micros(col("w.start")), col("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("file-source stream (Trigger.AvailableNow) equals batch counts") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // stage the single-file events table as a streaming source dir
    // (TempDirs: shutdown-hook cleanup, idempotent across reruns)
    val dir = java.nio.file.Paths.get(
      TempDirs.scoped("parity_file_src", sfDir))
    val dst = dir.resolve("part-0.parquet")
    if (!java.nio.file.Files.exists(dst))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sfDir/events.parquet"), dst)
    val schema = Tables.table(s, sfDir, "events").schema
    val q = s.readStream.schema(schema).parquet(dir.toString)
      .withColumn("ts_fix", timestamp_micros(Tables.eventsTsUs(schema)))
      .withWatermark("ts_fix", "10 minutes")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("graft_file_src")
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = s.table("graft_file_src").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = Tables.events(s, sfDir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
  }

  test("foreachBatch parquet sink accumulates exactly the fed rows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingQueries.Ev
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    import s.implicits._
    val out = TempDirs.scoped("parity_feb_sink", sfDir)
    val ev = Tables.events(s, sfDir)
      .select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value")).as[Ev].collect().toSeq
    val src = MemoryStream[Ev](s)
    val q = src.toDS().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Ev], id: Long) =>
        batch.write.mode("append").parquet(out)
      }
      .start()
    try {
      ev.grouped(400).foreach { c => src.addData(c); q.processAllAvailable() }
    } finally q.stop()
    val sunk = s.read.parquet(out)
      .select(col("event_id")).collect().map(_.getLong(0)).sorted
    assert(sunk.toSeq == ev.map(_.event_id).sorted)
  }

  test("stream_tumbling (batch form) equals a raw-SQL bucketing") {
    val viaWindow = run("stream_tumbling").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val ev = Tables.events(spark, sfDir)
    val viaDiv = ev
      .groupBy(expr("(ts_us div 3600000000) * 3600000000").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(viaWindow == viaDiv)
  }
}
