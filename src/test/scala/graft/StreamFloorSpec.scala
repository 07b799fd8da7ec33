package graft

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.streaming.StreamingQueries.Ev

/** Pins the streaming-replay LIFECYCLE FLOOR as a regression gate
  * (r12 VERDICT task 7). The r12 StreamProbe decomposition measured a
  * warm per-stateful-replay floor of ~0.15 s incremental planning +
  * ~0.14 s offset/WAL/getBatch + ~0.3 s query start/stop (+ addBatch
  * real work on top) — prose in BASELINE.md until now.
  *
  * Gate design (r13 ADVICE, medium): the first cut hard-coded a
  * box-specific absolute floor (1.31 s on a 2.1 ns/op box) scaled only
  * by CPU spin speed — but the floor includes checkpoint/WAL disk I/O
  * and JVM/session overheads that do NOT scale with ALU speed, so on
  * different storage the absolute gate could flake with no real
  * regression (or bless one on a faster box). This version measures
  * the baseline IN-PROCESS instead: a STATELESS replay of the same
  * 100-row feed through the same source/sink/trigger machinery, run in
  * the same JVM minutes apart, absorbs the box's actual lifecycle cost
  * (planning, offset/WAL, start/stop, disk). The gate is then the
  * RATIO stateful/stateless — what the state store, its commits, and
  * the groupBy shuffle add per replay — which is hardware-independent:
  * a structural regression (extra micro-batches, session rebuilds,
  * store re-opens) multiplies the stateful numerator only, while box
  * weather (slow disk, throttled CPU) multiplies both and cancels.
  *
  * Calibration 2026-08-16 (2.1 ns/op box): stateless min ~0.55 s,
  * stateful min ~1.3 s → ratio ~2.4×. Gate = 4× (headroom for
  * scheduler jitter on the smaller denominator). A loose absolute
  * backstop (20 s per replay, deliberately far above any plausible
  * quiet value) still catches a whole-lifecycle catastrophe that
  * inflates both pipelines equally — documented as box-calibrated.
  */
class StreamFloorSpec extends SparkSpecBase {

  /** Max allowed stateful/stateless per-replay ratio (see scaladoc). */
  private val maxStatefulRatio = 4.0
  /** Absolute backstop per stateless replay — generous on purpose; a
    * breach means the lifecycle itself broke, not weather. */
  private val statelessCapSec = 20.0

  test("stateful replay cost stays within 4x an in-JVM stateless baseline") {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "2")
    import s.implicits._
    val base = TempDirs.scoped("floor_probe", sfDir)
    TempDirs.deleteRecursively(java.nio.file.Paths.get(base))
    val srcDir = s"$base/src"
    // 100 rows, one file: the smallest real feed — addBatch is then
    // dominated by lifecycle, which is what this spec pins
    Tables.events(s, sfDir)
      .select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"))
      .limit(100).coalesce(1)
      .write.mode("overwrite").parquet(srcDir)

    def replay(tag: String, i: Int, stateful: Boolean): Double = {
      val uname = s"floor_probe_${tag}_$i"
      val t0 = System.nanoTime()
      val src = s.readStream
        .schema(Encoders.product[Ev].schema)
        .parquet(srcDir)
        .as[Ev]
      val out =
        if (stateful)
          src.groupByKey(_.user_id)
            .flatMapGroupsWithState[Long, (Long, Long)](
              OutputMode.Update(), GroupStateTimeout.NoTimeout) {
              (user: Long, rows: Iterator[Ev], state: GroupState[Long]) =>
                val n = state.getOption.getOrElse(0L) + rows.size
                state.update(n)
                Iterator((user, n))
            }.toDF("user_id", "n")
        else
          src.select(col("user_id"), col("event_id").as("n"))
      val q = out
        .writeStream.format("memory").queryName(uname)
        .outputMode(if (stateful) OutputMode.Update() else OutputMode.Append())
        .option("checkpointLocation", s"$base/ckpt_${tag}_$i")
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      val rows = s.table(uname).count()
      s.catalog.dropTempView(uname)
      assert(rows > 0, s"floor probe replay ($tag) produced no rows")
      (System.nanoTime() - t0) / 1e9
    }

    // warm-up replays absorb codegen + parquet footer caching for both
    // pipeline shapes, then 3 timed replays each, INTERLEAVED so a
    // transient box gust hits both pipelines symmetrically rather than
    // biasing whichever family ran during it
    replay("warm", 0, stateful = false)
    replay("warm", 1, stateful = true)
    val pairs = (1 to 3).map { i =>
      (replay("base", i, stateful = false), replay("stful", i, stateful = true))
    }
    val baseMin = pairs.map(_._1).min
    val statefulMin = pairs.map(_._2).min
    val ratio = statefulMin / baseMin
    info(f"stateless min $baseMin%.3f s, stateful min $statefulMin%.3f s, " +
      f"ratio $ratio%.2f (gate ${maxStatefulRatio}%.1f)")
    assert(baseMin <= statelessCapSec,
      f"stateless lifecycle $baseMin%.3f s exceeds the $statelessCapSec%.0f s " +
        "backstop — the replay lifecycle itself broke (or the box is " +
        "unusably overloaded); this cap is box-calibrated and generous")
    assert(ratio <= maxStatefulRatio,
      f"stateful/stateless per-replay ratio $ratio%.2f exceeds " +
        f"$maxStatefulRatio%.1f — a structural regression in the stateful " +
        "path (extra micro-batches, state-store re-opens, session " +
        "rebuilds), not box weather: weather inflates both pipelines " +
        "and cancels in the ratio")
  }
}
