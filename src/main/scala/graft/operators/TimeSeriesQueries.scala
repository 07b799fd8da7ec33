package graft.operators

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** SURVEY.md §2.O — batch time-series completion over `events`: the
  * regularize-then-fill steps every telemetry/feature pipeline runs
  * before windowed modeling (gap-fill to a dense grid, then carry
  * observations forward).
  *
  * Scale notes (100 TB):
  *  - the dense grid is built per KEY from that key's own [min, max]
  *    hour span — `sequence` + `explode` is narrow (no shuffle, no
  *    driver-side range materialization), and grid size is bounded by
  *    span/granularity per key, never |corpus|;
  *  - zero-fill is ONE left join on (key, bucket) — both sides already
  *    partition on the key;
  *  - LOCF is one window pass per key ordered by bucket
  *    (`last(..., ignoreNulls)` over an unbounded-preceding frame) —
  *    running state per partition is a single value, the
  *    frame never rescans.
  *
  * The user set is bounded (user_id < 100) so the dumped grid stays
  * comparable at every fixture scale; the plan shape is scale-free.
  */
object TimeSeriesQueries {

  private val HourUs = 3600L * 1000000L
  private val WeekUs = 7L * 24L * 3600L * 1000000L

  /** Hourly per-user observation table: bucket + count + max value
    * (max: hour-level aggregate chosen deterministic under ties).
    */
  private def hourly(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .filter(col("user_id") < 100)
      .withColumn("hr", expr(s"ts_us div $HourUs"))
      .groupBy(col("user_id"), col("hr"))
      .agg(count(lit(1)).as("n"), max(col("value")).as("v"))

  /** Dense per-user hour grid spanning each user's own observed range. */
  private def grid(s: SparkSession, d: String): DataFrame =
    hourly(s, d)
      .groupBy(col("user_id"))
      .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"))).as("hr"))

  private val GapUs = 30L * 60L * 1000000L // 30-minute inactivity gap

  val queries: Map[String, Q] = Map(
    // Exponentially weighted moving average per user (r5, re-planned
    // r6): the sequential recurrence s = 0.25x + 0.75s folded over
    // each user's events in (ts, event_id) total order — trend
    // smoothing, the classic time-series shape a window function
    // CANNOT express (each step depends on the previous smoothed
    // value, not raw rows). r5 collected each user's whole history
    // into one aggregate buffer (`collect_list` + fold) — an
    // unbounded per-KEY buffer that OOMs on a hot key at corpus
    // scale (r5 VERDICT's last named scale-killer). r6 uses the
    // secondary-sort shape instead: one hash repartition on user_id,
    // an EXTERNAL sort within partitions on (user_id, ts, event_id)
    // — Spark's sort spills to disk, so a 10⁸-event key never holds
    // memory — then a streaming per-key fold whose state is ONE
    // accumulator (mapPartitions, iterator in / iterator out, no
    // partition or group materialization). The affine-composition
    // aggregate alternative (compose s′=αx+(1−α)s maps) merges with
    // a₂·b₁+b₂, which REASSOCIATES the float multiplies and can
    // drift ulps from the oracle's strict left-to-right fold; the
    // secondary sort keeps the exact multiply-add order, so the
    // emitted double stays bit-identical to DuckDB's ordered
    // list_reduce (α = 0.25 and 1−α = 0.75 are exact binary
    // doubles). PlanHygieneSpec pins the plan collect_list-free.
    "ts_ewma" -> ((s, d) => {
      val ss = s
      import ss.implicits._
      events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("value").cast("double").as("v"))
        .repartition(col("user_id"))
        .sortWithinPartitions(col("user_id"), col("ts_us"), col("event_id"))
        .as[(Long, Long, Long, Double)]
        .mapPartitions { rows =>
          // rows arrive clustered by user_id and time-ordered within
          // each user; fold one run at a time with O(1) state
          val in = rows.buffered
          new Iterator[(Long, Long, Double)] {
            override def hasNext: Boolean = in.hasNext
            override def next(): (Long, Long, Double) = {
              val key = in.head._1
              var n = 0L
              var acc = 0.0
              while (in.hasNext && in.head._1 == key) {
                val r = in.next()
                acc = r._4 * 0.25 + acc * 0.75
                n += 1
              }
              (key, n, acc)
            }
          }
        }
        .toDF("user_id", "n_events", "ewma")
        .orderBy(col("user_id"))
    }),

    // Holt's linear-trend (double exponential) smoothing (r8): the
    // level+trend forecasting primitive one rung above ts_ewma —
    // level' = α·x + (1−α)·(level+trend), trend' = β·(level'−level) +
    // (1−β)·trend, α = 0.5, β = 0.25 (exact binary doubles), seeded
    // level₀ = x₀, trend₀ = 0. Same secondary-sort shape as ts_ewma:
    // one hash repartition on user_id, external sort within
    // partitions, streaming two-accumulator fold with O(1) state —
    // and the same bit-exactness argument: the fold is strictly
    // left-to-right with a fixed multiply-add order, so the emitted
    // doubles match DuckDB's list_reduce over struct accumulators
    // exactly (the oracle's trend line recomputes level' inline —
    // identical IEEE ops, identical value).
    "ts_holt_linear" -> ((s, d) => {
      val ss = s
      import ss.implicits._
      events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("value").cast("double").as("v"))
        .repartition(col("user_id"))
        .sortWithinPartitions(col("user_id"), col("ts_us"), col("event_id"))
        .as[(Long, Long, Long, Double)]
        .mapPartitions { rows =>
          val in = rows.buffered
          new Iterator[(Long, Long, Double, Double)] {
            override def hasNext: Boolean = in.hasNext
            override def next(): (Long, Long, Double, Double) = {
              val key = in.head._1
              val first = in.next()
              var l = first._4
              var t = 0.0
              var n = 1L
              while (in.hasNext && in.head._1 == key) {
                val x = in.next()._4
                val l2 = 0.5 * x + 0.5 * (l + t)
                t = 0.25 * (l2 - l) + 0.75 * t
                l = l2
                n += 1
              }
              (key, n, l, t)
            }
          }
        }
        .toDF("user_id", "n_events", "level", "trend")
        .orderBy(col("user_id"))
    }),

    // Robust per-key outlier detection (r6): median / MAD (median
    // absolute deviation), the standard telemetry-cleaning gate —
    // events beyond 3 MADs from the median flag as outliers (robust
    // where mean/stddev is dragged by the outliers themselves). Both
    // medians use percentile_disc, which picks ACTUAL data values
    // (deterministic across engines, the agg_percentile_disc
    // precedent); dev = |value − med| and the 3·MAD gate are exact
    // IEEE ops on those picked values. Scale shape: three shuffles,
    // all on user_id (co-partitioned end to end). percentile_disc
    // buffers a group's values, so at 100 TB the thresholds come
    // from approx_percentile or a per-key sample and apply as a
    // map-only filter — the exact-disc form here is what makes the
    // operator oracle-pairable (same trade as agg_percentile_disc).
    // Seasonal (hour-of-day) baseline + anomaly count (r9): the
    // seasonality primitive of ops/metrics pipelines — fit a 24-row
    // per-hour profile (count, exact cents sum, integer mean), then
    // count per-hour events deviating from their hour's mean by more
    // than 100% of it. The hour key is pure epoch integer arithmetic
    // ((µs div 3600000000) % 24) — identical cross-engine, no
    // timezone/calendar surface at all. Profile is a broadcast
    // 24-row table; the scoring pass is map-only against it — the
    // fit-small/apply-streaming shape every seasonal baseline has at
    // 100 TB.
    "ts_seasonal_profile" -> ((s, d) => {
      val ev = events(s, d)
        .select(expr("(ts_us div 3600000000) % 24").as("hod"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
      val prof = ev.groupBy(col("hod"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("cents")).as("sum_cents"))
        .withColumn("mean_cents", expr("sum_cents div n_events"))
      ev.join(broadcast(prof), "hod")
        .groupBy(col("hod"), col("n_events"), col("mean_cents"))
        .agg(sum(when(abs(col("cents") - col("mean_cents")) >
            col("mean_cents"), 1L).otherwise(0L)).as("n_anomalous"))
        .select(col("hod"), col("n_events"), col("mean_cents"),
          col("n_anomalous"))
        .orderBy(col("hod"))
    }),

    // Lag-1 autocorrelation per user (r9): the serial-dependence
    // primitive of metrics/anomaly pipelines. Consecutive-pair
    // sufficient statistics are EXACT BIGINT sums over milli-quantized
    // cents (pair products ~1e10, sums ~1e14 — far under 2^63), cast
    // to double only for the closed-form Pearson expression, which is
    // then a fixed IEEE tree both engines evaluate identically (the
    // agg_corr_exact argument). Degenerate users (zero variance on
    // either side) are NULLed explicitly — IEEE inf/nan renderings
    // differ across engines. One window shuffle on user_id + one
    // partial-agg: at 100 TB the pairing is a per-key sorted walk,
    // never a self-join.
    "ts_autocorr" -> ((s, d) => {
      val ev = events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          expr("cast(round(value * 100) as bigint)").as("x"))
      graft.api.GraftOps.lag1Autocorr(ev, "user_id", "x",
          Seq("ts_us", "event_id"))
        .orderBy(col("user_id"))
    }),

    // CUSUM changepoint statistic per user (r9): max |running sum of
    // deviations from the user mean| — the classic drift detector.
    // All-integer: cents, integer-div mean, BIGINT running sum (ROWS
    // frame over the unique (ts_us, event_id) order), abs-max — zero
    // float surface, so the hash match is exact by construction. Plan
    // is one agg + one key-partitioned window on the same user_id
    // hashing (Catalyst reuses the exchange); at 100 TB the window
    // sort is per-key external sort, and the per-user mean join stays
    // key-local.
    "ts_cusum" -> ((s, d) => {
      val ev = events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
      graft.api.GraftOps.cusum(ev, "user_id", "cents",
          Seq("ts_us", "event_id"))
        .select(col("user_id"), col("n_events"),
          col("mean").as("mean_cents"), col("max_abs_cusum"))
        .orderBy(col("user_id"))
    }),

    // Mann-Kendall trend test (r11): per user, S = Σ_{i<j}
    // sign(x_j − x_i) over the (ts, event_id)-ordered cents series —
    // the standard non-parametric monotone-trend statistic
    // (hydrology/telemetry drift), EXACT integers end to end. Pairs
    // are O(n²) per key, so the statistic runs on each user's FIRST
    // 128 events by the same total order (the sampled-threshold
    // discipline of ts_outlier_sampled: a deterministic bounded slice
    // is the production shape — trend tests run on windows, never
    // unbounded histories). One window rank + one per-user pair
    // self-join bounded at C(128,2); both shuffles user-keyed.
    // Theil-Sen robust trend slope (r12): per user, the MEDIAN of all
    // pairwise slopes (cents_j − cents_i)/(ts_j − ts_i) over the first
    // 64 events by (ts_us, event_id) total order — the
    // breakdown-resistant slope estimator drift monitors prefer over
    // OLS (agg_linreg) when a feed has outlier bursts: one bad
    // collector moves a least-squares slope arbitrarily, Theil-Sen
    // tolerates ~29% corruption. Window discipline = ts_mk_trend's:
    // pair volume capped at C(64,2) = 2016 per key at ANY corpus
    // size, both shuffles user-keyed. Equal-timestamp pairs (undefined
    // slope) are excluded; each surviving slope is ONE IEEE division
    // of two exact integers — bit-identical in both engines — and the
    // median is the disc pick of an actual slope value, so the output
    // hash-reproduces. The per-group percentile_disc buffer is
    // BOUNDED BY CONSTRUCTION (≤ 2016 doubles), which is the
    // ts_outlier_mad caveat satisfied, not waived.
    "ts_theil_sen" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val ev = events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 64)
        .select(col("user_id"), col("rn"), col("ts_us"), col("cents"))
      ev.as("a").join(ev.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.rn") < col("b.rn") &&
            col("a.ts_us") =!= col("b.ts_us"))
        .select(col("a.user_id").as("user_id"),
          ((col("b.cents") - col("a.cents")).cast("double") /
            (col("b.ts_us") - col("a.ts_us")).cast("double")).as("slope"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY slope)")
            .as("slope_med"))
        .orderBy(col("user_id"))
    }),

    "ts_mk_trend" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val ev = events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 128)
        .select(col("user_id"), col("rn"), col("cents"))
      ev.as("a").join(ev.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.rn") < col("b.rn"))
        .groupBy(col("a.user_id").as("user_id"))
        .agg(
          count(lit(1)).as("n_pairs"),
          sum(signum(col("b.cents") - col("a.cents")).cast("long"))
            .as("mk_s"),
          sum(when(col("b.cents") === col("a.cents"), 1L).otherwise(0L))
            .as("n_ties"))
        .orderBy(col("user_id"))
    }),

    // Single change-point detection (r11): per user, the split k
    // maximizing the CUSUM deviation |n·S_k − k·S_n| over the
    // (ts, event_id)-ordered prefix sums S — the binary-segmentation
    // first cut every telemetry/drift pipeline runs before fitting
    // per-segment models. Multiplying through by n keeps the argmax
    // criterion in EXACT integer arithmetic (no mean division, no
    // doubles — n·S stays far under 2^63 at any per-user history the
    // fixtures or a 100 TB keyspace produce, because groups are
    // per-user bounded); ties break to the earliest (ts, event_id),
    // mirroring the oracle's ORDER BY. One per-user window pass + one
    // rank — two key-partitioned shuffles, no global funnel.
    "ts_changepoint" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
      val m = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val scored = ev.join(m, "user_id")
        .withColumn("k", count(lit(1)).over(w))
        .withColumn("sk", sum(col("cents")).over(w))
        .withColumn("dev",
          abs(col("n_events") * col("sk") - col("k") * col("sum_cents")))
      val pick = Window.partitionBy(col("user_id"))
        .orderBy(col("dev").desc, col("ts_us").asc, col("event_id").asc)
      scored.withColumn("rn", row_number().over(pick))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("n_events"),
          col("ts_us").as("cp_ts_us"), col("k").as("n_before"),
          col("dev").as("max_dev"))
        .orderBy(col("user_id"))
    }),

    // Largest-Triangle-Three-Buckets downsampling (r9, Steinarsson
    // 2013 — the standard time-series VISUALIZATION decimation): per
    // user, keep first + last + one point per equal-count bucket, each
    // pick maximizing the triangle area against the PREVIOUS pick and
    // the NEXT bucket's centroid — the sequential dependence that makes
    // this a per-key ordered fold, not a window. ORACLE-PAIRED as of
    // r10: the recurrence unrolls as a DuckDB recursive CTE (one
    // bucket per iteration, argmax via correlated NOT EXISTS, HUGEINT
    // areas mirroring the BigInt ones) — the r9 declared-N status was
    // a failure of imagination, not of SQL; LttbSpec additionally
    // recomputes it in plain Scala and pins the structural
    // invariants. Same secondary-sort
    // shape as ts_ewma: hash repartition on user_id, external sort
    // within partitions, O(1)-state streaming fold — no per-key
    // buffering beyond one bucket. Integer-exact: times are rebased to
    // the series start so the centroid-scaled cross products stay
    // < 2^63 (span·cnt·Δcents ≈ 1e18 worst case), and ties keep the
    // earliest point (strict > comparison).
    "ts_downsample_lttb" -> ((s, d) => {
      val ss = s
      import ss.implicits._
      val k = 12 // output points per key (first + 10 buckets + last)
      events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
        .repartition(col("user_id"))
        .sortWithinPartitions(col("user_id"), col("ts_us"), col("event_id"))
        .as[(Long, Long, Long, Long)]
        .mapPartitions { rows =>
          val in = rows.buffered
          new Iterator[Seq[(Long, Int, Long, Long)]] {
            override def hasNext: Boolean = in.hasNext
            override def next(): Seq[(Long, Int, Long, Long)] = {
              val key = in.head._1
              val buf = scala.collection.mutable.ArrayBuffer
                .empty[(Long, Long)] // (ts_us, cents), arrival order
              while (in.hasNext && in.head._1 == key) {
                val r = in.next(); buf += ((r._2, r._4))
              }
              val n = buf.length
              val picks =
                if (n <= k) buf.indices
                else {
                  val t0 = buf(0)._1
                  val mid = n - 2 // points between first and last
                  val nb = k - 2  // buckets
                  def bktStart(b: Int) = 1 + (b.toLong * mid / nb).toInt
                  val sel = scala.collection.mutable.ArrayBuffer(0)
                  var b = 0
                  while (b < nb) {
                    val lo = bktStart(b); val hi = bktStart(b + 1)
                    // next bucket centroid (the last bucket's "next"
                    // is the final point), scaled by its count
                    val (nlo, nhi) =
                      if (b + 1 < nb) (bktStart(b + 1), bktStart(b + 2))
                      else (n - 1, n)
                    var sx = 0L; var sy = 0L
                    var i = nlo
                    while (i < nhi) {
                      sx += buf(i)._1 - t0; sy += buf(i)._2; i += 1
                    }
                    val c = (nhi - nlo).toLong
                    val (px, py) =
                      (buf(sel.last)._1 - t0, buf(sel.last)._2)
                    // BigInt: span·cnt·Δcents can pass 2^63 on long
                    // dense series — exactness beats a wrapped argmax
                    var best = lo; var bestArea = BigInt(-1)
                    i = lo
                    while (i < hi) {
                      val (ax, ay) = (buf(i)._1 - t0, buf(i)._2)
                      val area = (
                        (BigInt(px) * c - sx) * (ay - py) -
                          BigInt(px - ax) * (sy - py * c)).abs
                      if (area > bestArea) { bestArea = area; best = i }
                      i += 1
                    }
                    sel += best
                    b += 1
                  }
                  sel += (n - 1)
                  sel.toSeq
                }
              picks.zipWithIndex.map { case (i, rank) =>
                (key, rank, buf(i)._1, buf(i)._2)
              }
            }
          }.flatten
        }
        .toDF("user_id", "pick", "ts_us", "cents")
        .orderBy(col("user_id"), col("pick"))
    }),

    // Week-over-week deltas per event type (r9): the growth-report
    // primitive — weekly count + exact cents revenue, each with its
    // previous-week value and delta via lag over the per-type weekly
    // series. Week key is pure epoch integer arithmetic (no calendar
    // surface); all-integer outputs. The window partitions on
    // event_type over the |weeks|-bounded AGGREGATE series, so the
    // sort input is O(#types · #weeks) — never the raw events (the
    // heavy pass is the parallel weekly pre-aggregation).
    "ts_week_over_week" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val weekly = events(s, d)
        .select(col("event_type"),
          expr("ts_us div 604800000000").as("week"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
        .groupBy(col("event_type"), col("week"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("rev_cents"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("week"))
      weekly
        .withColumn("prev_n", lag(col("n"), 1).over(w))
        .withColumn("delta_n", col("n") - col("prev_n"))
        .withColumn("delta_rev", col("rev_cents") - lag(col("rev_cents"), 1).over(w))
        .select(col("event_type"), col("week"), col("n"), col("rev_cents"),
          col("prev_n"), col("delta_n"), col("delta_rev"))
        .orderBy(col("event_type"), col("week"))
    }),

    // Rolling median over the trailing 5 events per user (r9): the
    // robust-smoothing companion to ts_ewma (median filters kill
    // spikes a mean smears). Exact discrete median over a BOUNDED
    // ROWS frame: collect the <=5 frame cents, sort, take element
    // ceil(n/2) — the lower-median pick DuckDB's windowed
    // quantile_disc(0.5) makes (the agg_percentile_disc contract).
    // The frame array is <=5 longs, so the non-codegen collect stays
    // O(1) per row at any corpus size; one key-partitioned window
    // shuffle, per-key external sort.
    "ts_rolling_median" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(-4, Window.currentRow)
      events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
        .withColumn("frame", sort_array(collect_list(col("cents")).over(w)))
        .select(col("user_id"), col("event_id"),
          element_at(col("frame"),
            ((size(col("frame")) + 1) / lit(2)).cast("int"))
            .as("med5_cents"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // EXACT median/MAD outlier gate. Hot-user caveat (r10 verdict #3 /
    // r11 #8): built-in percentile_disc buffers every value of a group
    // in one task, so a single pathological user with an unbounded
    // history recreates the funnel agg_histogram_equi_depth's bucketed
    // two-pass selection exists to avoid. Per-user groups are bounded
    // by design in this fixture family, and the 100 TB path is the
    // companion ts_outlier_sampled below (fraction-bounded buffering
    // via a deterministic hash sample) — reach for that one first.
    // r14 probe (guide §1.2 measure-first discipline): the single-scan
    // count-table decomposition — groupBy(user, value) counts feeding
    // both disc50 medians as windows, the ts_outlier_sampled shape
    // minus sampling — was built, oracle-verified identical at
    // sf0.001/sf0.1, and A/B'd same-box against this spelling with an
    // untouched anchor query in both sessions: old 0.98-1.19 s warm,
    // decomposed 1.51-1.71 s warm (anchor equal both sides). The extra
    // window sorts + exchanges cost more at bench scale than the four
    // ObjectHashAggregate scans they remove, so the probe was REVERTED;
    // the bounded-buffering scale story remains ts_outlier_sampled's
    // job (see its scaladoc), exactly as this comment block documents.
    // r15 restructure (r14 VERDICT task 5 — the "halfway point" the
    // failed r14 window probe left open): med, mad AND the outlier
    // count all derive from ONE sorted per-user value array, so the
    // whole query is a single fact scan + a single user_id-keyed
    // aggregation exchange instead of 3 scans + 4 percentile_disc
    // ObjectHashAggregates + 2 joins + a final aggregate. Exactness:
    // percentile_disc(0.5) IS element ceil(n/2) (1-based) of the
    // sorted multiset — the same (n+1)/2 lower-median convention
    // ts_rolling_median pins — and dev_i = |v_i − med| over the SAME
    // rows, so mad is element ceil(n/2) of the sorted dev array and
    // n_outliers counts devs > 3·mad; the per-row arithmetic is the
    // identical IEEE ops the old spelling ran. Memory caveat is
    // UNCHANGED from the old spelling: percentile_disc already
    // buffered every value of a user in one aggregation buffer, the
    // collect_list buffers exactly the same values (bounded per-user
    // groups by fixture design; the 100 TB path stays
    // ts_outlier_sampled, see its scaladoc). Measured (anchored A/B,
    // warm, anchors within 10%): 0.95-1.15 s old vs 0.31-0.35 s new
    // (~3x); plan 4 scans -> 1, 8 Exchanges -> 2 (plans/r15/); oracle
    // (unchanged SQL) identical at sf0.001 AND sf0.1.
    // collect_list drops NULL values, as percentile_disc ignores them;
    // n_events counts rows like the oracle's count(*), and the 0-based
    // `get` returns NULL med/mad for a user with no non-NULL value
    // (ceil(0/2) - 1 = -1) where element_at would throw.
    "ts_outlier_mad" -> ((s, d) => {
      val lowerMedian = (c: org.apache.spark.sql.Column) =>
        get(c, ((size(c) + 1) / lit(2)).cast("int") - 1)
      events(s, d).select(col("user_id"), col("value"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sort_array(collect_list(col("value"))).as("vals"))
        .withColumn("med", lowerMedian(col("vals")))
        .withColumn("devs",
          array_sort(transform(col("vals"),
            v => abs(v - col("med")))))
        .withColumn("mad", lowerMedian(col("devs")))
        .select(col("user_id"), col("n_events"),
          col("med"), col("mad"),
          size(filter(col("devs"), x => x > col("mad") * 3.0))
            .cast("long").as("n_outliers"))
        .orderBy(col("user_id"))
    }),

    // The PRODUCTION path of ts_outlier_mad (r8 — the SURVEY row's own
    // concession made real): exact per-key percentile_disc buffers
    // whole groups, so at 100 TB the thresholds come from a SAMPLE —
    // here a deterministic 25% hash sample (md5 first hex digit of
    // event_id, the sample_hash trick), which keeps the buffered group
    // fraction-bounded while staying fully oracle-mirrorable (a seeded
    // RNG sample would be partitioning-dependent; the hash sample is
    // not). Median and MAD are computed on the sample only; the
    // resulting per-key threshold table (|keys| rows) BROADCASTS, and
    // the full stream pays one map-only pass + one map-combinable
    // count — the big side never sorts, never buffers, never shuffles
    // values. Sampled thresholds differ from exact ones (that is the
    // trade); TimeSeriesSpec bounds the drift against the exact
    // operator with a tolerance test.
    // r12 restructure (r11 verdict #1 — 5x degradation under
    // driver-box contention): percentile_disc is a
    // TypedImperativeAggregate that BUFFERS every sample value of a
    // group in an ObjectHashAggregate, whose sort-based fallback +
    // buffer serialization is exactly what box-wide memory pressure
    // amplifies. Both medians are now spelled as their bounded-state
    // decomposition: count-by-(key, value) hash aggregate (one LONG of
    // state per distinct value — map-combinable, whole-stage-codegen)
    // followed by a per-key running sum; percentile_disc(0.5) = the
    // smallest value whose cumulative count reaches half the group
    // (cume_dist >= 0.5  <=>  2*cc >= n, integer compare). Identical
    // results — the decomposition IS percentile_disc's definition —
    // and the per-task state is O(distinct values of one key), with
    // no object buffers anywhere.
    "ts_outlier_sampled" -> ((s, d) => {
      val ev = events(s, d)
        .select(col("user_id"), col("event_id"), col("value"))
      val samp = ev.filter(
        substring(md5(col("event_id").cast("string")), 1, 1) < "4")
      def disc50(df: org.apache.spark.sql.DataFrame, keys: Seq[String],
          v: String, out: String) = {
        val wRun = Window.partitionBy(keys.map(col): _*).orderBy(col(v))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wTot = Window.partitionBy(keys.map(col): _*)
        df.groupBy((keys :+ v).map(col): _*).agg(count(lit(1)).as("c"))
          .withColumn("cc", sum(col("c")).over(wRun))
          .withColumn("n", sum(col("c")).over(wTot))
          .filter(col("cc") * 2 >= col("n"))
          .groupBy(keys.map(col): _*).agg(min(col(v)).as(out))
      }
      val med = disc50(samp.select(col("user_id"), col("value")),
        Seq("user_id"), "value", "med")
      val sdev = samp.join(broadcast(med), "user_id")
        .select(col("user_id"), col("med"),
          abs(col("value") - col("med")).as("dev"))
      val thr = disc50(sdev, Seq("user_id", "med"), "dev", "mad")
      ev.join(broadcast(thr), "user_id")
        .groupBy(col("user_id"), col("med"), col("mad"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(abs(col("value") - col("med")) > col("mad") * 3.0, 1L)
            .otherwise(0L)).as("n_outliers"))
        .select(col("user_id"), col("n_events"), col("med"), col("mad"),
          col("n_outliers"))
        .orderBy(col("user_id"))
    }),

    // Batch sessionization: split each user's event stream into
    // sessions at >30-min inactivity gaps (lag + flag + running sum),
    // then one aggregate per session. Two window passes + one hash
    // aggregate, all partitioned on user_id — a single shuffle key end
    // to end; per-user state is one row, so the plan is skew-safe at
    // any corpus size (a user's own history is the only thing sorted).
    // Tie order on (ts_us, event_id) is total, so the session labels
    // are deterministic under equal timestamps.
    "ts_sessionize" -> ((s, d) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d)
        .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
        .withColumn("is_new",
          when(col("prev_us").isNull ||
            col("ts_us") - col("prev_us") > GapUs, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("is_new")).over(run))
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          min(col("ts_us")).as("start_us"),
          max(col("ts_us")).as("end_us"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // DAU/MAU stickiness (r12): average daily-active over
    // span-active users — the canonical engagement ratio (≈ 3-5%
    // casual, > 20% habitual) product analytics tracks next to the
    // retention cohort; zero-activity days count against the average
    // via the SPAN length (dropping them flatters any bursty
    // product). EXACT integers end to end: epoch-day buckets, two
    // distinct-count aggregates, Σdau·10⁴ div (span·mau) basis
    // points. Scale: one (user, day) distinct + one (user) distinct
    // — both map-combined partial aggregates on small keys; the two
    // 1-row summaries cross at the end.
    "ts_dau_mau" -> ((s, d) => {
      // FLOOR division for the day bucket (r12 ADVICE): Spark `div`
      // truncates toward zero while the oracle's DuckDB `//` floors —
      // identical on the fixture's post-1970 data but divergent on
      // negative epoch-micros; (x - pmod(x,k)) div k floors for all x
      val ev = events(s, d)
        .select(col("user_id"),
          expr("(ts_us - pmod(ts_us, 86400000000)) div 86400000000")
            .as("day"))
      val dau = ev.distinct()
        .groupBy(col("day")).agg(count(lit(1)).as("dau"))
      val mau = ev.select(col("user_id")).distinct()
        .agg(count(lit(1)).as("mau"))
      dau.agg(min(col("day")).as("d0"), max(col("day")).as("d1"),
          sum(col("dau")).as("sum_dau"))
        .crossJoin(mau)
        .select((col("d1") - col("d0") + 1L).as("n_days"), col("mau"),
          expr("sum_dau * 10000 div ((d1 - d0 + 1) * mau)")
            .as("stickiness_bp"))
    }),

    // Poisson dispersion index (r12): per event type, the
    // variance-to-mean ratio of HOURLY counts over the type's full
    // observed span (zero-event hours included via the span length —
    // dropping them would flatter any bursty feed) — D ≈ 1 is
    // Poisson, ≫ 1 overdispersed (batch jobs, retry storms, bots);
    // with ts_burstiness (gap view) the two standard count-process
    // screens. EXACT: integer hour buckets (epoch div), integer
    // count moments, D = (n·Q − S²)/(n·S) with the numerator in
    // DECIMAL(38,0)/HUGEINT (a single-hour spike at 100 TB would
    // overflow int64), ONE IEEE division, micro-units. Scale: one
    // (type, hour) map-combined count + one tiny per-type agg — the
    // fact table shuffles only its bucket keys.
    "ts_poisson_dispersion" -> ((s, d) => {
      // floor-division hour bucket — same pre-1970 hazard as
      // ts_dau_mau (r12 ADVICE); ts_burstiness needs no change: its
      // div operand ts_us - prev_us is >= 0 by the window order
      val hours = events(s, d)
        .select(col("event_type"),
          expr("(ts_us - pmod(ts_us, 3600000000)) div 3600000000")
            .as("hr"))
        .groupBy(col("event_type"), col("hr"))
        .agg(count(lit(1)).as("c"))
      hours.groupBy(col("event_type"))
        .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"),
          sum(col("c")).as("s"),
          // per-element DECIMAL cast BEFORE the multiply+sum (r12
          // ADVICE): c² in plain int64 wraps past c ≈ 3e9 and the
          // int64 SUM wraps far sooner, while the DuckDB oracle sums
          // in HUGEINT — the numerator must be exact on both sides
          sum(col("c").cast(DecimalType(38, 0)) *
            col("c").cast(DecimalType(38, 0))).as("q"))
        .select(col("event_type"),
          (col("h1") - col("h0") + 1L).as("n_hours"),
          col("s").as("n_events"),
          expr("cast(round(cast(cast(h1 - h0 + 1 as decimal(38,0)) * " +
            "cast(q as decimal(38,0)) - cast(s as decimal(38,0)) * " +
            "cast(s as decimal(38,0)) as double) / " +
            "(cast(h1 - h0 + 1 as double) * cast(s as double)) * 1e6) " +
            "as bigint)").as("dispersion_micro"))
        .orderBy(col("event_type"))
    }),

    // Inter-event burstiness (r12; Goh & Barabási 2008): per user,
    // B = (σ − μ)/(σ + μ) of the inter-event gap distribution —
    // B → −1 for metronome traffic, ≈ 0 for Poisson, → +1 for
    // extreme bursts; the standard human-activity/bot discriminator
    // telemetry curation filters on. Gaps are exact integer seconds
    // (µs diff by total (ts_us, event_id) order, floor-divided), the
    // per-user moments are three map-combined integer sums (n, Σg,
    // Σg²), and B reduces to (√(nQ−S²) − S)/(√(nQ−S²) + S) — the
    // radicand computed in DECIMAL(38,0) (nQ ~ 10²⁰ at sf1 would
    // overflow int64), ONE double sqrt per user on an identical
    // exact input in both engines, micro-units out (the hhi/chi2
    // playbook). Users need ≥ 2 gaps and a positive gap sum (σ and μ
    // both defined, denominator > 0). Scale: one user-keyed window
    // for the lag + one partial-agg shuffle — state O(1) per row,
    // shuffled bytes ∝ users, the hot-key cost is a sort not memory.
    "ts_burstiness" -> ((s, d) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      events(s, d)
        .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
        .filter(col("prev_us").isNotNull)
        .select(col("user_id"),
          expr("(ts_us - prev_us) div 1000000").as("gap_s"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"),
          sum(col("gap_s")).as("s"),
          // DECIMAL per element before the sum (r12 ADVICE): many
          // large gaps overflow an int64 Σgap² while DuckDB's HUGEINT
          // sum does not — the radicand must be exact on both sides
          sum(col("gap_s").cast(DecimalType(38, 0)) *
            col("gap_s").cast(DecimalType(38, 0))).as("q"))
        .filter(col("n_gaps") >= 2L && col("s") > 0L)
        .withColumn("rad",
          (col("n_gaps").cast("decimal(38,0)") *
            col("q").cast("decimal(38,0)") -
            col("s").cast("decimal(38,0)") *
              col("s").cast("decimal(38,0)")).cast("double"))
        .select(col("user_id"), col("n_gaps"),
          round((sqrt(col("rad")) - col("s").cast("double")) /
            (sqrt(col("rad")) + col("s").cast("double")) * 1e6)
            .cast("long").as("burst_micro"))
        .orderBy(col("user_id"))
    }),

    // Running DISTINCT count per key (r8): how many distinct event
    // types each user has seen up to each event — the windowed
    // count(DISTINCT) SQL forbids, spelled as the standard
    // first-occurrence-flag + running-sum decomposition: flag the
    // first (user, type) occurrence via a finer-keyed row_number,
    // then one user-keyed running sum. Both windows partition on
    // user-rooted keys (no global funnel); per-task state is O(1) —
    // the engagement-breadth metric of product telemetry.
    "ts_cum_distinct" -> ((s, d) => {
      val wFirst = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts_us"), col("event_id"))
      val wRun = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d)
        .withColumn("is_first",
          when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
        .withColumn("n_types_seen", sum(col("is_first")).over(wRun))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("n_types_seen"))
        .orderBy(col("event_id"))
    }),

    // The Spark-4 session_window API spelling of sessionization (r8):
    // groupBy(session_window(ts, gap)) — the engine MERGES overlapping
    // [ts, ts+gap) windows into sessions inside one aggregate, no
    // explicit lag/cumsum plumbing. Boundary semantics differ subtly
    // from ts_sessionize: session_window starts a NEW session at
    // diff >= gap (window overlap is strict), where the lag spelling
    // splits at diff > gap — the oracle mirrors session_window's >=,
    // so the operator is verified on ITS OWN contract, not assumed
    // identical. Outputs stay integer (first/last event micros) so the
    // hash compare is exact; the grouping itself is what exercises the
    // API. One shuffle on user_id, per-session state bounded.
    "ts_session_window" -> ((s, d) =>
      events(s, d)
        .groupBy(col("user_id"),
          session_window(col("ts_ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_us")).as("first_us"),
          max(col("ts_us")).as("last_us"))
        .select(col("user_id"), col("n_events"), col("first_us"),
          col("last_us"))
        .orderBy(col("user_id"), col("first_us"))),

    // Multi-grain time rollup: hour/day/month aggregates of the event
    // feed in ONE pass — `rollup` over the derived grain hierarchy
    // emits every grain (plus the grand total) from a single shuffle,
    // where the naive formulation scans the feed once per grain. The
    // month/day grains cast to DATE on both sides (Spark's date_trunc
    // returns TIMESTAMP, DuckDB's a TIMESTAMP too — DATE is the
    // common denominator the driver compare can hash).
    "ts_multi_grain_rollup" -> ((s, d) =>
      events(s, d)
        // grains surface as ISO strings: a NULL DATE round-trips as
        // pandas NaT on the DuckDB side but None on the parquet side,
        // so date-typed rollup cells can never hash-match
        .withColumn("mon",
          date_trunc("month", col("ts_ts")).cast("date").cast("string"))
        .withColumn("day",
          date_trunc("day", col("ts_ts")).cast("date").cast("string"))
        .withColumn("hr", expr(s"ts_us div $HourUs"))
        .rollup(col("mon"), col("day"), col("hr"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          moneySumD(col("value")).as("sum_val"))
        .select(col("gid"), col("mon"), col("day"), col("hr"),
          col("n"), col("sum_val"))
        .orderBy(col("gid"), asc_nulls_first("mon"),
          asc_nulls_first("day"), asc_nulls_first("hr"))),

    // Gaps-and-islands: longest run of consecutive same-type events
    // per (user, event_type). Island id = difference of two row
    // numbers (global-per-user minus per-(user,type)) — constant
    // within a run, distinct across runs. Two window passes over the
    // SAME (user_id) partitioning plus two hash aggregates; tie order
    // (ts_us, event_id) is total so runs are engine-deterministic.
    "ts_streaks" -> ((s, d) => {
      val wAll = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val wType = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts_us"), col("event_id"))
      events(s, d)
        .withColumn("grp",
          row_number().over(wAll) - row_number().over(wType))
        .groupBy(col("user_id"), col("event_type"), col("grp"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("user_id"), col("event_type"))
        .agg(max(col("len")).as("max_streak"))
        .orderBy(col("user_id"), col("event_type"))
    }),

    // Gap-fill: every user's hour range densified, missing buckets
    // zero-filled — turns an irregular event feed into the dense
    // series that windowed models and joins expect.
    "ts_gap_fill" -> ((s, d) =>
      grid(s, d)
        .join(hourly(s, d), Seq("user_id", "hr"), "left")
        .select(col("user_id"), col("hr"),
          coalesce(col("n"), lit(0L)).as("n"))
        .orderBy(col("user_id"), col("hr"))),

    // LOCF forward-fill: the last observed hourly value carried onto
    // the gap-filled grid (observation-free leading hours stay NULL —
    // there is nothing to carry). Window state is one value per key.
    "ts_locf_ffill" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("hr"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid(s, d)
        .join(hourly(s, d), Seq("user_id", "hr"), "left")
        .withColumn("v_filled", last(col("v"), ignoreNulls = true).over(w))
        .select(col("user_id"), col("hr"), col("v_filled"))
        .orderBy(col("user_id"), col("hr"))
    }),

    // Linear interpolation (r6): missing grid buckets filled on the
    // straight line between the neighboring observations — the
    // midpoint-filling complement of LOCF (which holds the left value
    // flat). Two windows over the SAME (user_id, hr) sort give the
    // previous/next observed (value, hour); the interpolation
    // v = pv + (nv − pv) · (hr − ph)/(nh − ph) is one fixed IEEE
    // expression tree over exactly equal operands in both engines
    // (values are fixture doubles, hour distances exact small ints,
    // double division/multiply/add are correctly rounded) — so the
    // emitted doubles hash-match without any rounding trick. Grid
    // edges (no neighbor on one side) extend the nearest observation.
    // Scale: both windows share one key-partitioned sort; state is
    // one (value, hour) pair per direction.
    "ts_interpolate_linear" -> ((s, d) => {
      val wPrev = Window.partitionBy(col("user_id")).orderBy(col("hr"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy(col("user_id")).orderBy(col("hr"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      grid(s, d)
        .join(hourly(s, d), Seq("user_id", "hr"), "left")
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
        .withColumn("ph", last(when(col("v").isNotNull, col("hr")),
          ignoreNulls = true).over(wPrev))
        .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
        .withColumn("nh", first(when(col("v").isNotNull, col("hr")),
          ignoreNulls = true).over(wNext))
        .withColumn("v_interp",
          when(col("v").isNotNull, col("v"))
            .when(col("pv").isNotNull && col("nv").isNotNull,
              col("pv") + (col("nv") - col("pv")) *
                ((col("hr") - col("ph")).cast("double") /
                  (col("nh") - col("ph")).cast("double")))
            .otherwise(coalesce(col("pv"), col("nv"))))
        .select(col("user_id"), col("hr"), col("v_interp"))
        .orderBy(col("user_id"), col("hr"))
    }),

    // Ordered-funnel analysis (r6): how many users completed
    // view → click → purchase IN TIME ORDER — the product-analytics
    // staple (conversion funnels). Step k's anchor is the EARLIEST
    // event of step k's type strictly after the user's step-(k−1)
    // anchor ("first qualifying event" semantics, the standard funnel
    // definition); anchors are exact µs longs, so every comparison is
    // integer and the result is engine-deterministic. Three
    // user-keyed conditional min-aggregations chained by join — one
    // shuffle key end to end (user_id), each stage map-combinable;
    // at 100 TB this is the canonical funnel shape (the alternative
    // single mapGroups pass would lose partial aggregation).
    "ts_funnel_steps" -> ((s, d) => {
      val e = events(s, d)
        .select(col("user_id"), col("event_type"), col("ts_us"))
      val s1 = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("t1"))
      val s2 = e.join(s1, "user_id")
        .filter(col("event_type") === "click" && col("ts_us") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("t2"))
      val s3 = e.join(s2, "user_id")
        .filter(col("event_type") === "purchase" && col("ts_us") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("t3"))
      s1.agg(lit(1L).as("step"), count(lit(1)).as("n_users"))
        .unionByName(s2.agg(lit(2L).as("step"), count(lit(1)).as("n_users")))
        .unionByName(s3.agg(lit(3L).as("step"), count(lit(1)).as("n_users")))
        .orderBy(col("step"))
    }),

    // OHLC downsampling (r4): per (user, hour) bar of the 2-dp money
    // value — open/close = value at the first/last event in the bar
    // ((ts, event_id) is a total order, so the endpoints are unique),
    // high/low = extremes, plus the event count. The classic
    // time-series decimation that turns a raw feed into a bar series
    // in ONE shuffle on (user_id, hr): min_by/max_by carry a single
    // (key, value) pair through map-side partial aggregation, so
    // per-group state is four scalars regardless of bar width — the
    // same mergeable-aggregate contract as the sketches. Exact decimal
    // money internally, DOUBLE surfaced (driver-compare rule); the
    // oracle's arg_min/arg_max over [ts, id] lists picks identical
    // endpoints because the key is unique.
    "ts_resample_ohlc" -> ((s, d) =>
      events(s, d)
        .filter(col("user_id") < 100)
        .withColumn("hr", expr(s"ts_us div $HourUs"))
        .groupBy(col("user_id"), col("hr"))
        .agg(
          min_by(money(col("value")), struct(col("ts_us"), col("event_id")))
            .cast("double").as("open"),
          max(money(col("value"))).cast("double").as("high"),
          min(money(col("value"))).cast("double").as("low"),
          max_by(money(col("value")), struct(col("ts_us"), col("event_id")))
            .cast("double").as("close"),
          count(lit(1)).as("n"))
        .orderBy(col("user_id"), col("hr"))),

    // Cohort retention matrix (r9): users grouped by the week of
    // their FIRST event (the cohort), tracked by how many are still
    // active k weeks later — the canonical product-analytics
    // triangle. All-integer: weeks are epoch-week ordinals,
    // retention is basis points via integer division. Three
    // shuffles, each on the natural key: (user, week) distinct,
    // per-user min-week, then the (cohort, offset) count — the
    // cohort-size join-back is against the tiny weeks² aggregate
    // (broadcast), never the fact table. At 100 TB every stage is
    // map-side combinable and the output is |weeks|² rows.
    "ts_retention_cohort" -> ((s, d) => {
      val act = events(s, d)
        .select(col("user_id"), expr(s"ts_us div $WeekUs").as("week"))
        .distinct()
      val cohort = act.groupBy(col("user_id"))
        .agg(min(col("week")).as("cohort_week"))
      val cells = act.join(cohort, "user_id")
        .groupBy(col("cohort_week"),
          (col("week") - col("cohort_week")).as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
      val sizes = cells.filter(col("week_offset") === 0)
        .select(col("cohort_week"), col("n_users").as("cohort_size"))
      cells.join(broadcast(sizes), "cohort_week")
        .select(col("cohort_week"), col("week_offset"), col("n_users"),
          col("cohort_size"),
          expr("n_users * 10000 div cohort_size").as("retention_bp"))
        .orderBy(col("cohort_week"), col("week_offset"))
    }),

    // Rolling z-score anomaly flags (r9): each event scored against
    // the trailing 6-event window of ITS OWN history (frame excludes
    // the current row — the value being tested must not contaminate
    // the baseline). Entirely integer algebra: with frame sums
    // S=Σc, S2=Σc², the |x−μ| > 2σ_pop gate is the cross-multiplied
    // (6x−S)² > 4·(6·S2−S²) — BIGINT-exact, so no IEEE sqrt/divide
    // can drift between engines. One key-partitioned window pass
    // (O(1) running frame state), then a per-user count — the same
    // single user_id shuffle every serial op in this family rides.
    "ts_anomaly_zscore" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(-6, -1)
      events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          expr("cast(round(value * 100) as bigint)").as("c"))
        .withColumn("fs", sum(col("c")).over(w))
        .withColumn("fs2", sum(col("c") * col("c")).over(w))
        .withColumn("fn", count(lit(1)).over(w))
        .withColumn("anom",
          col("fn") === 6 &&
            (col("c") * 6 - col("fs")) * (col("c") * 6 - col("fs")) >
              (col("fs2") * 6 - col("fs") * col("fs")) * 4)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("fn") === 6, 1L).otherwise(0L)).as("n_scored"),
          sum(when(col("anom"), 1L).otherwise(0L)).as("n_anomalies"))
        .orderBy(col("user_id"))
    }),

    // RFM customer scoring (r9): recency / frequency / monetary
    // quartile scores — the classic CRM segmentation. The per-customer
    // profile is one orders shuffle; the quartile CUTS are a 1-row
    // exact percentile_disc aggregate broadcast back onto the profile
    // (the agg_histogram_equi_depth playbook), so score assignment is
    // MAP-SIDE — no global rank/ntile window, which at 100 TB would
    // funnel every customer through one task (the r8 verdict's
    // low-cardinality-window scale-killer, avoided by construction).
    // All-integer features (days, counts, cents); scores are 1..4 by
    // cut comparison, recency inverted (recent = high).
    "ts_rfm_scores" -> ((s, d) => {
      val prof = orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(
          datediff(lit("1998-12-31").cast("date"),
            max(col("o_orderdate")).cast("date")).cast("long").as("r_days"),
          count(lit(1)).as("f_orders"),
          sum(expr("cast(round(o_totalprice * 100) as bigint)"))
            .as("m_cents"))
      val cuts = prof.agg(
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY r_days)").as("r1"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY r_days)").as("r2"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY r_days)").as("r3"),
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY f_orders)").as("f1"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY f_orders)").as("f2"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY f_orders)").as("f3"),
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY m_cents)").as("m1"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY m_cents)").as("m2"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY m_cents)").as("m3"))
      prof.crossJoin(broadcast(cuts))
        .select(col("o_custkey"), col("r_days"), col("f_orders"),
          col("m_cents"),
          (lit(1L) + when(col("r_days") <= col("r1"), 1L).otherwise(0L)
            + when(col("r_days") <= col("r2"), 1L).otherwise(0L)
            + when(col("r_days") <= col("r3"), 1L).otherwise(0L))
            .as("r_score"),
          (lit(1L) + when(col("f_orders") > col("f1"), 1L).otherwise(0L)
            + when(col("f_orders") > col("f2"), 1L).otherwise(0L)
            + when(col("f_orders") > col("f3"), 1L).otherwise(0L))
            .as("f_score"),
          (lit(1L) + when(col("m_cents") > col("m1"), 1L).otherwise(0L)
            + when(col("m_cents") > col("m2"), 1L).otherwise(0L)
            + when(col("m_cents") > col("m3"), 1L).otherwise(0L))
            .as("m_score"))
        .withColumn("rfm_cell",
          col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
        .orderBy(col("o_custkey"))
    }),

    // Interval-union coverage (r9): total wall-clock each user was
    // "active", where every event opens a 5-minute window and
    // overlapping windows must count ONCE — the classic sweep-line
    // union, spelled as one running-max window: a row adds
    // max(0, end − max(prev_max_end, start)) new microseconds. All
    // integer; O(1) frame state on the family's user_id shuffle (the
    // naive spelling is a self-join over overlapping pairs —
    // quadratic in the burst size).
    "ts_interval_coverage" -> ((s, d) => {
      val win = 300000000L // 5 min in µs
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          (col("ts_us") + lit(win)).as("e"))
        .withColumn("pme", max(col("e")).over(w))
        .withColumn("add",
          greatest(lit(0L),
            col("e") - greatest(coalesce(col("pme"), col("ts_us")),
              col("ts_us"))))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("add")).cast("long").as("covered_us"),
          (max(col("e")) - min(col("ts_us"))).as("span_us"))
        .orderBy(col("user_id"))
    }),

    // Local-extrema counts (r9): strict peaks (greater than both
    // neighbors) and valleys per user series — the shape primitive
    // under peak detection, cycle counting, and oscillation alarms.
    // One lag + one lead on the shared user window; endpoints have
    // only one neighbor and count as neither. All integer cents.
    "ts_peak_count" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          expr("cast(round(value * 100) as bigint)").as("c"))
        .withColumn("pv", lag(col("c"), 1).over(w))
        .withColumn("nv", lead(col("c"), 1).over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("pv").isNotNull && col("nv").isNotNull &&
            col("c") > col("pv") && col("c") > col("nv"), 1L)
            .otherwise(0L)).as("n_peaks"),
          sum(when(col("pv").isNotNull && col("nv").isNotNull &&
            col("c") < col("pv") && col("c") < col("nv"), 1L)
            .otherwise(0L)).as("n_valleys"))
        .orderBy(col("user_id"))
    }),

    // Seasonality strength (r9): how much of the value variance the
    // hour-of-day profile explains — ANOVA's eta² = (SS_between /
    // SS_total), THE one-scalar "is this series seasonal enough to
    // model" gate before fitting any seasonal component. Sufficient
    // statistics are exact integers (per-hour n_h and S_h, global Σc²
    // as DECIMAL); the only doubles are a BOUNDED 24-term sorted fold
    // of S_h²/n_h and the final ratio — micro-units out, zero-variance
    // NULLed. Two map-combinable aggregates, no window.
    "ts_seasonality_strength" -> ((s, d) => {
      val e = events(s, d).select(
        expr("(ts_us div 3600000000) % 24").as("h"),
        expr("cast(round(value * 100) as bigint)").as("c"))
      val perHour = e.groupBy(col("h"))
        .agg(count(lit(1)).as("n_h"), sum(col("c")).as("s_h"))
      perHour
        .agg(sum(col("n_h")).as("n"), sum(col("s_h")).as("s"),
          count(lit(1)).as("n_hours"),
          sort_array(collect_list(struct(col("h"), col("n_h"),
            col("s_h")))).as("lst"))
        .crossJoin(broadcast(e.agg(
          sum((col("c") * col("c")).cast("decimal(38,0)"))
            .cast("decimal(38,0)").as("q"))))
        .select(col("n"), col("n_hours"),
          when(
            col("q").cast("double") -
              col("s").cast("double") * col("s").cast("double") /
                col("n").cast("double") > 0,
            round((expr("""aggregate(lst, cast(0.0 as double), (acc, x) ->
                   acc + cast(x.s_h as double) * cast(x.s_h as double) /
                     cast(x.n_h as double))""") -
              col("s").cast("double") * col("s").cast("double") /
                col("n").cast("double")) /
              (col("q").cast("double") -
                col("s").cast("double") * col("s").cast("double") /
                  col("n").cast("double")) * 1e6))
            .cast("long").as("eta2_micro"))
    }),

    // Day-of-week × hour-of-day activity matrix (r9): the punch-card
    // heatmap every usage dashboard opens with — at most 168 cells
    // regardless of corpus size. PURE integer epoch arithmetic: epoch
    // day 0 (1970-01-01) was a Thursday, so dow = (days + 4) % 7 puts
    // Monday at 0 with zero timezone/locale surface (both engines'
    // date-part functions differ on week-start conventions; integer
    // math cannot).
    "ts_heatmap_dow_hour" -> ((s, d) => {
      events(s, d)
        .select(
          expr("(ts_us div 86400000000 + 4) % 7").as("dow"),
          expr("(ts_us div 3600000000) % 24").as("hr"),
          expr("cast(round(value * 100) as bigint)").as("c"))
        .groupBy(col("dow"), col("hr"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("cents"))
        .orderBy(col("dow"), col("hr"))
    }),

    // Moving-average crossover signals (r9): the fast-vs-slow SMA
    // cross count — the signal-generation primitive of every
    // technical-analysis/alerting pipeline. Fully integer: with
    // 3-frame sum F and 7-frame sum S (full frames only), the
    // fast>slow comparison is the cross-multiplied sign of 7·F − 3·S,
    // and a crossover is two consecutive scored rows whose signs
    // multiply negative — no division, no float. Both window passes
    // and the lag ride the family's one user_id shuffle.
    "ts_sma_cross" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val w3 = w.rowsBetween(-2, 0)
      val w7 = w.rowsBetween(-6, 0)
      val scored = events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          expr("cast(round(value * 100) as bigint)").as("c"))
        .withColumn("f3", sum(col("c")).over(w3))
        .withColumn("n7", count(lit(1)).over(w7))
        .withColumn("s7", sum(col("c")).over(w7))
        .filter(col("n7") === 7)
        .withColumn("sgn", signum(col("f3") * 7 - col("s7") * 3)
          .cast("long"))
      val w2 = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      scored.withColumn("prev_sgn", lag(col("sgn"), 1).over(w2))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_scored"),
          sum(when(col("prev_sgn") * col("sgn") < 0, 1L).otherwise(0L))
            .as("n_crossings"))
        .orderBy(col("user_id"))
    }),

    // Bollinger bands (r13): 20-row rolling mean ± 2σ per event type —
    // the volatility envelope next to ts_sma_cross's crossover signal
    // (a point outside the band is the classic mean-reversion /
    // anomaly trigger; ts_anomaly_zscore is the whole-series cousin,
    // this is the rolling-window one). EXACT sufficient statistics:
    // cents Σx and Σx² in DECIMAL(38,0) per 20-row frame (full frames
    // only), variance numerator 20·Σx² − (Σx)² exact, then mean, σ =
    // sqrt (correctly rounded IEEE — identical both engines) and the
    // ±2σ bands in ONE double step each, milli-scaled. Both window
    // passes ride the family's one (type-keyed) shuffle.
    "ts_bollinger" -> ((s, d) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts_us"), col("event_id"))
      val w20 = w.rowsBetween(-19, 0)
      events(s, d)
        .select(col("event_type"), col("ts_us"), col("event_id"),
          expr("cast(round(value * 100) as bigint)").as("c"))
        .withColumn("n20", count(lit(1)).over(w20))
        .withColumn("sx", sum(col("c").cast(DecimalType(38, 0))).over(w20))
        .withColumn("sxx", sum((col("c").cast(DecimalType(38, 0)) *
          col("c").cast(DecimalType(38, 0)))).over(w20))
        .filter(col("n20") === 20)
        .withColumn("mean", col("sx").cast("double") / lit(20.0))
        .withColumn("band", lit(2.0) * sqrt(
          (col("sxx") * lit(20) - col("sx") * col("sx")).cast("double")
            / lit(400.0)))
        .select(col("event_type"), col("ts_us"), col("event_id"),
          round(col("mean") * 1000).cast("long").as("mid_milli"),
          round((col("mean") + col("band")) * 1000).cast("long")
            .as("upper_milli"),
          round((col("mean") - col("band")) * 1000).cast("long")
            .as("lower_milli"))
        .orderBy(col("event_type"), col("ts_us"), col("event_id"))
    }),

    // Maximum drawdown (r9): per user, the largest peak-to-trough drop
    // of the event-value series in stored cents — the risk metric
    // every monitoring/finance series wants next to its running max.
    // One key-partitioned running-max window (O(1) task state on the
    // family's user_id shuffle), then a per-user max aggregate; all
    // integer, so no IEEE surface at all. The windowed max of BIGINT
    // stays BIGINT in both engines (no HUGEINT promotion — only sums
    // promote).
    "ts_max_drawdown" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          expr("cast(round(value * 100) as bigint)").as("c"))
        .withColumn("peak", max(col("c")).over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          max(col("c")).as("peak_cents"),
          max(col("peak") - col("c")).as("max_drawdown_cents"))
        .orderBy(col("user_id"))
    })
  )

  val oracle: Map[String, String] = Map(
    // r10: the r9 "declared-N" status is LIFTED — LTTB's sequential
    // pick dependence IS SQL-expressible as a recursive CTE stepping
    // one bucket per iteration: the state row carries the previous
    // pick (rebased ts, cents), the candidate bucket joins on b+1,
    // and the argmax is a correlated NOT EXISTS over the same bucket
    // (strictly-greater area, or equal area at an earlier index — the
    // engine's exact tie-break). Every quantity is integer
    // (HUGEINT products mirror the engine's BigInt areas), so the
    // pairing is bit-exact; verified 0-mismatch at sf0.001/0.01/0.1
    // before wiring. Series are per-user bounded (<=~100 points), so
    // the O(bucket^2) NOT EXISTS is trivial at the oracle's scale.
    "ts_downsample_lttb" ->
      """WITH RECURSIVE e AS MATERIALIZED (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events
        |), r AS MATERIALIZED (
        |  SELECT user_id, ts_us, cents,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) - 1 AS idx,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM e
        |), t0 AS MATERIALIZED (
        |  SELECT user_id, ts_us AS t0 FROM r WHERE idx = 0
        |), bk AS MATERIALIZED (
        |  SELECT u.user_id, u.n, b.b,
        |    1 + (b.b * (u.n - 2)) // 10 AS lo,
        |    1 + ((b.b + 1) * (u.n - 2)) // 10 AS hi
        |  FROM (SELECT DISTINCT user_id, n FROM r WHERE n > 12) u,
        |       unnest(generate_series(0, 9)) AS b(b)
        |), nxt AS MATERIALIZED (
        |  SELECT k.user_id, k.b,
        |    CAST(sum(rr.ts_us - t0.t0) AS HUGEINT) AS sx,
        |    CAST(sum(rr.cents) AS HUGEINT) AS sy,
        |    CAST(count(*) AS HUGEINT) AS c
        |  FROM bk k
        |  JOIN bk k2 ON k2.user_id = k.user_id AND k2.b = k.b + 1
        |  JOIN t0 ON t0.user_id = k.user_id
        |  JOIN r rr ON rr.user_id = k.user_id
        |    AND rr.idx >= k2.lo AND rr.idx < k2.hi
        |  WHERE k.b < 9
        |  GROUP BY k.user_id, k.b
        |  UNION ALL
        |  SELECT rr.user_id, 9,
        |    CAST(rr.ts_us - t0.t0 AS HUGEINT), CAST(rr.cents AS HUGEINT),
        |    CAST(1 AS HUGEINT)
        |  FROM r rr JOIN t0 ON t0.user_id = rr.user_id
        |  WHERE rr.idx = rr.n - 1 AND rr.n > 12
        |), rec AS (
        |  SELECT r.user_id, -1 AS b, 0::BIGINT AS idx,
        |    CAST(0 AS HUGEINT) AS px, CAST(r.cents AS HUGEINT) AS py,
        |    r.ts_us AS ts_us, r.cents AS cents
        |  FROM r WHERE r.idx = 0 AND r.n > 12
        |  UNION ALL
        |  SELECT cand.user_id, cand.b, cand.idx, cand.ax, cand.ay,
        |    cand.ts_us, cand.cents
        |  FROM (
        |    SELECT rec.user_id, rec.b + 1 AS b, rr.idx, rr.ts_us, rr.cents,
        |      CAST(rr.ts_us - t0.t0 AS HUGEINT) AS ax,
        |      CAST(rr.cents AS HUGEINT) AS ay,
        |      rec.px AS px, rec.py AS py,
        |      abs((rec.px * nx.c - nx.sx)
        |          * (CAST(rr.cents AS HUGEINT) - rec.py)
        |        - (rec.px - CAST(rr.ts_us - t0.t0 AS HUGEINT))
        |          * (nx.sy - rec.py * nx.c)) AS area
        |    FROM rec
        |    JOIN bk ON bk.user_id = rec.user_id AND bk.b = rec.b + 1
        |    JOIN nxt nx ON nx.user_id = rec.user_id AND nx.b = rec.b + 1
        |    JOIN t0 ON t0.user_id = rec.user_id
        |    JOIN r rr ON rr.user_id = rec.user_id
        |      AND rr.idx >= bk.lo AND rr.idx < bk.hi
        |  ) cand
        |  WHERE NOT EXISTS (
        |    SELECT 1
        |    FROM bk bk2
        |    JOIN nxt nx2 ON nx2.user_id = cand.user_id AND nx2.b = cand.b
        |    JOIN t0 t02 ON t02.user_id = cand.user_id
        |    JOIN r rr2 ON rr2.user_id = cand.user_id
        |      AND rr2.idx >= bk2.lo AND rr2.idx < bk2.hi
        |    WHERE bk2.user_id = cand.user_id AND bk2.b = cand.b
        |      AND (
        |        abs((cand.px * nx2.c - nx2.sx)
        |            * (CAST(rr2.cents AS HUGEINT) - cand.py)
        |          - (cand.px - CAST(rr2.ts_us - t02.t0 AS HUGEINT))
        |            * (nx2.sy - cand.py * nx2.c)) > cand.area
        |        OR (abs((cand.px * nx2.c - nx2.sx)
        |            * (CAST(rr2.cents AS HUGEINT) - cand.py)
        |          - (cand.px - CAST(rr2.ts_us - t02.t0 AS HUGEINT))
        |            * (nx2.sy - cand.py * nx2.c)) = cand.area
        |          AND rr2.idx < cand.idx))
        |  )
        |), big AS (
        |  SELECT user_id, b + 1 AS pick, ts_us, cents FROM rec
        |  UNION ALL
        |  SELECT rr.user_id, 11 AS pick, rr.ts_us, rr.cents
        |  FROM r rr WHERE rr.idx = rr.n - 1 AND rr.n > 12
        |), small AS (
        |  SELECT user_id, idx AS pick, ts_us, cents FROM r WHERE n <= 12
        |)
        |SELECT user_id, CAST(pick AS INT) AS pick, ts_us,
        |  CAST(cents AS BIGINT) AS cents
        |FROM (SELECT * FROM big UNION ALL SELECT * FROM small)
        |ORDER BY user_id, pick""".stripMargin,
    // quantile_disc picks the same actual data values as Spark's
    // percentile_disc (the agg_percentile_disc precedent); dev and
    // the 3-MAD gate are the same IEEE ops on those values.
    // same epoch-hour key, same exact integer cents and div mean
    "ts_seasonal_profile" ->
      """WITH e AS (
        |  SELECT (epoch_us(ts) // 3600000000) % 24 AS hod,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events
        |), p AS (
        |  SELECT hod, count(*) AS n_events,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM e GROUP BY hod
        |), m AS (
        |  SELECT hod, n_events, sum_cents // n_events AS mean_cents
        |  FROM p
        |)
        |SELECT m.hod, m.n_events, m.mean_cents,
        |  CAST(sum(CASE WHEN abs(e.cents - m.mean_cents) > m.mean_cents
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous
        |FROM e JOIN m ON e.hod = m.hod
        |GROUP BY m.hod, m.n_events, m.mean_cents
        |ORDER BY m.hod""".stripMargin,
    // exact BIGINT pair sums cast to double, then the identical IEEE
    // closed form as Spark; degenerate variance explicitly NULL
    "ts_autocorr" ->
      """WITH e AS (
        |  SELECT user_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
        |    lead(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS y
        |  FROM events
        |), s AS (
        |  SELECT user_id,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(x * y) AS DOUBLE) AS sxy,
        |    CAST(sum(x * x) AS DOUBLE) AS sxx,
        |    CAST(sum(y * y) AS DOUBLE) AS syy
        |  FROM e WHERE y IS NOT NULL GROUP BY user_id
        |)
        |SELECT user_id, CAST(n AS BIGINT) AS n_pairs,
        |  CASE WHEN n * sxx - sx * sx = 0.0 OR n * syy - sy * sy = 0.0
        |    THEN NULL
        |    ELSE (n * sxy - sx * sy) /
        |      (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) END
        |    AS lag1_corr
        |FROM s ORDER BY user_id""".stripMargin,
    // same epoch-week key and integer deltas over the weekly aggregate
    "ts_week_over_week" ->
      """WITH wk AS (
        |  SELECT event_type, epoch_us(ts) // 604800000000 AS week,
        |    count(*) AS n,
        |    CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS DECIMAL(18,0)) AS BIGINT) AS rev_cents
        |  FROM events GROUP BY event_type, epoch_us(ts) // 604800000000
        |)
        |SELECT event_type, week, n, rev_cents,
        |  lag(n, 1) OVER w AS prev_n,
        |  n - lag(n, 1) OVER w AS delta_n,
        |  rev_cents - lag(rev_cents, 1) OVER w AS delta_rev
        |FROM wk
        |WINDOW w AS (PARTITION BY event_type ORDER BY week)
        |ORDER BY event_type, week""".stripMargin,
    // windowed quantile_disc(0.5) picks the same lower-median element
    // as Spark's sorted-frame ceil(n/2) pick
    "ts_rolling_median" ->
      """SELECT user_id, event_id,
        |  CAST(quantile_disc(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT), 0.5)
        |    OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS med5_cents
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    // all-integer CUSUM: cents, integer-div mean, ROWS-frame running
    // sum over the unique (ts, event_id) order, abs-max
    // same 64-event slice by the same total order; slope = one IEEE
    // division of identical exact integers; quantile_disc = the same
    // disc pick as percentile_disc
    "ts_theil_sen" ->
      """WITH e AS MATERIALIZED (
        |  SELECT user_id, tus, cents, rn FROM (
        |    SELECT user_id, epoch_us(ts) AS tus,
        |      CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY epoch_us(ts), event_id) AS rn
        |    FROM events)
        |  WHERE rn <= 64
        |), s AS (
        |  SELECT a.user_id AS user_id,
        |    CAST(b.cents - a.cents AS DOUBLE)
        |      / CAST(b.tus - a.tus AS DOUBLE) AS slope
        |  FROM e a JOIN e b ON a.user_id = b.user_id
        |    AND a.rn < b.rn AND a.tus <> b.tus
        |)
        |SELECT user_id, count(*) AS n_pairs,
        |  quantile_disc(slope, 0.5) AS slope_med
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin,
    // same 128-event slice by the same total order, same integer
    // sign sums
    "ts_mk_trend" ->
      """WITH e AS (
        |  SELECT user_id, rn, cents FROM (
        |    SELECT user_id,
        |      CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY epoch_us(ts), event_id) AS rn
        |    FROM events) t
        |  WHERE rn <= 128
        |)
        |SELECT a.user_id AS user_id, count(*) AS n_pairs,
        |  CAST(sum(CASE WHEN b.cents > a.cents THEN 1
        |           WHEN b.cents < a.cents THEN -1 ELSE 0 END) AS BIGINT)
        |    AS mk_s,
        |  CAST(sum(CASE WHEN b.cents = a.cents THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_ties
        |FROM e a JOIN e b ON a.user_id = b.user_id AND a.rn < b.rn
        |GROUP BY a.user_id ORDER BY user_id""".stripMargin,
    // exact-integer argmax mirror: same n·S_k − k·S_n criterion, same
    // (dev DESC, ts, event_id) pick order
    "ts_changepoint" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events
        |), m AS (
        |  SELECT user_id, count(*) AS n_events,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM e GROUP BY user_id
        |), sc AS (
        |  SELECT e.user_id, m.n_events, e.ts_us, e.event_id,
        |    count(*) OVER w AS k,
        |    abs(m.n_events * (CAST(sum(e.cents) OVER w AS BIGINT))
        |        - (count(*) OVER w) * m.sum_cents) AS dev
        |  FROM e JOIN m ON e.user_id = m.user_id
        |  WINDOW w AS (PARTITION BY e.user_id
        |    ORDER BY e.ts_us, e.event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), pick AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY dev DESC, ts_us ASC, event_id ASC) AS rn
        |  FROM sc
        |)
        |SELECT user_id, n_events, ts_us AS cp_ts_us,
        |  CAST(k AS BIGINT) AS n_before, CAST(dev AS BIGINT) AS max_dev
        |FROM pick WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "ts_cusum" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events
        |), m AS (
        |  SELECT user_id, count(*) AS n_events,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM e GROUP BY user_id
        |), mm AS (
        |  SELECT user_id, n_events, sum_cents // n_events AS mean_cents
        |  FROM m
        |), c AS (
        |  SELECT e.user_id, mm.n_events, mm.mean_cents,
        |    sum(e.cents - mm.mean_cents) OVER (
        |      PARTITION BY e.user_id ORDER BY e.ts_us, e.event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
        |  FROM e JOIN mm ON e.user_id = mm.user_id
        |)
        |SELECT user_id, n_events, mean_cents,
        |  CAST(max(abs(cusum)) AS BIGINT) AS max_abs_cusum
        |FROM c GROUP BY user_id, n_events, mean_cents
        |ORDER BY user_id""".stripMargin,
    "ts_outlier_mad" ->
      """WITH e AS (
        |  SELECT user_id, value FROM events
        |), med AS (
        |  SELECT user_id, quantile_disc(value, 0.5) AS med
        |  FROM e GROUP BY user_id
        |), dev AS (
        |  SELECT e.user_id, med.med, abs(value - med.med) AS dev
        |  FROM e JOIN med ON e.user_id = med.user_id
        |), mad AS (
        |  SELECT user_id, quantile_disc(dev, 0.5) AS mad
        |  FROM dev GROUP BY user_id
        |)
        |SELECT dev.user_id, count(*) AS n_events, dev.med, mad.mad,
        |  CAST(sum(CASE WHEN dev > mad.mad * 3.0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM dev JOIN mad ON dev.user_id = mad.user_id
        |GROUP BY dev.user_id, dev.med, mad.mad
        |ORDER BY dev.user_id""".stripMargin,
    // same hash sample, same sample-only thresholds, same full-stream
    // gate — the sampling predicate is the cross-engine md5 trick
    "ts_outlier_sampled" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value FROM events
        |), s AS (
        |  SELECT * FROM e WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 1) < '4'
        |), med AS (
        |  SELECT user_id, quantile_disc(value, 0.5) AS med
        |  FROM s GROUP BY user_id
        |), thr AS (
        |  SELECT s.user_id, med.med,
        |    quantile_disc(abs(s.value - med.med), 0.5) AS mad
        |  FROM s JOIN med ON s.user_id = med.user_id
        |  GROUP BY s.user_id, med.med
        |)
        |SELECT e.user_id, count(*) AS n_events, thr.med, thr.mad,
        |  CAST(sum(CASE WHEN abs(e.value - thr.med) > thr.mad * 3.0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM e JOIN thr ON e.user_id = thr.user_id
        |GROUP BY e.user_id, thr.med, thr.mad
        |ORDER BY e.user_id""".stripMargin,
    // identical first-flag + running-sum decomposition
    "ts_cum_distinct" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tus, event_type
        |  FROM events
        |), f AS (
        |  SELECT event_id, user_id, tus,
        |    CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY tus, event_id) = 1 THEN 1 ELSE 0 END AS is_first
        |  FROM e
        |)
        |SELECT event_id, user_id, tus AS ts_us,
        |  CAST(sum(is_first) OVER (PARTITION BY user_id
        |    ORDER BY tus, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_types_seen
        |FROM f ORDER BY event_id""".stripMargin,
    // session_window's OWN boundary contract (new session at
    // diff >= gap — strict window overlap), spelled as lag + cumsum
    "ts_session_window" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id FROM events
        |), x AS (
        |  SELECT user_id, tus, event_id,
        |    CASE WHEN lag(tus) OVER w IS NULL
        |           OR tus - lag(tus) OVER w >= 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
        |), s AS (
        |  SELECT user_id, tus,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM x
        |)
        |SELECT user_id, count(*) AS n_events,
        |  min(tus) AS first_us, max(tus) AS last_us
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, first_us""".stripMargin,
    // two-element LIST accumulator fold ([level, trend]; the first
    // element [x, 0] IS the seed): each step applies the identical
    // multiply-add order as the Spark fold, and trend' inlines
    // level''s expression — same IEEE ops, same value. A STRUCT
    // accumulator is deliberately NOT used: DuckDB 1.0 evaluates
    // struct fields sequentially against an in-place-mutated acc
    // (field 't' sees the new 'l' — probed live in r8), where list
    // children evaluate simultaneously.
    "ts_holt_linear" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id, value FROM events
        |), g AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |    list_reduce(
        |      list_transform(list(CAST(value AS DOUBLE) ORDER BY tus, event_id),
        |        x -> [x, CAST(0 AS DOUBLE)]),
        |      (acc, e) -> [
        |        CAST(0.5 AS DOUBLE) * e[1]
        |          + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]),
        |        CAST(0.25 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * e[1]
        |          + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2])) - acc[1])
        |          + CAST(0.75 AS DOUBLE) * acc[2]
        |      ]) AS ht
        |  FROM e GROUP BY user_id
        |)
        |SELECT user_id, n_events, ht[1] AS level, ht[2] AS trend
        |FROM g ORDER BY user_id""".stripMargin,
    // Same left-to-right fold over the same (ts, event_id) order with
    // the same exact-binary 0.25/0.75 constants — bit-identical
    // doubles (the sim_search_topk ordered-fold proof).
    "ts_ewma" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id, value FROM events
        |)
        |SELECT user_id,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list(CAST(value AS DOUBLE) ORDER BY tus, event_id)),
        |    (acc, x) -> x * CAST(0.25 AS DOUBLE) + acc * CAST(0.75 AS DOUBLE)) AS ewma
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,
    // arg_min/arg_max over a composite [ts, id] key does not bind in
    // DuckDB, so the oracle picks the bar endpoints by row_number over
    // the same (ts, event_id) total order — identical winners.
    "ts_resample_ohlc" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus,
        |    CAST(value AS DECIMAL(18,2)) AS v,
        |    epoch_us(ts) // 3600000000 AS hr
        |  FROM events WHERE user_id < 100
        |), r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY user_id, hr
        |      ORDER BY tus, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY user_id, hr
        |      ORDER BY tus DESC, event_id DESC) AS rn_d
        |  FROM e
        |)
        |SELECT user_id, hr,
        |  CAST(max(CASE WHEN rn_a = 1 THEN v END) AS DOUBLE) AS open,
        |  CAST(max(v) AS DOUBLE) AS high,
        |  CAST(min(v) AS DOUBLE) AS low,
        |  CAST(max(CASE WHEN rn_d = 1 THEN v END) AS DOUBLE) AS close,
        |  count(*) AS n
        |FROM r GROUP BY user_id, hr ORDER BY user_id, hr""".stripMargin,
    "ts_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        |), f AS (
        |  SELECT user_id, event_id, ts_us,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |           OR ts_us - lag(ts_us) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |), sess AS (
        |  SELECT user_id, ts_us,
        |    CAST(sum(is_new) OVER (
        |      PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS session_id
        |  FROM f
        |)
        |SELECT user_id, session_id,
        |  min(ts_us) AS start_us, max(ts_us) AS end_us,
        |  count(*) AS n_events
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "ts_multi_grain_rollup" ->
      """WITH e AS (
        |  SELECT CAST(CAST(date_trunc('month', ts) AS DATE) AS VARCHAR) AS mon,
        |    CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
        |    epoch_us(ts) // 3600000000 AS hr,
        |    value
        |  FROM events
        |)
        |SELECT grouping_id(mon, day, hr) AS gid, mon, day, hr,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
        |FROM e GROUP BY ROLLUP (mon, day, hr)
        |ORDER BY gid, mon ASC NULLS FIRST, day ASC NULLS FIRST,
        |  hr ASC NULLS FIRST""".stripMargin,
    "ts_streaks" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events
        |), r AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id)
        |    - row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts_us, event_id) AS grp
        |  FROM e
        |), runs AS (
        |  SELECT user_id, event_type, grp, count(*) AS len
        |  FROM r GROUP BY 1, 2, 3
        |)
        |SELECT user_id, event_type, max(len) AS max_streak
        |FROM runs GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,
    // same epoch-day buckets, distinct counts, and integer bp
    "ts_dau_mau" ->
      """WITH ev AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events
        |), dau AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ev GROUP BY day
        |), mau AS (
        |  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS mau FROM ev
        |), t AS (
        |  SELECT min(day) AS d0, max(day) AS d1,
        |    CAST(sum(dau) AS BIGINT) AS sum_dau FROM dau
        |)
        |SELECT CAST(d1 - d0 + 1 AS BIGINT) AS n_days, mau,
        |  CAST(sum_dau * 10000 // ((d1 - d0 + 1) * mau) AS BIGINT)
        |    AS stickiness_bp
        |FROM t, mau""".stripMargin,
    // same integer hour buckets and count moments, HUGEINT numerator
    // mirrors the engine's DECIMAL(38,0), one IEEE division
    "ts_poisson_dispersion" ->
      """WITH h AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
        |    count(*) AS c
        |  FROM events GROUP BY 1, 2
        |), t AS (
        |  SELECT event_type, min(hr) AS h0, max(hr) AS h1,
        |    CAST(sum(c) AS BIGINT) AS s, sum(c * c) AS q
        |  FROM h GROUP BY event_type
        |)
        |SELECT event_type, CAST(h1 - h0 + 1 AS BIGINT) AS n_hours,
        |  s AS n_events,
        |  CAST(round(CAST((h1 - h0 + 1)::HUGEINT * q::HUGEINT -
        |    s::HUGEINT * s::HUGEINT AS DOUBLE) /
        |    (CAST(h1 - h0 + 1 AS DOUBLE) * CAST(s AS DOUBLE)) * 1e6)
        |    AS BIGINT) AS dispersion_micro
        |FROM t ORDER BY event_type""".stripMargin,
    // same integer gap seconds, same exact radicand (DuckDB's
    // HUGEINT sums mirror the engine's DECIMAL(38,0)), one double
    // sqrt on an identical input, micro-units out
    "ts_burstiness" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
        |), g AS (
        |  SELECT user_id,
        |    (ts_us - lag(ts_us, 1) OVER (PARTITION BY user_id
        |       ORDER BY ts_us, event_id)) // 1000000 AS gap_s
        |  FROM ev
        |), a AS (
        |  SELECT user_id, count(*) AS n_gaps,
        |    sum(gap_s) AS s, sum(gap_s * gap_s) AS q
        |  FROM g WHERE gap_s IS NOT NULL GROUP BY user_id
        |)
        |SELECT user_id, n_gaps,
        |  CAST(round(
        |    (sqrt(CAST(n_gaps * q - s * s AS DOUBLE)) - CAST(s AS DOUBLE)) /
        |    (sqrt(CAST(n_gaps * q - s * s AS DOUBLE)) + CAST(s AS DOUBLE))
        |    * 1e6) AS BIGINT) AS burst_micro
        |FROM a WHERE n_gaps >= 2 AND s > 0 ORDER BY user_id""".stripMargin,
    "ts_gap_fill" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 3600000000 AS hr FROM events
        |  WHERE user_id < 100
        |), c AS (
        |  SELECT user_id, hr, count(*) AS n FROM e GROUP BY 1, 2
        |), s AS (
        |  SELECT user_id, min(hr) AS h0, max(hr) AS h1 FROM e GROUP BY 1
        |), g AS (
        |  SELECT user_id, unnest(generate_series(h0, h1)) AS hr FROM s
        |)
        |SELECT g.user_id, g.hr, COALESCE(c.n, 0) AS n
        |FROM g LEFT JOIN c ON c.user_id = g.user_id AND c.hr = g.hr
        |ORDER BY g.user_id, g.hr""".stripMargin,
    "ts_locf_ffill" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 3600000000 AS hr, value FROM events
        |  WHERE user_id < 100
        |), c AS (
        |  SELECT user_id, hr, max(value) AS v FROM e GROUP BY 1, 2
        |), s AS (
        |  SELECT user_id, min(hr) AS h0, max(hr) AS h1 FROM e GROUP BY 1
        |), g AS (
        |  SELECT user_id, unnest(generate_series(h0, h1)) AS hr FROM s
        |)
        |SELECT g.user_id, g.hr,
        |  last_value(c.v IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.hr
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
        |FROM g LEFT JOIN c ON c.user_id = g.user_id AND c.hr = g.hr
        |ORDER BY g.user_id, g.hr""".stripMargin,

    "ts_funnel_steps" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS tus FROM events
        |), s1 AS (
        |  SELECT user_id, min(tus) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY user_id
        |), s2 AS (
        |  SELECT e.user_id, min(e.tus) AS t2 FROM e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.tus > s1.t1 GROUP BY e.user_id
        |), s3 AS (
        |  SELECT e.user_id, min(e.tus) AS t3 FROM e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.tus > s2.t2 GROUP BY e.user_id
        |)
        |SELECT 1 AS step, count(*) AS n_users FROM s1
        |UNION ALL SELECT 2, count(*) FROM s2
        |UNION ALL SELECT 3, count(*) FROM s3
        |ORDER BY step""".stripMargin,

    // Identical IEEE expression tree — pv + (nv - pv) * ((hr - ph) /
    // (nh - ph)) over identical operands — so the doubles hash-match.
    "ts_interpolate_linear" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 3600000000 AS hr, value FROM events
        |  WHERE user_id < 100
        |), c AS (
        |  SELECT user_id, hr, max(value) AS v FROM e GROUP BY 1, 2
        |), s AS (
        |  SELECT user_id, min(hr) AS h0, max(hr) AS h1 FROM e GROUP BY 1
        |), g AS (
        |  SELECT user_id, unnest(generate_series(h0, h1)) AS hr FROM s
        |), w AS (
        |  SELECT g.user_id, g.hr, c.v,
        |    last_value(c.v IGNORE NULLS) OVER (
        |      PARTITION BY g.user_id ORDER BY g.hr
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    last_value(CASE WHEN c.v IS NOT NULL THEN g.hr END IGNORE NULLS) OVER (
        |      PARTITION BY g.user_id ORDER BY g.hr
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
        |    first_value(c.v IGNORE NULLS) OVER (
        |      PARTITION BY g.user_id ORDER BY g.hr
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN c.v IS NOT NULL THEN g.hr END IGNORE NULLS) OVER (
        |      PARTITION BY g.user_id ORDER BY g.hr
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
        |  FROM g LEFT JOIN c ON c.user_id = g.user_id AND c.hr = g.hr
        |)
        |SELECT user_id, hr,
        |  CASE WHEN v IS NOT NULL THEN v
        |       WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
        |         pv + (nv - pv) * (CAST(hr - ph AS DOUBLE) / CAST(nh - ph AS DOUBLE))
        |       ELSE COALESCE(pv, nv) END AS v_interp
        |FROM w ORDER BY user_id, hr""".stripMargin,
    // same epoch-week ordinals, integer basis-point division
    "ts_retention_cohort" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week
        |  FROM events
        |), cohort AS (
        |  SELECT user_id, min(week) AS cohort_week FROM act GROUP BY user_id
        |), cells AS (
        |  SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
        |    count(*) AS n_users
        |  FROM act a JOIN cohort c ON a.user_id = c.user_id
        |  GROUP BY 1, 2
        |), sz AS (
        |  SELECT cohort_week, n_users AS cohort_size FROM cells
        |  WHERE week_offset = 0
        |)
        |SELECT cells.cohort_week, week_offset, n_users, cohort_size,
        |  n_users * 10000 // cohort_size AS retention_bp
        |FROM cells JOIN sz ON cells.cohort_week = sz.cohort_week
        |ORDER BY cells.cohort_week, week_offset""".stripMargin,
    // identical cross-multiplied integer gate; windowed BIGINT sums
    // come back HUGEINT, so cast before the algebra
    "ts_anomaly_zscore" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events
        |), w AS (
        |  SELECT user_id, c,
        |    CAST(sum(c) OVER f AS BIGINT) AS fs,
        |    CAST(sum(c * c) OVER f AS BIGINT) AS fs2,
        |    count(*) OVER f AS fn
        |  FROM e
        |  WINDOW f AS (PARTITION BY user_id ORDER BY tus, event_id
        |    ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CASE WHEN fn = 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_scored,
        |  CAST(sum(CASE WHEN fn = 6 AND
        |    (c * 6 - fs) * (c * 6 - fs) > (fs2 * 6 - fs * fs) * 4
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,
    // same 1-row quantile_disc cuts, same comparison-count scores
    "ts_rfm_scores" ->
      """WITH prof AS (
        |  SELECT o_custkey,
        |    date_diff('day', CAST(max(o_orderdate) AS DATE),
        |      DATE '1998-12-31') AS r_days,
        |    count(*) AS f_orders,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS m_cents
        |  FROM orders GROUP BY o_custkey
        |), cuts AS (
        |  SELECT quantile_disc(r_days, 0.25) AS r1,
        |    quantile_disc(r_days, 0.5) AS r2,
        |    quantile_disc(r_days, 0.75) AS r3,
        |    quantile_disc(f_orders, 0.25) AS f1,
        |    quantile_disc(f_orders, 0.5) AS f2,
        |    quantile_disc(f_orders, 0.75) AS f3,
        |    quantile_disc(m_cents, 0.25) AS m1,
        |    quantile_disc(m_cents, 0.5) AS m2,
        |    quantile_disc(m_cents, 0.75) AS m3
        |  FROM prof
        |)
        |SELECT o_custkey, CAST(r_days AS BIGINT) AS r_days, f_orders, m_cents,
        |  CAST(1 + CASE WHEN r_days <= r1 THEN 1 ELSE 0 END
        |    + CASE WHEN r_days <= r2 THEN 1 ELSE 0 END
        |    + CASE WHEN r_days <= r3 THEN 1 ELSE 0 END AS BIGINT) AS r_score,
        |  CAST(1 + CASE WHEN f_orders > f1 THEN 1 ELSE 0 END
        |    + CASE WHEN f_orders > f2 THEN 1 ELSE 0 END
        |    + CASE WHEN f_orders > f3 THEN 1 ELSE 0 END AS BIGINT) AS f_score,
        |  CAST(1 + CASE WHEN m_cents > m1 THEN 1 ELSE 0 END
        |    + CASE WHEN m_cents > m2 THEN 1 ELSE 0 END
        |    + CASE WHEN m_cents > m3 THEN 1 ELSE 0 END AS BIGINT) AS m_score,
        |  CAST((1 + CASE WHEN r_days <= r1 THEN 1 ELSE 0 END
        |    + CASE WHEN r_days <= r2 THEN 1 ELSE 0 END
        |    + CASE WHEN r_days <= r3 THEN 1 ELSE 0 END) * 100
        |  + (1 + CASE WHEN f_orders > f1 THEN 1 ELSE 0 END
        |    + CASE WHEN f_orders > f2 THEN 1 ELSE 0 END
        |    + CASE WHEN f_orders > f3 THEN 1 ELSE 0 END) * 10
        |  + (1 + CASE WHEN m_cents > m1 THEN 1 ELSE 0 END
        |    + CASE WHEN m_cents > m2 THEN 1 ELSE 0 END
        |    + CASE WHEN m_cents > m3 THEN 1 ELSE 0 END) AS BIGINT) AS rfm_cell
        |FROM prof, cuts ORDER BY o_custkey""".stripMargin,
    // same running-max sweep; sum(add) comes back HUGEINT, cast
    "ts_interval_coverage" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS s, event_id,
        |    epoch_us(ts) + 300000000 AS e
        |  FROM events
        |), w AS (
        |  SELECT user_id, s, e,
        |    max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        |  FROM e
        |)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(sum(greatest(0, e - greatest(coalesce(pme, s), s)))
        |    AS BIGINT) AS covered_us,
        |  max(e) - min(s) AS span_us
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,
    "ts_peak_count" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events
        |), w AS (
        |  SELECT user_id, c,
        |    lag(c) OVER f AS pv, lead(c) OVER f AS nv
        |  FROM e
        |  WINDOW f AS (PARTITION BY user_id ORDER BY tus, event_id)
        |)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CASE WHEN pv IS NOT NULL AND nv IS NOT NULL
        |    AND c > pv AND c > nv THEN 1 ELSE 0 END) AS BIGINT) AS n_peaks,
        |  CAST(sum(CASE WHEN pv IS NOT NULL AND nv IS NOT NULL
        |    AND c < pv AND c < nv THEN 1 ELSE 0 END) AS BIGINT) AS n_valleys
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,
    // same exact sufficient stats, same 24-term sorted fold and ratio
    "ts_seasonality_strength" ->
      """WITH e AS (
        |  SELECT (epoch_us(ts) // 3600000000) % 24 AS h,
        |    CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events
        |), ph AS (
        |  SELECT h, count(*) AS n_h, CAST(sum(c) AS BIGINT) AS s_h
        |  FROM e GROUP BY h
        |), g AS (
        |  SELECT CAST(sum(n_h) AS BIGINT) AS n, CAST(sum(s_h) AS BIGINT) AS s,
        |    count(*) AS n_hours,
        |    list(struct_pack(h := h, n_h := n_h, s_h := s_h) ORDER BY h)
        |      AS lst
        |  FROM ph
        |), q AS (SELECT sum(c * c) AS q FROM e)
        |SELECT n, n_hours,
        |  CASE WHEN CAST(q AS DOUBLE) -
        |       CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE) > 0
        |  THEN CAST(round((list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_transform(lst, x ->
        |      CAST(x.s_h AS DOUBLE) * CAST(x.s_h AS DOUBLE) /
        |        CAST(x.n_h AS DOUBLE))), (a, v) -> a + v) -
        |    CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) /
        |    (CAST(q AS DOUBLE) -
        |     CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |    * 1e6) AS BIGINT)
        |  END AS eta2_micro
        |FROM g, q""".stripMargin,
    // identical integer epoch algebra (// floors like div on the
    // non-negative epoch)
    "ts_heatmap_dow_hour" ->
      """SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
        |  (epoch_us(ts) // 3600000000) % 24 AS hr,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY 1, 2 ORDER BY dow, hr""".stripMargin,
    // same exact Σx/Σx² per 20-row frame (HUGEINT mirrors the
    // DECIMAL(38,0) window sums), same one-double-step mean/σ/bands
    "ts_bollinger" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS tus, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events
        |), w AS (
        |  SELECT event_type, tus, event_id,
        |    count(*) OVER fr AS n20,
        |    sum(CAST(c AS HUGEINT)) OVER fr AS sx,
        |    sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) OVER fr AS sxx
        |  FROM e
        |  WINDOW fr AS (PARTITION BY event_type ORDER BY tus, event_id
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        |), b AS (
        |  SELECT event_type, tus, event_id,
        |    CAST(sx AS DOUBLE) / 20.0 AS mean,
        |    2.0 * sqrt(CAST(sxx * 20 - sx * sx AS DOUBLE) / 400.0) AS band
        |  FROM w WHERE n20 = 20
        |)
        |SELECT event_type, tus AS ts_us, event_id,
        |  CAST(round(mean * 1000) AS BIGINT) AS mid_milli,
        |  CAST(round((mean + band) * 1000) AS BIGINT) AS upper_milli,
        |  CAST(round((mean - band) * 1000) AS BIGINT) AS lower_milli
        |FROM b ORDER BY event_type, ts_us, event_id""".stripMargin,
    // same cross-multiplied sign algebra; windowed HUGEINT sums cast
    "ts_sma_cross" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events
        |), w AS (
        |  SELECT user_id, tus, event_id,
        |    CAST(sum(c) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS f3,
        |    count(*) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS n7,
        |    CAST(sum(c) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS s7
        |  FROM e
        |), sc AS (
        |  SELECT user_id, tus, event_id, sign(f3 * 7 - s7 * 3) AS sgn
        |  FROM w WHERE n7 = 7
        |), lg AS (
        |  SELECT user_id, sgn,
        |    lag(sgn) OVER (PARTITION BY user_id ORDER BY tus, event_id)
        |      AS prev_sgn
        |  FROM sc
        |)
        |SELECT user_id, count(*) AS n_scored,
        |  CAST(sum(CASE WHEN prev_sgn * sgn < 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_crossings
        |FROM lg GROUP BY user_id ORDER BY user_id""".stripMargin,
    // windowed max of BIGINT is BIGINT in DuckDB too (no HUGEINT cast)
    "ts_max_drawdown" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events
        |), w AS (
        |  SELECT user_id, c,
        |    max(c) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM e
        |)
        |SELECT user_id, count(*) AS n_events, max(c) AS peak_cents,
        |  max(peak - c) AS max_drawdown_cents
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin
  )
}
