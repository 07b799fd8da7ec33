package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SQLExecution
import java.nio.file.{Files, Paths}

/** Whole-surface timing run: times one full-plan action per SparkEntry
  * query. `perfbench/run.py` is the benchmark gate; this main only checks
  * that every query runs at the chosen scale and how long each takes.
  *
  * Each query runs TWICE back to back and the MIN is reported: run 1
  * absorbs every one-time cost — Janino whole-stage-codegen compilation,
  * the `TempDirs.once` layout / artifact builds, parquet footer
  * caching — so run 2 measures the query, not the setup.
  *
  * A caller may capture only the last 2000 chars of stdout, so the stdout
  * line stays at or under 1400 chars (total + the slowest queries only)
  * and is the last thing the JVM prints. The complete per-query map, with
  * every run, goes to `BENCH_LAST.json` in the working directory.
  */
object Bench {
  /** Fixed-work single-thread CPU spin → ns/op, taken before and after
    * the run so the record carries its own box-health evidence. The spin
    * is a xorshift loop — pure ALU, no memory traffic — so its ns/op
    * moves only with clock speed / hypervisor steal, not with cache state.
    */
  private def spinNsPerOp(): Double = {
    // untimed warm-up: the pre-run spin is the first work in main(), and
    // without this the timed loop includes interpreter/OSR JIT warm-up
    var w = 0x9E3779B97F4A7C15L
    var j = 0L
    while (j < 50000000L) { w ^= w << 13; w ^= w >>> 7; w ^= w << 17; j += 1 }
    var x = w | 1L
    var i = 0L
    val n = 400000000L // ~0.3-0.5 s on a quiet box
    val t0 = System.nanoTime()
    while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val dt = System.nanoTime() - t0
    // data-dependent side effect defeats dead-code elimination
    if (x == 42L) System.err.println("calib")
    dt.toDouble / n
  }

  /** (steal, total) jiffies from the aggregate cpu line of /proc/stat.
    * Cumulative counters — steal% over the bench is the delta ratio. */
  private def procStatSample(): (Long, Long) =
    try {
      val cpu = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).get
      val f = cpu.trim.split("\\s+").drop(1).map(_.toLong)
      val steal = if (f.length > 7) f(7) else 0L
      (steal, f.sum)
    } catch { case _: Throwable => (0L, 0L) }

  /** Runs the whole physical plan, root sort included, and discards the
    * rows. `count()` would plan an aggregate over the query, which drops
    * the root sort; a `noop` write plans a V2 write, under which
    * `SmallPlanOnePartition` keeps the exchanges that readers never get.
    */
  private def drain(df: DataFrame): Unit = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe)(qe.toRdd.foreach(_ => ()))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val calibPre = spinNsPerOp()
    val (steal0, jiffies0) = procStatSample()
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // warm the JVM / codegen / parquet-reader paths once so per-query
    // timings measure the queries, not session startup. NonFatal only:
    // a fatal JVM error must abort the run here, not resurface as bogus
    // timings later
    try drain(SparkEntry.entry(spark))
    catch { case scala.util.control.NonFatal(_) => () }
    val runsPerQuery = 2
    // a run whose action THREW records its elapsed time NEGATED — the
    // min aggregation must never select a fast failure over a real
    // completion (and a query with no successful run reports -1, which
    // can't be mistaken for a time)
    val results: Map[String, Seq[Double]] = SparkEntry.queries.map {
      case (name, fn) =>
        name -> (1 to runsPerQuery).map { _ =>
          val t0 = System.nanoTime()
          val ok = try { drain(fn(spark, sfDir)); true }
                   catch { case _: Throwable => false }
          val dt = (System.nanoTime() - t0) / 1e9
          if (ok) dt else -dt
        }
    }
    val mins = results.view.mapValues { runs =>
      val good = runs.filter(_ >= 0)
      if (good.nonEmpty) good.min else -1.0
    }.toMap
    def fmt(v: Double): String = f"$v%.3f"
    def toJson(entries: Iterable[(String, Double)]): String =
      entries.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
    // the total sums only successful mins: adding the -1.0 sentinel of
    // a doubly-failed query would SUBTRACT a second per failure while
    // still counting it in n_queries. value/n_queries is a per-query
    // average only when n_failed = 0
    val total = mins.values.filter(_ >= 0).sum
    val nFailed = mins.values.count(_ < 0)
    val nSuccess = mins.size - nFailed
    // box health over the whole run: calib_post >> calib_pre = the box
    // degraded during the run; steal_pct > ~1% = hypervisor contention
    val calibPost = spinNsPerOp()
    val (steal1, jiffies1) = procStatSample()
    val stealPct =
      if (jiffies1 > jiffies0) 100.0 * (steal1 - steal0) / (jiffies1 - jiffies0)
      else 0.0
    val calibJson =
      f"""{"pre_ns_per_op":$calibPre%.4f,"post_ns_per_op":$calibPost%.4f,"steal_pct":$stealPct%.3f}"""
    def line(qs: String): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${mins.size},"n_success":$nSuccess,"n_failed":$nFailed,"runs_per_query":$runsPerQuery,"agg":"min","calibration":$calibJson,"queries":$qs,"sf":"$sfDir"}"""
    // full map (min + every run; negative run = that attempt threw)
    val bySlowest = mins.toSeq.sortBy(-_._2)
    val fullQs = bySlowest.map { case (k, v) =>
      "\"" + k + "\":{\"min\":" + fmt(v) + ",\"runs\":[" +
        results(k).map(fmt).mkString(",") + "]}"
    }.mkString("{", ",", "}")
    try Files.writeString(Paths.get("BENCH_LAST.json"), line(fullQs) + "\n")
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] BENCH_LAST.json not written: $e")
    }
    // stdout: drop fastest entries until the line fits the 1400-char
    // budget. spark.stop() runs FIRST so no straggler WARN/progress line
    // can land on stdout after the JSON and push its start off a
    // tail capture
    val n = (bySlowest.length to 1 by -1)
      .find(k => line(toJson(bySlowest.take(k))).length <= 1400)
      .getOrElse(1)
    // stop() can itself throw on a wedged box — the JSON line must
    // still print
    try spark.stop()
    catch { case scala.util.control.NonFatal(_) => () }
    println(line(toJson(bySlowest.take(n))))
    System.out.flush()
  }
}
