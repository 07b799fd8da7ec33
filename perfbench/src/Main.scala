package perfbench

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.SnapshotTable

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One JVM session of a benchmark run: start Spark, run `warmupPasses`
  * untimed passes over the workload's jobs, then timed passes until the
  * time budget and the sample minimum are both met. Raw samples go to
  * `--out` as JSON; `run.py` aggregates the sessions of a run.
  *
  * One client, closed loop: each job is a call into a program module
  * (which builds the DataFrame, plus any eager work the module does)
  * followed by an action that executes the whole plan and checks the
  * result.
  */
object Main {

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String, d: String): String = m.getOrElse(k, d)
  }

  final case class JobRec(module: String, name: String, callS: Double,
                          actionS: Double, ok: Boolean, traced: Boolean,
                          pass: Int = 0)

  final class QJob(val module: String, val name: String,
                   val call: () => DataFrame,
                   val verify: DataFrame => Option[String])

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)
    a("mode") match {
      case "run" => new Session(a).run()
      case "record" => new Session(a).record()
      case "selftest" => SelfTest.main(a)
      case m => sys.error(s"unknown mode $m")
    }
  }

  def buildSpark(cores: Int, work: Path, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.broadcastTimeout", "1800")
      // room for every generated class of a workload: with Spark's
      // default of 100 entries the ~130 classes of football_batch evict
      // each other, and each pass recompiles and re-JITs about 75 of
      // them in an order that depends on the seed
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (trace) b.config("spark.sql.streaming.streamingQueryListeners",
      "perfbench.StreamTap")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** VmHWM of this JVM in MiB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Fixed-work single-thread xorshift spin, ns per iteration: moves only
    * with clock speed and hypervisor steal, never with the program.
    */
  def spinNsPerOp(): Double = {
    var w = 0x9E3779B97F4A7C15L
    var j = 0L
    while (j < 50000000L) { w ^= w << 13; w ^= w >>> 7; w ^= w << 17; j += 1 }
    var x = w | 1L
    val n = 200000000L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val dt = System.nanoTime() - t0
    if (x == 42L) System.err.println("spin")
    dt.toDouble / n
  }

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Expected results: {"<workload>/<query>": [rows, "<checksum hex>"]}. */
  def loadExpected(p: Path): Map[String, (Long, Long)] =
    if (!Files.exists(p)) Map.empty
    else {
      val root = json.readTree(p.toFile)
      root.fieldNames().asScala.map { k =>
        val v = root.get(k)
        k -> (v.get(0).asLong(), java.lang.Long.parseUnsignedLong(v.get(1).asText(), 16))
      }.toMap
    }

  def hex(h: Long): String = f"$h%016x"
}

/** Seeded `events`-shaped batches plus the generator's own running
  * totals, which every read of the table is checked against.
  */
final class EventBatches(seed: Long) {
  private val rng = new java.util.SplittableRandom(seed * 1000003L)
  private val types = Array("click", "error", "purchase", "signup", "view")
  private val t0Us = 1706745600000000L // 2024-02-01T00:00:00Z
  var rows, idSum, centsSum, userSum, bytes = 0L

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  def next(n: Int): java.util.List[Row] = {
    val out = new java.util.ArrayList[Row](n)
    var i = 0
    while (i < n) {
      val id = rows
      val us = t0Us + id * 25000L + rng.nextLong(25000L)
      val user = rng.nextLong(1500L)
      val tpe = types(rng.nextInt(types.length))
      val cents = rng.nextLong(50000L)
      val props = s"""{"k": ${rng.nextInt(100)}}"""
      val ts = new java.sql.Timestamp(us / 1000)
      ts.setNanos(((us % 1000000) * 1000).toInt)
      out.add(Row(id, ts, user, tpe, cents / 100.0, props))
      rows += 1; idSum += id; centsSum += cents; userSum += user
      bytes += 8 + 8 + 8 + tpe.length + 8 + props.length
      i += 1
    }
    out
  }
}

final class Session(a: Main.Args) {
  import Main._

  private val workload = a("workload")
  private val seed = a("seed").toLong
  private val cores = a("cores").toInt
  private val traceMode = a.get("trace", "0") == "1"
  private val data = a("data")
  private val work = Paths.get(a("work")).toAbsolutePath
  private val expected = loadExpected(Paths.get(a.get("expected", "expected.json")))

  private val t0 = System.nanoTime()
  val spark: SparkSession = buildSpark(cores, work, traceMode)
  private val startS = (System.nanoTime() - t0) / 1e9
  private val engine: Option[EngineTap] =
    if (traceMode) { val t = new EngineTap; spark.sparkContext.addSparkListener(t); Some(t) }
    else None

  private val jobs = ArrayBuffer.empty[JobRec]
  private val writes = ArrayBuffer.empty[(String, Double, Boolean, Boolean)]
  private val failures = ArrayBuffer.empty[String]
  // (index, traced, start, end) in epoch ms; warm-up passes have index <= 0
  private val passes = ArrayBuffer.empty[(Int, Boolean, Double, Double)]
  private var jobSeq = 0L

  // ---- ingest state ----
  private val tableRoot = work.resolve("ingest_table").toString
  private lazy val batches = new EventBatches(seed)
  private val batchRows = 5000
  // not a divisor of 2, so compactions fall in traced and untraced passes
  private val compactEvery = 3
  private var appends = 0

  private def check(key: String, got: (Long, Long)): Option[String] =
    expected.get(key) match {
      case None => Some(s"no expected result for $key")
      case Some(e) if e == got => None
      case Some((n, h)) =>
        Some(s"$key: got ${got._1} rows ${hex(got._2)}, want $n rows ${hex(h)}")
    }

  private def queryJob(module: String, name: String): QJob = {
    val q = Workloads.query(module, name)
    val key = s"$workload/$name"
    new QJob(module, name, () => q(spark, data),
      df => check(key, Checksum.materialize(df, key)))
  }

  /** Read the latest snapshot and compare with the generator totals. */
  private def readCheckJob(): QJob = new QJob("SnapshotTable", "snapshot_read",
    () => SnapshotTable.read(spark, tableRoot),
    df => {
      val r = df.agg(count(lit(1)), sum(col("event_id")),
        sum(round(col("value") * 100).cast("long")), sum(col("user_id")))
        .collect()(0)
      val got = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val want = (batches.rows, batches.idSum, batches.centsSum, batches.userSum)
      if (got == want) None else Some(s"snapshot totals $got, generator $want")
    })

  private def nextGroup(traced: Boolean): String = {
    jobSeq += 1
    (if (traced) Trace.TracedGroup else Trace.UntracedGroup) + jobSeq
  }

  private def runJob(j: QJob, traced: Boolean, parent: Long): JobRec = {
    val group = nextGroup(traced)
    val sc = spark.sparkContext
    sc.setJobGroup(group, s"${j.module}.${j.name}", interruptOnCancel = false)
    var (callS, actionS, ok) = (0.0, 0.0, false)
    try Trace.span(parent, "job", s"${j.module}.${j.name}", group) { jid =>
      val c0 = System.nanoTime()
      val res = try {
        val df = Trace.span(jid, "call", j.module, group)(_ => j.call())
        val c1 = System.nanoTime()
        callS = (c1 - c0) / 1e9
        val err = Trace.span(jid, "action", j.module, group)(_ => j.verify(df))
        actionS = (System.nanoTime() - c1) / 1e9
        err
      } catch {
        case NonFatal(e) =>
          val t = (System.nanoTime() - c0) / 1e9
          if (callS == 0.0) callS = t else actionS = t - callS
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      res.foreach(m => failures += s"${j.module}.${j.name}: $m")
      ok = res.isEmpty
    } finally sc.clearJobGroup()
    JobRec(j.module, j.name, callS, actionS, ok, traced)
  }

  private def timedWrite(kind: String, traced: Boolean, parent: Long)(w: => Unit): Unit = {
    val group = nextGroup(traced)
    val sc = spark.sparkContext
    sc.setJobGroup(group, s"SnapshotTable.$kind", interruptOnCancel = false)
    val t = System.nanoTime()
    val ok = try { Trace.span(parent, "write", "SnapshotTable", group)(_ => w); true }
    catch { case NonFatal(e) => failures += s"SnapshotTable.$kind: ${e.getMessage}"; false }
    finally sc.clearJobGroup()
    writes += ((kind, (System.nanoTime() - t) / 1e9, ok, traced))
  }

  /** One ingest round: append a batch, check the snapshot, compact every
    * `compactEvery` appends (and check again).
    */
  private def ingestRound(traced: Boolean, parent: Long): Seq[JobRec] = {
    val rows = batches.next(batchRows)
    val df = spark.createDataFrame(rows, batches.schema)
    timedWrite("append", traced, parent)(SnapshotTable.append(tableRoot, df))
    appends += 1
    val out = ArrayBuffer(runJob(readCheckJob(), traced, parent))
    if (appends % compactEvery == 0) {
      timedWrite("compact", traced, parent)(SnapshotTable.compact(spark, tableRoot, 2))
      out += runJob(readCheckJob(), traced, parent)
    }
    out.toSeq
  }

  private val mix: Seq[QJob] =
    Workloads.mixes.getOrElse(workload, sys.error(s"unknown workload $workload"))
      .map { case (m, q) => queryJob(m, q) }
  private val ingesting = Workloads.ingesting(workload)

  /** One pass: every job of the mix once, plus one ingest round, in a
    * seeded order.
    */
  private def pass(index: Int, traced: Boolean): Seq[JobRec] = {
    val rng = new scala.util.Random(seed * 7919L + index)
    val steps: Seq[Option[QJob]] =
      mix.map(Some(_)) ++ (if (ingesting) Seq(None) else Nil)
    Trace.enabled = traced
    val p0 = Trace.nowMs()
    val recs = Trace.span(0, "pass", s"pass $index") { pid =>
      rng.shuffle(steps).flatMap {
        case Some(j) => Seq(runJob(j, traced, pid))
        case None => ingestRound(traced, pid)
      }.map(_.copy(pass = index))
    }
    Trace.enabled = false
    passes += ((index, traced, p0, Trace.nowMs()))
    recs
  }

  def run(): Unit = {
    val budget = a("seconds").toDouble
    val minJobs = a.get("min-jobs", "0").toInt
    val cap = 90.0 // keeps a run on a slow box well inside 180 s
    // the JIT keeps speeding passes up for several passes after the
    // first; untimed passes take that trend out of the timed ones
    val warmupPasses = 3
    val w0 = System.nanoTime()
    val warm = (1 - warmupPasses to 0).flatMap(pass(_, traced = false))
    val warmupS = (System.nanoTime() - w0) / 1e9
    val warmAttempted = warm.size + writes.size
    val warmFailed = warm.count(!_.ok) + writes.count(!_._3)
    writes.clear()
    println("PERFBENCH READY")
    System.out.flush()

    val m0 = System.nanoTime()
    def elapsed = (System.nanoTime() - m0) / 1e9
    var i = 1
    // a traced run of an ingesting workload also waits for a traced
    // compaction, so every write kind has a traced sample
    def tracedCompactions = writes.count(w => w._1 == "compact" && w._4)
    def more = elapsed < budget || jobs.size < minJobs ||
      (traceMode && ingesting && tracedCompactions == 0)
    while (i == 1 || (more && elapsed < cap)) {
      // traced runs alternate traced and untraced passes, so the
      // tracing overhead is measured on the same jobs in one JVM
      jobs ++= pass(i, traced = traceMode && i % 2 == 1)
      i += 1
    }
    val timedS = elapsed
    val rss = peakRssMb()
    // Spark's ContextCleaner frees broadcast and shuffle blocks only
    // after a GC has collected their handles: take the least heap in use
    // over a few collections, so a pending clean-up is not counted
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    val retained = (1 to 4).map { _ =>
      System.gc(); Thread.sleep(250); heap.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    val spin = spinNsPerOp()
    writeOut(startS, warmupS, warmAttempted, warmFailed, timedS, rss, retained, spin)
    spark.stop()
  }

  private def dirBytes(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  private def writeOut(startS: Double, warmupS: Double, warmJobs: Int,
                       warmFailed: Int, timedS: Double, rss: Double,
                       retained: Double, spin: Double): Unit = {
    val b = Map.newBuilder[String, Any]
    b ++= Seq("start_s" -> startS, "warmup_s" -> warmupS,
      "warmup_jobs" -> warmJobs, "warmup_failed" -> warmFailed,
      "timed_s" -> timedS, "rss_mb" -> rss, "retained_heap_mb" -> retained,
      "spin_ns_per_op" -> spin, "cores" -> cores,
      "jobs" -> jobs.map(j => Seq(j.module, j.name, j.callS, j.actionS, j.ok, j.traced, j.pass)),
      "writes" -> writes.map { case (k, s, ok, tr) => Seq(k, s, ok, tr) },
      "passes" -> passes.map { case (i, tr, s, e) => Seq(i, tr, (e - s) / 1e3) },
      "failures" -> failures.take(50))
    if (ingesting) {
      val latest = SnapshotTable.latestVersion(tableRoot)
      b += "ingest" -> Map(
        "rows" -> batches.rows, "batch_rows" -> batchRows,
        "user_bytes" -> batches.bytes,
        "stored_bytes" -> dirBytes(tableRoot),
        "commits" -> latest.getOrElse(0L),
        "files_latest" -> latest.map(v => SnapshotTable.manifestFiles(tableRoot, v).size).getOrElse(0))
    }
    engine.foreach { e =>
      val tracedPasses = passes.filter(_._2).map(p => (p._3, p._4)).toSeq
      val inTraced = (ms: Double) => tracedPasses.exists { case (s, e) => s <= ms && ms <= e }
      b += "engine" -> e.tallies(inTraced)
      b += "stream" -> StreamTap.tallies(inTraced)
      b += "spans" -> (Trace.all ++ e.spans(inTraced) ++ StreamTap.spans(inTraced)).map(s =>
        Seq(s.id, s.parent, s.kind, s.name, s.start, s.end, s.group))
    }
    json.writeValue(Paths.get(a("out")).toFile, b.result())
  }

  /** Run every job of the mix `reps` times and write the observed
    * (rows, checksum) per job; reports jobs whose repetitions disagree.
    */
  def record(): Unit = {
    val reps = 2
    val out = Paths.get(a("out"))
    val dump = a.m.get("dump")
    val results = mix.map { j =>
      val key = s"$workload/${j.name}"
      val runs = (1 to reps).map { _ =>
        val t = System.nanoTime()
        val r = try Right(Checksum.materialize(j.call(), key))
        catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        (r, (System.nanoTime() - t) / 1e9)
      }
      val times = runs.map(r => f"${r._2}%.3f").mkString(" ")
      runs.head._1 match {
        case Left(err) => println(s"RECORD $key ERROR $err"); None
        case Right((n, h)) =>
          val stable = runs.forall(_._1 == Right((n, h)))
          println(s"RECORD $key rows=$n sum=${hex(h)} stable=$stable times=$times")
          dump.foreach(d => j.call().coalesce(1).write.mode("overwrite").parquet(s"$d/${j.name}"))
          if (stable) Some(key -> Seq(n, hex(h))) else None
      }
    }.flatten
    json.writeValue(out.toFile, results.toMap)
    dump.foreach { d =>
      val names = mix.map(_.name).toSet
      json.writeValue(Paths.get(d, "oracle_sql.json").toFile,
        graft.SparkEntry.oracleSqlFor(data).filter(kv => names(kv._1)))
    }
    spark.stop()
  }
}
