package graft

import graft.sources.SnapshotTable

/** Cross-PROCESS stress worker for the snapshot-commit protocol and
  * `TempDirs.durableOnce` (r11 verdict #4): `SnapshotStressSpec`'s 100
  * seeded rounds are single-JVM threads, but both mechanisms make
  * cross-JVM claims — the hard-link CAS serializes committers in
  * DIFFERENT processes, and durableOnce's marker protocol is exactly
  * the cross-process once. This main is one such process:
  * `SnapshotMultiJvmSpec` spawns several against one table root and
  * asserts the protocol invariants over the union of their work.
  *
  * args: <root> <seed> <nAppends> <artifactFingerprint>
  *
  * Each worker runs a MIXED role — two appender threads, a compactor
  * loop and a vacuum loop, plus one durableOnce artifact build/read —
  * so every pairwise interleaving (append/append, append/compact,
  * compact/vacuum, build/build) happens across process boundaries,
  * not just across threads. Protocol-level contention outcomes the
  * production deployment also tolerates (lost CAS slots, the
  * vacuum-retention read race) retry or report; anything else fails
  * the process, which the spec asserts on.
  *
  * stdout protocol (parsed by the spec):
  *   STRESS APPENDED <key>   — append() returned for this key
  *   STRESS COMPACTS <n>     — successful compact commits
  *   STRESS ARTSUM <sum>     — checksum of the durableOnce artifact
  *   STRESS OK               — clean shutdown
  */
object SnapshotStressWorker {
  def main(args: Array[String]): Unit = {
    val root = args(0)
    val seed = args(1).toLong
    val nAppends = args(2).toInt
    val artFp = args(3)
    val spark = Sessions.local(2)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val failures =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    try {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      val rng = new scala.util.Random(seed)
      val jitters = Array.fill(4)(rng.nextInt(40))
      val tasks = Seq(
        // two appender threads: every returned append must survive
        (0, () => (1 to nAppends).foreach { i =>
          val k = seed * 1000000L + i
          SnapshotTable.append(root, Seq((k, s"w$seed")).toDF("k", "s"))
          println(s"STRESS APPENDED $k")
        }),
        (1, () => (1 to nAppends).foreach { i =>
          val k = seed * 1000000L + 500000L + i
          SnapshotTable.append(root, Seq((k, s"x$seed")).toDF("k", "s"))
          println(s"STRESS APPENDED $k")
        }),
        // compactor: tolerate the vacuum-retention read race (a
        // just-retired parent version) by retrying — the same stance
        // as the single-JVM spec and every manifest format's docs
        (2, () => {
          var done = 0
          var attempts = 0
          while (done < 2 && attempts < 30) {
            try { SnapshotTable.compact(spark, root, 2); done += 1 }
            catch { case scala.util.control.NonFatal(_) => () }
            attempts += 1
            Thread.sleep(15)
          }
          println(s"STRESS COMPACTS $done")
        }),
        // vacuum: default 10-min orphan age means the orphan sweep
        // never touches this run's in-flight dirs; only manifest
        // retention contends here
        (3, () => (1 to 3).foreach { _ =>
          SnapshotTable.vacuum(root, 8)
          Thread.sleep(25)
        })
      ).map { case (i, body) =>
        pool.submit(new Runnable {
          def run(): Unit =
            try { Thread.sleep(jitters(i).toLong); body() }
            catch { case e: Throwable => failures.add(e); () }
        })
      }
      tasks.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      pool.shutdown()

      // cross-JVM durableOnce: all workers pass the SAME fingerprint,
      // so exactly one process builds and everyone must read identical
      // content. The build stamps its BUILDER'S identity (pid + nanos)
      // into a column folded into the checksum (r12 review): a purely
      // deterministic artifact would read identically even if every
      // JVM silently rebuilt it, making the exactly-once assertion
      // vacuous — the stamp makes a second build visibly diverge.
      val stamp = ProcessHandle.current().pid() * 1000000000L +
        (System.nanoTime() % 1000000000L)
      val artDir = TempDirs.durableOnce("stress_art",
        java.lang.Long.toHexString(
          scala.util.hashing.MurmurHash3.stringHash(root).toLong
            & 0xffffffffL), artFp) { d =>
        spark.range(1000).selectExpr("id", "id * 7 as v")
          .withColumn("b", org.apache.spark.sql.functions.lit(stamp))
          .coalesce(1).write.mode("overwrite").parquet(d)
      }
      val artSum = spark.read.parquet(artDir)
        .selectExpr("concat(sum(v), '_', min(b), '_', max(b))")
        .as[String].head()
      println(s"STRESS ARTSUM $artSum")

      if (!failures.isEmpty) {
        failures.forEach(e => e.printStackTrace())
        sys.exit(3)
      }
      println("STRESS OK")
    } finally spark.stop()
  }
}
