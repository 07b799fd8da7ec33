package graft

import org.apache.spark.sql.{AnalysisException, SparkSession}

/** The one place that makes or changes a session: the mains' local
  * session, the modules' fixed-conf child sessions, and the engine's
  * planner additions.
  */
object Sessions {

  /** The session a main runs on: `local[cpus]` with `cpus` shuffle
    * partitions, no UI, log level WARN.
    */
  def local(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // UTC like every spec: the NTZ timestamp reads and string->timestamp
      // cutoff literals are session-TZ-dependent, and an unpinned zone
      // would make one main see different rows than another
      .config("spark.sql.session.timeZone", "UTC")
      // a loaded box can stall a broadcast-side job past the 5-min
      // default and fail the query outright; measure slow, not die
      .config("spark.sql.broadcastTimeout", "1800")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One child of `s` per (`s`, `name`, `overrides`), memoized in
    * `SessionMemo`: rebuilding a SessionState per call is pure fixed
    * cost, and the key is the overrides themselves, so it cannot drift
    * from the confs it stands for. The child shares `s`'s context and
    * catalog and gets its own conf: `s`'s runtime confs as they are when
    * the child is made (`newSession()` alone keeps only builder-time
    * conf, so a caller's shuffle partitions or ANSI toggle would be
    * dropped), static confs skipped, then `overrides`. Conf changes `s`
    * makes later do not reach the child, and the child's never reach
    * `s`. Nothing may register views or UDFs on a child: every caller
    * of one key shares it.
    */
  def child(s: SparkSession, name: String)(overrides: (String, String)*): SparkSession =
    SessionMemo(s, ("child", name, overrides.toList)) {
      val c = s.newSession()
      s.conf.getAll.foreach { case (k, v) =>
        try c.conf.set(k, v) catch { case _: AnalysisException => () }
      }
      overrides.foreach { case (k, v) => c.conf.set(k, v) }
      c
    }

  /** Puts the engine's planner additions on `s`, once per session: the
    * `SmallPlanOnePartition` rule, and the as-of join strategy unless the
    * session's planner already has it from `GraftExtensions`. The
    * engine's read path (`Tables.parquet`) and the as-of join's child
    * session call it, so every plan over engine inputs gets them. The
    * additions stay on the caller's session (README, Library API). Runs
    * inside one `SessionMemo` init, so concurrent callers never race the
    * read-modify-write of the experimental lists.
    */
  private[graft] def install(s: SparkSession): Unit =
    SessionMemo(s, "planner_additions") {
      val e = s.experimental
      val planner = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.planner
      if (!planner.strategies.contains(graft.plans.AsofJoinStrategy))
        e.extraStrategies = e.extraStrategies :+ graft.plans.AsofJoinStrategy
      if (!e.extraOptimizations.contains(graft.plans.SmallPlanOnePartition))
        e.extraOptimizations = e.extraOptimizations :+ graft.plans.SmallPlanOnePartition
      java.lang.Boolean.TRUE
    }
}
