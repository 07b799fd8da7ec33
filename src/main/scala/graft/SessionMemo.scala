package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** The engine's one per-session cache: a weakly-keyed map from a
  * `SparkSession` to a concurrent key → value map. It holds the parquet
  * schemas `Tables.parquet` resolves, the SQL views `Tables.view`
  * registers, and, through `Sessions`, the once-per-session planner
  * install and every child session (`Sessions.child`: the as-of
  * facade, the streaming replays, `join_skew_aqe`, `join_runtime_bloom`
  * and the graph build loops).
  *
  * Invariants:
  *  - A value never references the session it is keyed on, so a session
  *    nobody else holds is collected together with its entries. Schemas
  *    qualify, and so do child sessions: a child keeps the shared state,
  *    not the parent.
  *  - An `init` that throws stores nothing, so the next call retries.
  *  - No Spark job runs while the map-wide lock is held: that lock only
  *    fetches the session's map. `init` runs inside the per-key
  *    `computeIfAbsent`, so concurrent callers of one key wait for a
  *    single `init`, and callers of other keys do not queue behind the
  *    map-wide lock.
  *  - `init` must not call `apply` for the same session: a
  *    `ConcurrentHashMap` may not be updated from inside its own
  *    `computeIfAbsent`.
  *  - Every key carries its caller's name, so callers never share an
  *    entry by accident.
  */
private[graft] object SessionMemo {

  private val bySession =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[Any, AnyRef]]

  def apply[V <: AnyRef](s: SparkSession, key: Any)(init: => V): V = {
    val m = bySession.synchronized {
      bySession.computeIfAbsent(s, _ => new ConcurrentHashMap[Any, AnyRef])
    }
    m.computeIfAbsent(key, _ => init).asInstanceOf[V]
  }

  /** The value stored for `key`, without computing one. */
  def get[V <: AnyRef](s: SparkSession, key: Any): Option[V] =
    bySession.synchronized(Option(bySession.get(s)))
      .flatMap(m => Option(m.get(key))).map(_.asInstanceOf[V])
}
