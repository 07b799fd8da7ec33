package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{CountMinAgg, DotProductExpr, HllRegistersAgg,
  MinHashSigExpr, MinHashSketchAgg, MisraGriesAgg, SimHashAgg,
  SortedIntersectCountExpr}

/** Session extension that registers the engine's custom codegen
  * expressions as SQL functions, so the SQL-text API (SURVEY.md §2.N)
  * reaches the same codegen'd kernels the DataFrame API uses:
  *
  *   spark.sql.extensions=graft.GraftExtensions   (or
  *   `SparkSession.builder.withExtensions(new GraftExtensions)`)
  *
  *   SELECT graft_dot(a.emb, b.emb)                -- fused dot product
  *   SELECT graft_sorted_intersect_count(ga, gb)   -- merge-walk |A∩B|
  *   SELECT graft_minhash_sig(shingle_hashes, 16)  -- k-perm signature
  *                                                 -- over array<long>
  *
  * The custom mergeable AGGREGATES register the same way (the
  * analyzer wraps a returned AggregateFunction into an
  * AggregateExpression, so GROUP BY / partial aggregation behave
  * exactly as the DataFrame spellings):
  *
  *   SELECT graft_minhash_sketch(term) ... GROUP BY doc   -- 64-min sketch
  *   SELECT graft_simhash_bands(tok_hash) ... GROUP BY doc -- 4x16-bit bands
  *   SELECT graft_misra_gries(term, 256)                  -- heavy-hitter
  *                                                        -- candidates
  *   SELECT graft_hll_registers(key) ... GROUP BY day     -- m=4096 HLL
  *                                                        -- registers
  *   SELECT graft_cms(key) ... GROUP BY day               -- 4x1024
  *                                                        -- Count-Min
  *
  * Function registration is additive metadata: the expressions take
  * part in whole-stage codegen exactly as their DataFrame spellings do.
  * The extension also injects the as-of join strategy. The
  * `SmallFinalSort` optimizer rule reaches every session, with or
  * without the extension, through `GraftExtensions.install`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, name)

  private def requireArity(name: String, n: Int,
                           children: Seq[Expression]): Unit =
    if (children.length != n)
      throw new IllegalArgumentException(
        s"$name expects $n arguments, got ${children.length}")

  private def intLiteral(name: String, e: Expression): Int = e match {
    case Literal(k: Int, _) => k
    // isValidInt: a bare toInt would silently WRAP an out-of-range
    // long (5000000000 -> 705032704) into a garbage-but-positive
    // parameter no downstream k-guard can catch (r7 review)
    case Literal(k: Long, _) if k.isValidInt => k.toInt
    case Literal(k: Short, _) => k.toInt
    case Literal(k: Byte, _) => k.toInt
    case other => throw new IllegalArgumentException(
      s"$name: expected an int-range integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      info("graft_dot"),
      (children: Seq[Expression]) => {
        requireArity("graft_dot", 2, children)
        DotProductExpr(children(0), children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_sorted_intersect_count"),
      info("graft_sorted_intersect_count"),
      (children: Seq[Expression]) => {
        requireArity("graft_sorted_intersect_count", 2, children)
        SortedIntersectCountExpr(children(0), children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash_sig"),
      info("graft_minhash_sig"),
      (children: Seq[Expression]) => {
        requireArity("graft_minhash_sig", 2, children)
        // accept any integral literal width (16, 16L, SMALLINT...)
        MinHashSigExpr(children(0),
          intLiteral("graft_minhash_sig", children(1)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash_sketch"),
      info("graft_minhash_sketch"),
      (children: Seq[Expression]) => {
        requireArity("graft_minhash_sketch", 1, children)
        MinHashSketchAgg(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_simhash_bands"),
      info("graft_simhash_bands"),
      (children: Seq[Expression]) => {
        requireArity("graft_simhash_bands", 1, children)
        SimHashAgg(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_hll_registers"),
      info("graft_hll_registers"),
      (children: Seq[Expression]) => {
        requireArity("graft_hll_registers", 1, children)
        HllRegistersAgg(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_cms"),
      info("graft_cms"),
      (children: Seq[Expression]) => {
        requireArity("graft_cms", 1, children)
        CountMinAgg(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_misra_gries"),
      info("graft_misra_gries"),
      (children: Seq[Expression]) => {
        requireArity("graft_misra_gries", 2, children)
        MisraGriesAgg(children(0),
          intLiteral("graft_misra_gries", children(1)))
      }))
  }
}

object GraftExtensions {

  /** Puts the engine's planner additions on `s`, once per session: the
    * `SmallFinalSort` rule, and the as-of join strategy unless the
    * session's planner already has it from the extension. The engine's
    * read path (`Tables.parquet`) and the as-of join's child session
    * call it, so every plan over engine inputs gets them. The additions
    * stay on the caller's session (README, Library API). Runs inside
    * one `SessionMemo` init, so concurrent callers never race the
    * read-modify-write of the experimental lists.
    */
  private[graft] def install(s: SparkSession): Unit =
    SessionMemo(s, "planner_additions") {
      val e = s.experimental
      val planner = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.planner
      if (!planner.strategies.contains(graft.plans.AsofJoinStrategy))
        e.extraStrategies = e.extraStrategies :+ graft.plans.AsofJoinStrategy
      if (!e.extraOptimizations.contains(graft.plans.SmallFinalSort))
        e.extraOptimizations = e.extraOptimizations :+ graft.plans.SmallFinalSort
      java.lang.Boolean.TRUE
    }
}
