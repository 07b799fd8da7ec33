package graft

import org.apache.spark.sql.SparkSessionExtensions
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
  * `SmallPlanOnePartition` optimizer rule reaches every session, with
  * or without the extension, through `Sessions.install`.
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
    // parameter no downstream k-guard can catch
    case Literal(k: Long, _) if k.isValidInt => k.toInt
    case Literal(k: Short, _) => k.toInt
    case Literal(k: Byte, _) => k.toInt
    case other => throw new IllegalArgumentException(
      s"$name: expected an int-range integer literal, got $other")
  }

  /** (name, arity, constructor over the arity-checked arguments) of
    * every SQL function the extension registers.
    */
  private val functions: Seq[(String, Int, Seq[Expression] => Expression)] = Seq(
    ("graft_dot", 2, c => DotProductExpr(c(0), c(1))),
    ("graft_sorted_intersect_count", 2, c => SortedIntersectCountExpr(c(0), c(1))),
    // accept any integral literal width (16, 16L, SMALLINT...)
    ("graft_minhash_sig", 2, c => MinHashSigExpr(c(0), intLiteral("graft_minhash_sig", c(1)))),
    ("graft_minhash_sketch", 1, c => MinHashSketchAgg(c.head)),
    ("graft_simhash_bands", 1, c => SimHashAgg(c.head)),
    ("graft_hll_registers", 1, c => HllRegistersAgg(c.head)),
    ("graft_cms", 1, c => CountMinAgg(c.head)),
    ("graft_misra_gries", 2, c => MisraGriesAgg(c(0), intLiteral("graft_misra_gries", c(1)))))

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    functions.foreach { case (name, arity, make) =>
      ext.injectFunction((new FunctionIdentifier(name), info(name),
        (children: Seq[Expression]) => {
          requireArity(name, arity, children)
          make(children)
        }))
    }
  }
}
