package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dev/audit main: dump `explain("formatted")` for the SparkEntry
  * queries — the physical-plan evidence that pushdown, pruning,
  * broadcast, partial aggregation, and codegen engage as designed.
  *
  *   runMain graft.Plans                          every query → PLANS.md
  *   runMain graft.Plans <outDir> <tag> <query...>  <outDir>/<query>_<tag>.txt
  *
  * A query whose plan dump itself fails is recorded as `PLANFAIL: ...`
  * rather than aborting the run. A name that is not a query is a usage
  * error: it fails before the session is built and writes no file.
  *
  * The committed PLANS.md is in normalized form, so its diff shows plan
  * changes, not expression-id churn. Refresh it in two steps:
  *
  *   runMain graft.Plans
  *   python3 tools/plan_norm.py PLANS.md > PLANS.norm && mv PLANS.norm PLANS.md
  */
object Plans {
  private def explain(spark: SparkSession, sfDir: String, name: String): String = {
    val q = SparkEntry.queries(name)
    try q(spark, sfDir).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    catch {
      case scala.util.control.NonFatal(e) =>
        s"PLANFAIL: ${e.getClass.getName}: ${e.getMessage}\n"
    }
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: Plans [outDir tag query...]"
    require(args.isEmpty || args.length >= 3, usage)
    val unknown = args.drop(2).filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"$usage; unknown queries: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Sessions.local(4)
    if (args.isEmpty) {
      val names = SparkEntry.queries.keys.toSeq.sorted
      val sb = new StringBuilder
      sb ++= "# PLANS — formatted physical plans of every query\n\n"
      sb ++= s"Auto-generated by `graft.Plans` at $sfDir. Things to check\n"
      sb ++= "per plan: `PushedFilters`/`ReadSchema` on scans (pushdown +\n"
      sb ++= "pruning), `BroadcastHashJoin` on dim joins, partial+final\n"
      sb ++= "`HashAggregate`, `TakeOrderedAndProject` for top-k, no\n"
      sb ++= "`CartesianProduct` in the LSH bucket joins, no `Exchange`\n"
      sb ++= "under the bucketed join. Build-step queries (cc labels, gram\n"
      sb ++= "tables, IVF centroids, layout rewrites) show their READ-side\n"
      sb ++= "plan — the once-per-JVM artifact build runs before the dump\n"
      sb ++= "(its shape is documented in the operator scaladocs).\n"
      names.foreach { name =>
        sb ++= s"\n## $name\n\n```\n${explain(spark, sfDir, name)}```\n"
      }
      Files.writeString(Paths.get("PLANS.md"), sb.toString)
      println(s"wrote PLANS.md (${names.size} plans)")
    } else {
      val outDir = Paths.get(args(0))
      val tag = args(1)
      Files.createDirectories(outDir)
      args.drop(2).foreach { name =>
        val out = outDir.resolve(s"${name}_$tag.txt")
        Files.writeString(out, explain(spark, sfDir, name))
        println(s"wrote $out")
      }
    }
    spark.stop()
  }
}
