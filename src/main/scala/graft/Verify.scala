package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * verify_failures.json (name → message of every query that threw). */
object Verify {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def writeJson(path: String, m: Map[String, String]): Unit =
    Files.writeString(Paths.get(path),
      m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))

  /** Dumps every query (or only the named ones) under `outDir`: one
    * parquet directory per query that ran, `oracle_sql.json`, and
    * `verify_failures.json`. A query that throws is reported on stderr
    * and in the failures file, and the dump goes on. Returns the
    * failures. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]]): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val failures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name -> e.toString)
        }
      }.toMap
    // under the local-iteration filter, dump only the matching oracle
    // entries too — otherwise oracle_check compares every skipped
    // query against stale or missing parquet; the driver sets no
    // filter, so its runs always get the full map.
    // artifact-reading oracle SQL must point at THIS run's fixtures
    writeJson(s"$outDir/oracle_sql.json", SparkEntry.oracleSqlFor(sfDir)
      .filter { case (k, _) => only.forall(_.contains(k)) })
    writeJson(s"$outDir/verify_failures.json", failures)
    failures
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // local-iteration filter (comma-separated names); the driver sets
    // no env, so its runs always dump the full query set
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    dump(spark, sfDir, outDir, only)
    spark.stop()
  }
}
