package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The benchmark's JVM-side checks: the result checksum, and the shape
  * of the plans the timed action executes.
  */
object SelfTest {
  private var failed = 0

  private def expect(ok: Boolean, what: String): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failed += 1
  }

  private val schema = StructType(Seq(StructField("k", LongType),
    StructField("s", StringType), StructField("x", DoubleType),
    StructField("a", ArrayType(IntegerType))))

  private def row(k: Long, s: String, x: Double, a: Seq[Int]): InternalRow =
    InternalRow(k, UTF8String.fromString(s), x,
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(a.toArray))

  private def sum(rows: Seq[InternalRow]): (Long, Long) =
    Checksum.ofRows(rows.iterator, schema)

  def checksumTests(): Unit = {
    val base = Seq(row(1, "a", 0.5, Seq(1, 2)), row(2, "b", 1.25, Seq(3)),
      row(3, "c", -2.0, Seq()))
    val ref = sum(base)
    expect(sum(base) == ref, "checksum is deterministic")
    expect(sum(base.updated(1, row(2, "B", 1.25, Seq(3)))) != ref,
      "checksum catches a changed string")
    expect(sum(base.updated(2, row(3, "c", -2.0, Seq(0)))) != ref,
      "checksum catches a changed array element")
    expect(sum(base.updated(0, row(1, "a", 0.5000001, Seq(1, 2)))) != ref,
      "checksum catches a changed double")
    expect(sum(Seq(base(1), base(0), base(2))) != ref,
      "checksum catches a changed row order")
    expect(sum(base.take(2))._1 == 2 && sum(base.take(2)) != ref,
      "checksum catches a dropped row")
    expect(sum(base.updated(0, row(1, "a", 0.5 + 1e-15, Seq(1, 2)))) == ref,
      "checksum ignores last-bit float noise")
    val parts = Seq(sum(base.take(1)), sum(base.slice(1, 3)))
    expect(Checksum.combine(parts) == ref,
      "per-partition sums combine to the whole-result sum")
    expect(Checksum.combine(parts.reverse) != ref,
      "partition order matters")
  }

  /** The timed action must execute the operators each query exists to
    * exercise; a `count()` lets the optimizer drop them.
    */
  def planTests(a: Main.Args): Unit = {
    val work = Paths.get(a("work")).toAbsolutePath
    val spark = Main.buildSpark(a("cores").toInt, work, trace = false)
    val data = a("data")
    val cases = Seq(
      ("FilterQueries", "project_cast", Seq("Sort [", "cast(")),
      ("ScalarQueries", "fn_string_regex", Seq("Sort [", "regexp_extract(", "cast(")),
      ("WindowQueries", "win_row_number", Seq("Sort [", "Window [", "row_number()")))
    for ((module, name, parts) <- cases) {
      val df = Workloads.query(module, name)(spark, data)
      val (n, _) = Checksum.materialize(df, name)
      val plan = df.queryExecution.executedPlan.toString
      for (p <- parts)
        expect(plan.contains(p), s"$name: timed plan contains '$p'")
      expect(n > 0, s"$name: timed action returns rows")
      val counted = df.groupBy().count().queryExecution.optimizedPlan.toString
      expect(!parts.filterNot(_ == "cast(").forall(counted.contains),
        s"$name: count() plan drops what the timed action keeps")
    }
    spark.stop()
  }

  def main(a: Main.Args): Unit = {
    checksumTests()
    planTests(a)
    println(if (failed == 0) "selftest passed" else s"selftest: $failed failed")
    if (failed != 0) sys.exit(1)
  }
}
