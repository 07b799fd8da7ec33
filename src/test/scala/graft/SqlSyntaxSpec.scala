package graft

/** The two Spark 4 SQL-surface forms must be pure syntax layers:
  * the SQL UDF inlines into codegen'd decimal arithmetic (no opaque
  * UDF node), and the pipe chain desugars to the identical logical
  * plan as the classic spelling.
  */
class SqlSyntaxSpec extends SparkSpecBase {

  test("sql_udf_create inlines the SQL function (no opaque UDF node)") {
    val plan = SparkEntry.queries("sql_udf_create")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), s"SQL UDF planned as a black box:\n$plan")
    // the inlined body's decimal multiply must be visible to codegen
    assert(plan.contains("HashAggregate"), plan)
  }

  test("sql_join_hint's BROADCAST hint reaches the physical plan") {
    val plan = SparkEntry.queries("sql_join_hint")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"hinted dim join did not broadcast:\n$plan")
  }

  test("sql_pipe_syntax optimizes to the classic spelling's plan") {
    val pipe = SparkEntry.queries("sql_pipe_syntax")(spark, sfDir)
    // sql_pipe_syntax registers lineitem_v_<dir> through Tables.view,
    // which scopes view names by input dir
    val v = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val classic = spark.sql(s"""
      SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        CAST(sum(CAST(l_quantity AS DECIMAL(18, 2))) AS DOUBLE) AS sum_qty
      FROM lineitem_v_$v
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")
    def shape(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.optimizedPlan.canonicalized.toString
    // pipe AGGREGATE may order key/agg output columns differently from
    // the classic SELECT list; compare the result sets exactly instead
    // of raw column order, plus the canonical plan shapes' node kinds
    val a = pipe.collect().map(r =>
      (r.getAs[String]("l_returnflag"), r.getAs[String]("l_linestatus"),
        r.getAs[Long]("n_rows"), r.getAs[Double]("sum_qty"))).toSeq
    val b = classic.collect().map(r =>
      (r.getAs[String]("l_returnflag"), r.getAs[String]("l_linestatus"),
        r.getAs[Long]("n_rows"), r.getAs[Double]("sum_qty"))).toSeq
    assert(a == b)
    val kinds = (df: org.apache.spark.sql.DataFrame) =>
      shape(df).linesIterator.map(_.trim.takeWhile(_ != ' ')).toSeq
    assert(kinds(pipe).sorted == kinds(classic).sorted,
      s"pipe plan:\n${shape(pipe)}\nclassic plan:\n${shape(classic)}")
  }
}
