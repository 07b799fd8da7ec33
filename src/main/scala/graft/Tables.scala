package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared table readers and determinism helpers for every query in the
  * engine.
  *
  * The reference (`/root/reference/README.md:2`) declares only the intent
  * of a football-analytics batch pipeline; schemas come from the driver
  * fixtures (FIXTURES.md). Determinism rules implemented here are
  * SURVEY.md §5.3: exact DECIMAL money arithmetic (both Spark and the
  * DuckDB oracle round half-away-from-zero when casting the fixture's
  * 2-dp doubles), microsecond-or-coarser event times, and explicit
  * ORDER BY in every oracle-checked output.
  */
object Tables {

  /** Signature of every `SparkEntry.queries` entry. */
  type Q = (SparkSession, String) => DataFrame

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** `s.read.parquet(path)` with the inferred schema memoized per
    * (session, path, file set): inference starts a Spark job on every
    * plain read, a given schema starts none. Only the schema is cached,
    * never a DataFrame, so every call still lists the files, every
    * action scans their bytes, and each call gets fresh attribute ids.
    * The key carries `TempDirs.fingerprintOf(path)`, so a path
    * rewritten with a different file set is resolved again. Every read
    * of an engine input passes here, so this is where a session gets
    * the engine's planner additions (`Sessions.install`), which
    * then stay on it.
    */
  private[graft] def parquet(s: SparkSession, path: String): DataFrame = {
    Sessions.install(s)
    val schema = SessionMemo(s, ("parquet", path, TempDirs.fingerprintOf(path))) {
      s.read.parquet(path).schema
    }
    s.read.schema(schema).parquet(path)
  }

  /** `df` written once per JVM as overwrite-parquet into
    * `TempDirs.once(kind, d)`, read back through `parquet`. `df` is
    * built only when the artifact is.
    */
  private[graft] def artifact(s: SparkSession, kind: String, d: String)(
      df: => DataFrame): DataFrame =
    parquet(s, TempDirs.once(kind, d)(df.write.mode("overwrite").parquet(_)))

  /** Registers `name` at `d` as the session temp view `<name>_v_<d>` and
    * returns the view name, for operators written as SQL text. The name
    * is scoped by input dir, so calls on different dirs never replace
    * each other's view. A view is registered once per (session, dir,
    * name, `TempDirs.fingerprintOf`): a later call on an unchanged input
    * builds no relation and keeps the view, and a rewritten input is
    * registered again. The frame is built outside the memo's init, which
    * must not call `SessionMemo` itself. `events` goes through its
    * timestamp-deriving reader.
    */
  private[graft] def view(s: SparkSession, d: String, name: String): String = {
    val v = s"${name}_v_${d.replaceAll("[^A-Za-z0-9]", "_")}"
    val key = ("view", v, TempDirs.fingerprintOf(s"$d/$name.parquet"))
    SessionMemo.get[String](s, key).getOrElse {
      val df = if (name == "events") events(s, d) else table(s, d, name)
      SessionMemo(s, key) { df.createOrReplaceTempView(v); v }
    }
  }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Single chokepoint for `events` (SURVEY.md §7.4 risk 1).
    *
    * The fixture's physical timestamp encoding is not stable across
    * fixture regenerations — it has shipped as both parquet
    * TIMESTAMP(NANOS) and TIMESTAMP(MICROS, NTZ) — so this reader
    * adapts to whatever `ts` loads as and never assumes one unit.
    * Either way the derived columns are identical: `ts_us` BIGINT
    * epoch-micros and `ts_ts` TIMESTAMP.
    *
    * The DuckDB oracle side needs no branch: `epoch_us(ts)` is
    * unit-correct for both parquet encodings.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // Legacy flag: lets TIMESTAMP(NANOS) fixtures load (as LongType
    // nanos-since-epoch) instead of failing the read outright. Harmless
    // for micros fixtures, which ignore it. Set before `table` resolves,
    // so the memoized schema is the one this flag makes Spark infer.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, sfDir, "events")
    raw
      .withColumn("ts_us", eventsTsUs(raw.schema))
      .withColumn("ts_ts", timestamp_micros(col("ts_us")))
  }

  /** Epoch-microseconds expression for a raw `events` frame, branched on
    * the loaded dtype of `ts`:
    *
    *  - `LongType`: nanos-since-epoch (TIMESTAMP(NANOS) fixture read
    *    under `nanosAsLong`). MUST use integer division (`div`):
    *    epoch-nanos for 2024 are ~1.7e18, beyond double's 53-bit
    *    mantissa, so `col("ts") / 1000` (double division) would corrupt
    *    microseconds.
    *  - `TimestampType`/`TimestampNTZType`: TIMESTAMP(MICROS) fixture.
    *    `unix_micros` needs TIMESTAMP, and the NTZ→TIMESTAMP cast is
    *    exact because every session in this repo pins
    *    `spark.sql.session.timeZone=UTC`.
    *
    * Takes the schema (not the frame) so streaming readers can reuse it.
    */
  def eventsTsUs(schema: StructType): Column = schema("ts").dataType match {
    case LongType         => expr("ts div 1000")
    case TimestampType    => unix_micros(col("ts"))
    case TimestampNTZType => unix_micros(col("ts").cast(TimestampType))
    case other => throw new IllegalStateException(
      s"events.ts loaded as unsupported type $other; expected LongType " +
        "(nanos fixture), TimestampType, or TimestampNTZType (micros fixture)")
  }

  /** Money cast for aggregation inputs (SURVEY.md §5.3.2). All fixture
    * money doubles are exact 2-dp values (verified), so this cast is
    * bit-identical in Spark and DuckDB.
    */
  def money(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Narrow money cast used as a multiplication operand so chained
    * decimal products keep precision <= 38 without Spark's
    * precision-loss scale truncation kicking in.
    */
  def money12(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Rate-like columns (discount, tax): small 2-dp values. */
  def rate(c: Column): Column = c.cast(DecimalType(4, 2))

  /** Exact decimal literal 1.00 for `1 - discount` style expressions. */
  val oneDec: Column = lit(1).cast(DecimalType(3, 2))

  /** `l_extendedprice * (1 - l_discount)` as exact decimal, scale 4.
    * Mirrors the oracle's
    * `CAST(ep AS DECIMAL(12,2)) * (CAST(1.00 AS DECIMAL(3,2)) - CAST(d AS DECIMAL(4,2)))`.
    */
  def revenue(ep: Column, disc: Column): Column =
    money12(ep) * (oneDec - rate(disc))

  /** Final-output form of an exact decimal money sum.
    *
    * The driver's oracle compare stringifies pandas cells: a Spark
    * decimal output arrives as `Decimal("253942.00")` (scale preserved)
    * while DuckDB decimals become float64 rendering `"253942.0"` — so a
    * decimal-typed OUTPUT column can never hash-match, regardless of
    * precision (empirically reproduced in tools/hash_forensics.py; this
    * caused all 23 r2 hash failures). The sum itself stays exact
    * decimal; only the final representation is double, which is itself
    * exact while the cent-count fits in 2^53 (~9e13 dollars — far above
    * any fixture sf). SQL mirror:
    * `CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE)`.
    */
  def moneySumD(c: Column): Column = sum(money(c)).cast(DoubleType)

  /** Deterministic cross-engine average: exact decimal sum cast to
    * double, divided by the count (IEEE division is identical in both
    * engines). Avoids DuckDB's `avg(DECIMAL) -> DOUBLE` accumulation
    * differences. SQL mirror: `CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) / count(*)`.
    */
  def avgOfMoney(c: Column): Column =
    sum(money(c)).cast(DoubleType) / count(lit(1))

  /** The flagship aggregation (TPC-H Q1 shape, SURVEY.md §7.1):
    * league-standings-style grouped rollup over `lineitem`.
    */
  def flagship(spark: SparkSession, sfDir: String): DataFrame = {
    val l = lineitem(spark, sfDir)
    l.filter(col("l_shipdate") <= lit("1998-09-02").cast(TimestampType))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        moneySumD(col("l_quantity")).as("sum_qty"),
        moneySumD(col("l_extendedprice")).as("sum_base_price"),
        sum(revenue(col("l_extendedprice"), col("l_discount")))
          .cast(DoubleType).as("sum_disc_price"),
        sum(revenue(col("l_extendedprice"), col("l_discount")) *
          (oneDec + rate(col("l_tax")))).cast(DoubleType).as("sum_charge"),
        avgOfMoney(col("l_quantity")).as("avg_qty"),
        avgOfMoney(col("l_extendedprice")).as("avg_price"),
        avgOfMoney(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order")
      )
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** DuckDB decimal→double must round-trip through VARCHAR: DuckDB's
    * direct `CAST(DECIMAL AS DOUBLE)` converts the int128 unscaled
    * value to double FIRST and divides by 10^scale SECOND — two
    * roundings, observably off correct-nearest once the unscaled value
    * exceeds 2^53 (sf1 sum_charge: 27864155010.941590 → ...941593).
    * Spark's Decimal.toDouble is always correctly rounded (exact
    * long-path division or parseDouble fallback), and so is DuckDB's
    * string→double parse — hence the VARCHAR hop on every decimal sum.
    */
  private def decSumD(inner: String): String =
    s"CAST(CAST(sum($inner) AS VARCHAR) AS DOUBLE)"

  val flagshipSql: String =
    s"""SELECT l_returnflag, l_linestatus,
      |  ${decSumD("CAST(l_quantity AS DECIMAL(18,2))")} AS sum_qty,
      |  ${decSumD("CAST(l_extendedprice AS DECIMAL(18,2))")} AS sum_base_price,
      |  ${decSumD("CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))")} AS sum_disc_price,
      |  ${decSumD("CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1.00 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))")} AS sum_charge,
      |  ${decSumD("CAST(l_quantity AS DECIMAL(18,2))")} / count(*) AS avg_qty,
      |  ${decSumD("CAST(l_extendedprice AS DECIMAL(18,2))")} / count(*) AS avg_price,
      |  ${decSumD("CAST(l_discount AS DECIMAL(18,2))")} / count(*) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin
}
