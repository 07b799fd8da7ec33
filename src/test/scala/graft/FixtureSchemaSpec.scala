package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fixture-encoding canary (r6 VERDICT item 2).
  *
  * Round 6 went RED because the driver silently regenerated
  * `events.parquet` with `ts` as TIMESTAMP(MICROS) where every prior
  * round shipped TIMESTAMP(NANOS), and `Tables.events` had baked the
  * nanos layout in — 34 queries and 83 tests then failed with the same
  * opaque analysis error. This spec makes the next such change fail
  * LOUDLY and LOCALLY:
  *
  *  1. every shipped fixture dir must load through `Tables.events` with
  *     `ts_us` as BIGINT (one clear failure naming the dir, not a
  *     cascade);
  *  2. both supported physical encodings — int64 nanos and
  *     TIMESTAMP(MICROS) — must decode to the SAME `ts_us` values
  *     (pinned against hand-computed micros);
  *  3. an encoding outside the supported set must raise the
  *     IllegalStateException that names the offending type, not a
  *     downstream DATATYPE_MISMATCH.
  */
class FixtureSchemaSpec extends SparkSpecBase {

  private val fixtureDirs = Seq(
    "/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    .filter(d => new java.io.File(s"$d/events.parquet").exists())

  test("every shipped fixture's events table loads with BIGINT ts_us") {
    assert(fixtureDirs.nonEmpty, "no fixture dirs found — TESTDATA moved?")
    fixtureDirs.foreach { d =>
      val ev = Tables.events(spark, d)
      val raw = Tables.table(spark, d, "events").schema("ts").dataType
      assert(ev.schema("ts_us").dataType == LongType,
        s"$d: events.ts loaded as $raw but ts_us is " +
          s"${ev.schema("ts_us").dataType}, expected BIGINT")
      assert(ev.schema("ts_ts").dataType == TimestampType, s"$d: ts_ts type")
      // analysis alone is the canary; one row proves the read executes
      assert(ev.select("ts_us").limit(1).count() == 1L, s"$d: events empty")
    }
  }

  // mm_jpeg_meta synthesizes a w x ceil(len/w) JPEG per document; the
  // T.81 SOF height field is 16-bit, so a document longer than
  // 65535 * 16 bytes (the minimum width is 16) would silently diverge
  // from the oracle's unbounded (n + w - 1) // w arithmetic. Pin the
  // fixture bound so a regenerated corpus that crosses it fails HERE
  // by name instead of as an opaque hash mismatch (ADVICE r9).
  test("document payloads stay inside the JPEG 16-bit SOF height bound") {
    fixtureDirs.foreach { d =>
      val maxLen = Tables.documents(spark, d)
        .select(org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.octet_length(
            org.apache.spark.sql.functions.col("text"))))
        .head().getInt(0)
      assert(maxLen <= 65535 * 16,
        s"$d: max document byte length $maxLen exceeds the JPEG SOF " +
          "height ceiling for the narrowest synthesized frame (w=16)")
    }
  }

  test("nanos-int64 and micros-timestamp encodings decode identically") {
    import spark.implicits._
    // 2024-03-01T00:00:00Z = 1709251200 s; plus 1.5 ms to exercise the
    // sub-millisecond tail that double division would corrupt
    val micros = Seq(1709251200000000L, 1709251200001500L, 1709337600999999L)
    val dir = TempDirs.once("fixture_canary", "unitflip") { dir =>
      // The nanos leg must be BYTE-FAITHFUL to the nanos fixtures:
      // physical `int64 ts (TIMESTAMP(NANOS, isAdjustedToUTC=false))`,
      // which Spark can only load under nanosAsLong. A plain BIGINT
      // column loads as LongType with or without the flag, so it
      // could never catch the flag being dropped or a Spark upgrade
      // changing TIMESTAMP(NANOS) handling — parquet-mr writes the
      // real thing.
      writeNanosParquet(s"$dir/nanos/events.parquet", micros.map(_ * 1000L))
      // NTZ cast writes parquet TIMESTAMP(MICROS, isAdjustedToUTC=false)
      // — byte-for-byte the micros fixture encoding
      micros.toDF("us")
        .select(lit(1L).as("event_id"),
          timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
        .write.mode("overwrite").parquet(s"$dir/micros/events.parquet")
    }
    def tsUs(sub: String): Seq[Long] =
      Tables.events(spark, s"$dir/$sub").select("ts_us")
        .collect().map(_.getLong(0)).sorted.toSeq
    assert(tsUs("nanos") == micros, "int64-nanos fixture decoded wrong")
    assert(tsUs("micros") == micros, "timestamp-micros fixture decoded wrong")
  }

  /** Write `(event_id BIGINT, ts TIMESTAMP(NANOS, NTZ))` parquet via
    * parquet-mr — the physical encoding Spark itself cannot write.
    */
  private def writeNanosParquet(dirPath: String, nanos: Seq[Long]): Unit = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64)
      .as(LogicalTypeAnnotation.timestampType(false,
        LogicalTypeAnnotation.TimeUnit.NANOS))
      .named("ts")
      .named("events")
    new java.io.File(dirPath).mkdirs()
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dirPath/part-00000.parquet"))
      .withType(schema)
      .build()
    val f = new SimpleGroupFactory(schema)
    try nanos.foreach { ns =>
      val g = f.newGroup()
      g.add("event_id", 1L)
      g.add("ts", ns)
      w.write(g)
    } finally w.close()
  }

  /** Loaded-schema contract for EVERY fixture table, pinned 2026-08-13
    * (micros-era fixtures; note o_orderdate/l_shipdate silently moved
    * ms→µs-NTZ in the same regeneration that broke events — harmless
    * only because timestamp coercion covered it). The LOADED Spark
    * schema is the level queries actually depend on, so that is what
    * is pinned — a physical re-encoding that loads identically stays
    * green. `events.ts` accepts both supported encodings (§1.3).
    * On failure: diff the message, re-audit queries touching the
    * changed columns, then update the pin here deliberately.
    */
  private val pinnedSchemas = Map(
    "region" -> Seq("struct<r_regionkey:int,r_name:string>"),
    "nation" -> Seq("struct<n_nationkey:int,n_name:string,n_regionkey:int>"),
    "customer" -> Seq("struct<c_custkey:bigint,c_name:string,c_nationkey:int,c_acctbal:double,c_mktsegment:string>"),
    "supplier" -> Seq("struct<s_suppkey:bigint,s_name:string,s_nationkey:int,s_acctbal:double>"),
    "part" -> Seq("struct<p_partkey:bigint,p_name:string,p_brand:string,p_type:string,p_size:int,p_retailprice:double>"),
    "orders" -> Seq(
      "struct<o_orderkey:bigint,o_custkey:bigint,o_orderstatus:string,o_totalprice:double,o_orderdate:timestamp_ntz,o_orderpriority:string>",
      "struct<o_orderkey:bigint,o_custkey:bigint,o_orderstatus:string,o_totalprice:double,o_orderdate:timestamp,o_orderpriority:string>"),
    "lineitem" -> Seq(
      "struct<l_orderkey:bigint,l_partkey:bigint,l_suppkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double,l_discount:double,l_tax:double,l_returnflag:string,l_linestatus:string,l_shipdate:timestamp_ntz>",
      "struct<l_orderkey:bigint,l_partkey:bigint,l_suppkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double,l_discount:double,l_tax:double,l_returnflag:string,l_linestatus:string,l_shipdate:timestamp>"),
    "events" -> Seq(
      "struct<event_id:bigint,ts:timestamp_ntz,user_id:bigint,event_type:string,value:double,props:string>",
      "struct<event_id:bigint,ts:timestamp,user_id:bigint,event_type:string,value:double,props:string>",
      "struct<event_id:bigint,ts:bigint,user_id:bigint,event_type:string,value:double,props:string>"),
    "documents" -> Seq("struct<doc_id:bigint,text:string,lang:string,source:string,n_chars:bigint>"),
    "embeddings" -> Seq("struct<vec_id:bigint,embedding:array<float>,label:int>"))

  test("every fixture table's loaded schema matches the pinned contract") {
    // nanosAsLong first so a nanos-era events fixture loads at all
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val diffs = for {
      d <- fixtureDirs
      (t, accepted) <- pinnedSchemas.toSeq.sortBy(_._1)
      loaded = Tables.table(spark, d, t).schema.simpleString
      if !accepted.contains(loaded)
    } yield s"$d/$t loaded as\n  $loaded\nexpected one of\n  ${accepted.mkString("\n  ")}"
    assert(diffs.isEmpty,
      "fixture schema drift (driver regenerated testdata?) — re-audit " +
        "queries touching the changed columns, then update the pin:\n" +
        diffs.mkString("\n"))
  }

  test("documents.text is newline-free (scan_text_roundtrip contract)") {
    // the raw-text-lines round-trip writes one doc per line; a single
    // \n or \r in a regenerated fixture would split a doc into two
    // rows (LineRecordReader splits on \n, \r, \r\n) and surface only
    // as an opaque oracle hash mismatch — pin the invariant here with
    // a named failure instead
    import org.apache.spark.sql.functions.col
    fixtureDirs.foreach { d =>
      val n = Tables.documents(spark, d)
        .filter(col("text").contains("\n") || col("text").contains("\r"))
        .count()
      assert(n == 0, s"$d: $n documents contain newline characters — " +
        "scan_text_roundtrip's one-doc-per-line write is no longer lossless")
    }
  }

  test("documents.text is pure ASCII (mm_phash_dedup oracle contract)") {
    // mm_phash_dedup's Spark side samples UTF-8 BYTES of text (cast to
    // binary, byte-indexed) while its DuckDB oracle samples CHARACTERS
    // (string_split + ascii, codepoint-indexed); the two agree exactly
    // when every character is ASCII (1 byte == 1 char == codepoint).
    // A regenerated fixture with any multi-byte character would
    // desynchronize index arithmetic AND sample values, surfacing only
    // as an opaque hash mismatch — pin the invariant with a named
    // failure here instead (r7 ADVICE)
    import org.apache.spark.sql.functions.{col, length, octet_length}
    fixtureDirs.foreach { d =>
      val n = Tables.documents(spark, d)
        .filter(octet_length(col("text")) =!= length(col("text")))
        .count()
      assert(n == 0, s"$d: $n documents contain non-ASCII characters — " +
        "mm_phash_dedup's byte-sampled Spark side and char-sampled " +
        "oracle would diverge")
    }
  }

  test("an unsupported ts encoding fails loudly, naming the type") {
    import spark.implicits._
    val dir = TempDirs.once("fixture_canary", "badunit") { dir =>
      Seq((1L, "2024-03-01T00:00:00Z")).toDF("event_id", "ts")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    }
    val e = intercept[IllegalStateException](Tables.events(spark, dir))
    assert(e.getMessage.contains("StringType"),
      s"error must name the offending encoding, got: ${e.getMessage}")
  }
}
