package graft.operators

import graft.Tables._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.A — scans, sources, sinks.
  *
  * Football reading: ingest of match/event/player files
  * (`/root/reference/README.md:2` — the reference declares a
  * football-analytics ETL pipeline; it contains no code, so these are the
  * canonical source/sink operators any realization needs).
  */
object ScanQueries {

  private val nationSchema = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val queries: Map[String, Q] = Map(
    "scan_parquet" -> ((s, d) =>
      nation(s, d)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy(col("n_nationkey"))),

    // Column pruning through to the vectorized parquet reader: only 2 of
    // lineitem's 11 columns may appear in the scan's ReadSchema
    // (asserted in PlanShapeSpec).
    "scan_parquet_pruned" -> ((s, d) =>
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // Nanosecond-timestamp scan via the single events chokepoint.
    "scan_events_nanos" -> ((s, d) =>
      events(s, d)
        .select(col("event_id"), col("ts_us"), col("event_type"))
        .orderBy(col("event_id"))),

    // CSV round-trip: write with header + explicit schema read-back.
    // Oracle-paired: the round-tripped aggregate must equal DuckDB
    // reading the ORIGINAL parquet — lossless write+read, not rows>0.
    "scan_csv_roundtrip" -> ((s, d) => {
      val dir = graft.TempDirs.scoped("csv", d)
      nation(s, d).write.mode("overwrite").option("header", "true").csv(dir)
      s.read.schema(nationSchema).option("header", "true").csv(dir)
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n_nations"))
        .orderBy(col("n_regionkey"))
    }),

    // NESTED JSON ingestion: the API-payload shape — a struct
    // inside a struct plus an array — written as JSON lines and read
    // back under an explicit nested schema (inference is the
    // convenience path; production pins the schema), then flattened
    // by dotted-path extraction and array aggregation. Proves the
    // nested JSON round-trip is lossless down to array elements; the
    // oracle recomputes the flattened values from the base table.
    "scan_json_nested" -> ((s, d) => {
      val dir = graft.TempDirs.once("jsonnested", d) { dir =>
        nation(s, d)
          .select(to_json(struct(
            col("n_nationkey").as("id"),
            struct(col("n_name").as("name"),
              col("n_regionkey").as("region")).as("meta"),
            array(col("n_nationkey"), col("n_regionkey"),
              col("n_nationkey") + col("n_regionkey")).as("codes")))
            .as("value"))
          .coalesce(1).write.mode("overwrite").text(dir)
      }
      s.read
        .schema("id BIGINT, meta STRUCT<name: STRING, region: BIGINT>, " +
          "codes ARRAY<BIGINT>")
        .json(dir)
        .select(col("id"), col("meta.name").as("name"),
          col("meta.region").as("region"),
          size(col("codes")).cast("long").as("n_codes"),
          expr("aggregate(codes, 0L, (a, x) -> a + x)").as("code_sum"))
        .orderBy(col("id"))
    }),

    // WHOLE-FILE text ingestion: `wholetext` reads one row per
    // FILE instead of one per line — the mode document corpora use
    // when files are the unit (a book, a transcript) and line
    // splitting would destroy them. Three deterministic single-file
    // buckets (%3 doc slices, one text row per doc) read back whole;
    // per-file shape (line count, total chars incl. the writer's
    // trailing newlines) recomputed by the oracle from the same
    // slice arithmetic. File names are writer-random, so the output
    // keys on content-derived columns only. Scale note: wholetext
    // makes a file the parallelism unit — fine for corpora of many
    // bounded files, the wrong tool for one huge file (documented
    // trade of the mode itself).
    "scan_text_wholetext" -> ((s, d) => {
      val dir = graft.TempDirs.once("wholetext", d) { dir =>
        val ss = s
        import ss.implicits._
        Seq(0L, 1L, 2L).foreach { b =>
          documents(s, d).filter(col("doc_id") % 3 === b)
            .orderBy(col("doc_id"))
            .select(col("text")).as[String]
            .coalesce(1)
            .write.mode("overwrite").text(s"$dir/bucket$b")
        }
      }
      s.read.option("wholetext", "true")
        .text(s"$dir/bucket0", s"$dir/bucket1", s"$dir/bucket2")
        .select(
          (length(col("value")) -
            length(regexp_replace(col("value"), "\n", ""))).cast("long")
            .as("n_lines"),
          length(col("value")).cast("long").as("n_chars"))
        .orderBy(col("n_lines"), col("n_chars"))
    }),

    // Recursive lake-directory ingestion with glob filtering:
    // the messy-directory reality — data files nested at arbitrary
    // depths with NON-data droppings (logs, manifests, temp files)
    // interleaved. recursiveFileLookup walks every level (no
    // partition-directory naming needed) and pathGlobFilter keeps
    // only *.parquet — without it the decoy .txt poisons schema
    // inference and the read fails. Output proves content (aggregate
    // vs the oracle over the original table) AND selection (distinct
    // input_file_name count = exactly the 3 planted parquet files,
    // decoys excluded). One listing + one narrow scan at any depth.
    "scan_path_filtered" -> ((s, d) => {
      val dir = graft.TempDirs.once("lakedirs", d) { dir =>
        val ev = events(s, d).select(col("event_id"), col("user_id"),
          col("event_type"), col("value"))
        Seq(0L, 1L, 2L).foreach { b =>
          ev.filter(col("event_id") % 3 === b).repartition(1)
            .write.mode("overwrite").parquet(s"$dir/depth1/bucket$b")
        }
        // the droppings a real lake accumulates
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$dir/depth1/README.txt"),
          "not data\n")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$dir/depth1/bucket0/_ingest.log"),
          "2024-01-01 ingested\n")
      }
      s.read
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(dir)
        // project the file name first: input_file_name() is
        // non-deterministic to the analyzer and may not sit inside an
        // aggregate argument directly
        .withColumn("f", input_file_name())
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("f")).as("n_files"),
          moneySumD(col("value")).as("sum_value"))
    }),

    // Parquet BLOOM-FILTER row-group pruning: the needle-lookup
    // pruning path that min/max statistics cannot give. The layout is
    // written with the natural key clustering DESTROYED (rows ordered
    // by key hash) across 8 row groups, so every group's min/max
    // spans the whole key domain and stats-based pruning keeps
    // nothing out; the per-column bloom filter written into each
    // row group lets the parquet reader skip groups that provably
    // lack the probed key. Result is layout-independent (oracle reads
    // the raw table); the pruning itself — scanned rows collapsing
    // from the full table to ~1 row group — is asserted via scan
    // metrics in PlanShapeSpec. At 100 TB this is the point-lookup
    // story for unclustered keys: blooms cost bits per value at write
    // time and turn full scans into single-group reads without
    // maintaining any sort order.
    "scan_parquet_bloom" -> ((s, d) => {
      val dir = graft.TempDirs.once("pqbloom", d) { dir =>
        // SCALE-INVARIANT row-group count (~64 groups at any fixture
        // size): a fixed tiny block size made the sf1 build write
        // thousands of groups — footer bloat on both sides
        // (measured 16.5 s cold). ~20 bytes/row of column data; the
        // metadata count is one cheap action inside the build.
        val nRows = lineitem(s, d).count()
        val block = math.max(16L * 1024L, nRows * 20L / 64L)
        // scatter by key hash across 4 files, each hash-sorted within
        // — same destroyed clustering, but the sort+write parallelize
        // (the single-file global md5 sort was the 17 s of the sf1
        // build; xxhash64 on the long key beats md5 on its string)
        lineitem(s, d)
          .select(col("l_orderkey"), col("l_quantity"))
          .withColumn("h", xxhash64(col("l_orderkey")))
          .repartition(4, pmod(col("h"), lit(4)))
          .sortWithinPartitions(col("h"))
          .drop("h")
          .write
          .option("parquet.bloom.filter.enabled#l_orderkey", "true")
          .option("parquet.bloom.filter.expected.ndv#l_orderkey", "200000")
          .option("parquet.block.size", block.toString)
          .option("parquet.page.size",
            math.max(4L * 1024L, block / 4L).toString)
          .mode("overwrite").parquet(dir)
      }
      s.read.parquet(dir)
        .filter(col("l_orderkey") === 1L)
        .agg(count(lit(1)).as("n_rows"),
          moneySumD(col("l_quantity")).as("sum_qty"))
    }),

    // PERMISSIVE CSV ingest with corrupt-record accounting: the
    // dirty-feed reality of crawl-scale ingestion — a deterministic
    // feed where every doc_id % 10 == 0 line is malformed (pipe
    // delimiter + non-numeric field), read under PERMISSIVE mode with
    // an explicit corrupt-record column, so bad rows LAND AS ROWS
    // (null fields + the raw line preserved for quarantine) instead
    // of killing the job (FAILFAST) or vanishing silently (DROPMALFORMED
    // loses the audit trail). Output: admitted/quarantined counts +
    // the admitted payload sum — the ingest-gate manifest. The oracle
    // recomputes all three from the same % arithmetic. Scale shape:
    // one narrow text scan, per-line parse, no shuffle but the final
    // 1-row aggregate.
    "scan_csv_permissive" -> ((s, d) => {
      val dir = graft.TempDirs.once("csvdirty", d) { dir =>
        val ss = s
        import ss.implicits._
        documents(s, d).select(col("doc_id"), col("n_chars"))
          .withColumn("line",
            when(col("doc_id") % 10 === 0,
              concat(lit("BAD|"), col("doc_id"), lit("|not-a-number")))
              .otherwise(concat(col("doc_id"), lit(","), col("n_chars"))))
          .select(col("line")).as[String]
          .write.mode("overwrite").text(dir)
      }
      s.read
        .schema("doc_id LONG, n_chars LONG, _corrupt STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(dir)
        .agg(
          sum(when(col("_corrupt").isNull, 1L).otherwise(0L)).as("n_admitted"),
          sum(when(col("_corrupt").isNotNull, 1L).otherwise(0L)).as("n_quarantined"),
          sum(when(col("_corrupt").isNull, col("n_chars"))).as("sum_chars"),
          // the admitted-id checksum ALSO forces doc_id into the
          // parsed column set: CSV column pruning otherwise skips the
          // unreferenced first field, its failing cast never runs,
          // and the malformed lines sail through unflagged (found
          // in a live run — the subtle way PERMISSIVE accounting can
          // silently undercount quarantine)
          expr("bit_xor(CASE WHEN _corrupt IS NULL THEN doc_id END)")
            .as("id_xor"))
    }),

    // JSON-lines round-trip.
    "scan_json_roundtrip" -> ((s, d) => {
      val dir = graft.TempDirs.scoped("json", d)
      nation(s, d).write.mode("overwrite").json(dir)
      s.read.schema(nationSchema).json(dir)
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n_nations"))
        .orderBy(col("n_regionkey"))
    }),

    // ORC round-trip: the other first-class columnar format (vectorized
    // reader, predicate pushdown) — same aggregate as the CSV/JSON
    // round-trips so all three sources are comparable. Oracle-paired:
    // the round-tripped aggregate must equal DuckDB reading the
    // ORIGINAL parquet (proves lossless write+read, not just rows>0).
    "scan_orc_roundtrip" -> ((s, d) => {
      val dir = graft.TempDirs.scoped("orc", d)
      nation(s, d).write.mode("overwrite").orc(dir)
      s.read.schema(nationSchema).orc(dir)
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n_nations"))
        .orderBy(col("n_regionkey"))
    }),

    // XML round-trip: the remaining first-class Spark 4 file
    // format (native XML source since 4.0 — XmlFileFormat is
    // service-registered, unlike avro). Row-level oracle against the
    // original parquet, same contract as the avro/jdbc round-trips.
    "scan_xml_roundtrip" -> ((s, d) => {
      val dir = graft.TempDirs.scoped("xmlsrc", d)
      nation(s, d).write.mode("overwrite")
        .option("rootTag", "nations").option("rowTag", "nation")
        .format("xml").save(dir)
      s.read.schema(nationSchema).option("rowTag", "nation")
        .format("xml").load(dir)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy(col("n_nationkey"))
    }),

    // Avro round-trip: the row-oriented interchange format
    // (Kafka/streaming-ingest lingua franca). Spark 4 ships the full
    // AvroFileFormat inside spark-sql, but lookupDataSource
    // special-cases the short name "avro" with a deploy-the-module
    // error before consulting the classpath — the fully-qualified
    // class name reaches the same (complete) implementation.
    // ROW-LEVEL oracle against the original parquet — every nation
    // row must survive parquet → avro → read byte-exactly, a
    // stronger contract than the count-shaped csv/json/orc
    // round-trips.
    "scan_avro_roundtrip" -> ((s, d) => {
      val avroFmt = "org.apache.spark.sql.avro.AvroFileFormat"
      val dir = graft.TempDirs.scoped("avro", d)
      nation(s, d).write.mode("overwrite").format(avroFmt).save(dir)
      s.read.schema(nationSchema).format(avroFmt).load(dir)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy(col("n_nationkey"))
    }),

    // JDBC round-trip: the operational-database source/sink every
    // batch ETL pipeline eventually lands in, exercised against the
    // EMBEDDED Derby engine that ships on the Spark classpath (no
    // external server in the sandbox — the operator is the jdbc
    // datasource write+read path itself: type mapping, overwrite DDL,
    // partition-batched inserts). Staging once per (JVM, sf);
    // ROW-LEVEL oracle against the original parquet proves the
    // Spark→SQL-types→Spark round-trip lossless. At 100 TB a JDBC
    // table is a DIMENSION side: read once, broadcast — never the
    // fact side (numPartitions/partitionColumn exist for parallel
    // reads of bigger tables; Derby here stands in for any
    // JDBC-reachable RDBMS).
    "scan_jdbc_roundtrip" -> ((s, d) => {
      val dbDir = graft.TempDirs.scoped("derbydb", d)
      // keep Derby's engine log out of the process cwd
      System.setProperty("derby.stream.error.file", s"$dbDir/derby.log")
      val url = s"jdbc:derby:$dbDir/graftdb;create=true"
      val driver = "org.apache.derby.jdbc.EmbeddedDriver"
      // writeOnce, not `TempDirs.once`: after a failed build the Derby
      // database is still booted in this JVM, and a retry that wiped
      // the dir would delete files under an open database. The
      // overwrite-mode write replaces the table instead.
      graft.TempDirs.writeOnce("derbydb" + d) {
        nation(s, d).write.mode("overwrite").format("jdbc")
          .option("url", url).option("dbtable", "nation_rt")
          .option("driver", driver).save()
      }
      s.read.format("jdbc")
        .option("url", url).option("dbtable", "nation_rt")
        .option("driver", driver).load()
        .select(col("n_nationkey").cast("int").as("n_nationkey"),
          col("n_name"),
          col("n_regionkey").cast("int").as("n_regionkey"))
        .orderBy(col("n_nationkey"))
    }),

    // Raw text-lines round-trip: the remaining first-class Spark
    // source format (spark.read.text) — the shape of every
    // plain-text/WET crawl shard a training pipeline ingests. Document
    // texts are written as raw lines (fixture-verified newline-free,
    // so one doc = one line) and read back line-wise; the aggregate
    // (group by leading token, count + char sum) must equal DuckDB
    // over the ORIGINAL parquet — lossless write+read, not rows>0.
    "scan_text_roundtrip" -> ((s, d) => {
      // staging is an artifact, not the measured operator (the READ
      // is): built once per (JVM, sf), like scan_binaryfile's staging,
      // so no timed invocation re-pays the write
      val dir = graft.TempDirs.once("textsrc", d) { dir =>
        documents(s, d).select(col("text"))
          .write.mode("overwrite").text(dir)
      }
      s.read.text(dir)
        .select(split(col("value"), " ").getItem(0).as("tok0"),
          length(col("value")).as("len"))
        .groupBy(col("tok0"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("len")).cast("long").as("sum_chars"))
        .orderBy(col("tok0"))
    }),

    // GZIP-compressed text round-trip: the compression-codec leg
    // of the text path — real crawl shards (WET files) arrive gzipped,
    // and the reader must split/decompress per FILE (gzip is not
    // splittable: one file = one task, which is why crawl dumps ship
    // as many medium files — documented scale contract). Same
    // aggregate and oracle as scan_text_roundtrip, so the codec layer
    // is proven transparent.
    "scan_text_gzip" -> ((s, d) => {
      val dir = graft.TempDirs.once("textgz", d) { dir =>
        documents(s, d).select(col("text"))
          .write.mode("overwrite").option("compression", "gzip")
          .text(dir)
      }
      s.read.text(dir)
        .select(split(col("value"), " ").getItem(0).as("tok0"),
          length(col("value")).as("len"))
        .groupBy(col("tok0"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("len")).cast("long").as("sum_chars"))
        .orderBy(col("tok0"))
    }),

    // binaryFile source: Spark's whole-file reader — the
    // ingestion path for multimodal corpora (images/audio/arbitrary
    // blobs land as one row per FILE with path/length/content, no
    // row-format assumption). Staging writes each document's text as
    // its own doc_id-named file via a distributed mapPartitions pass
    // (per-file layout is the POINT of this source; a text() write
    // would pack many docs per part file and make content
    // order-dependent). The read-back digests each file's bytes, so
    // the oracle — sha256 over the same UTF-8 text straight from the
    // documents table — proves byte-exact file round-tripping, not
    // just row counts. Scale: one task per file batch on both sides;
    // binaryFile is the documented Spark source for < ~100 MB blobs
    // (bigger payloads stay in parquet binary columns, the mm_* path).
    // STAGING LOCALITY ASSUMPTION: the foreachPartition writes land on
    // executor-local disk, which equals the driver-visible dir only
    // under local[*] (every entry point here) or a shared filesystem.
    // The staging stands in for files that ALREADY EXIST in a real
    // deployment (a crawl dump on S3/HDFS) — the OPERATOR is the
    // binaryFile read, which is cluster-correct as-is; only the
    // test-harness synthesis is local-mode-scoped.
    "scan_binaryfile" -> ((s, d) => {
      val dir = graft.TempDirs.once("binfilesrc", d) { dir =>
        documents(s, d).select(col("doc_id"), col("text"))
          .repartition(8)
          .foreachPartition {
            (rows: Iterator[org.apache.spark.sql.Row]) =>
              rows.foreach { r =>
                java.nio.file.Files.write(
                  java.nio.file.Paths.get(dir, s"${r.getLong(0)}.txt"),
                  r.getString(1).getBytes(
                    java.nio.charset.StandardCharsets.UTF_8))
              }
          }
      }
      s.read.format("binaryFile").load(dir)
        .select(
          regexp_extract(col("path"), "(\\d+)\\.txt$", 1)
            .cast("long").as("doc_id"),
          col("length").as("n_bytes"),
          sha2(col("content"), 256).as("h_sha256"))
        .orderBy(col("doc_id"))
    }),

    // Multi-file parallel scan: the table split into 8 part files and
    // read back as one dataset — the layout every distributed write
    // produces (one file per task), and the unit of scan parallelism
    // at cluster scale. Aggregate must equal the single-file read.
    // Only the aggregate's input columns are written: materializing a
    // derived table prunes to what downstream reads (write bytes are
    // the scarce resource at 100 TB, same as scan pruning on read).
    "scan_parquet_multifile" -> ((s, d) => {
      val dir = graft.TempDirs.scoped("multifile", d)
      lineitem(s, d).select(col("l_linestatus"), col("l_quantity"))
        .repartition(8)
        .write.mode("overwrite").parquet(dir)
      s.read.parquet(dir)
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          moneySumD(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_linestatus"))
    }),

    // Partitioned sink + partition-pruned read-back: only the
    // l_returnflag=A directory is listed by the pruned scan.
    "sink_partitioned" -> ((s, d) => {
      val dir = graft.TempDirs.scoped("part", d)
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"))
        .write.mode("overwrite").partitionBy("l_returnflag").parquet(dir)
      s.read.parquet(dir)
        .filter(col("l_returnflag") === "A")
        .agg(count(lit(1)).as("n_rows"),
          moneySumD(col("l_quantity")).as("sum_qty"))
    }),

    // Schema evolution: a long-lived lake table accretes columns
    // over time — the old files lack the new column and a reader must
    // union the schemas, surfacing NULL for pre-evolution rows. The
    // layout: a v1 epoch (even order keys, 2 columns) and a v2 epoch
    // (odd keys, + o_orderpriority), written once per JVM; the read
    // passes BOTH epochs with mergeSchema=true (schema union is a
    // per-file-footer merge, no data rewrite — the whole point at
    // 100 TB, where rewriting history for a new column is not an
    // option) and reconciles pre-evolution rows with a LEGACY
    // default. The oracle recomputes the same values from the raw
    // orders table (the layout is a pure function of it), so the
    // merge path is value-proven, not just rows>0.
    "scan_schema_evolution" -> ((s, d) => {
      val dir = graft.TempDirs.once("schema_evo", d) { dir =>
        val o = orders(s, d)
        o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.mode("overwrite").parquet(s"$dir/v1")
        o.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority"))
          .write.mode("overwrite").parquet(s"$dir/v2")
      }
      s.read.option("mergeSchema", "true")
        .parquet(s"$dir/v1", s"$dir/v2")
        .groupBy(coalesce(col("o_orderpriority"), lit("LEGACY"))
          .as("priority"))
        .agg(count(lit(1)).as("n_orders"),
          moneySumD(col("o_totalprice")).as("sum_price"))
        .orderBy(col("priority"))
    }),

    // Generator source: rows synthesized from a range, no input files
    // (dimension enumeration, calendar spines, test scaffolding). The
    // range splits across partitions without any driver-side
    // materialization — at any scale `spark.range(n)` is metadata, not
    // data.
    "source_range" -> ((s, d) =>
      s.range(0, 1000).toDF("id")
        .select(col("id"),
          (col("id") * col("id") % 97).as("sq_mod"),
          concat(lit("row-"), lpad(col("id").cast("string"), 4, "0"))
            .as("tag"))
        .orderBy(col("id")))
  )

  val oracle: Map[String, String] = Map(
    // Digest over the table's text == digest over each round-tripped
    // file's bytes (UTF-8 both ways) — byte-exact file ingestion.
    "scan_binaryfile" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  sha256(text) AS h_sha256
        |FROM documents ORDER BY doc_id""".stripMargin,

    "scan_text_roundtrip" ->
      """SELECT string_split(text, ' ')[1] AS tok0,
        |  count(*) AS n_lines,
        |  CAST(sum(len(text)) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1 ORDER BY tok0""".stripMargin,
    // identical oracle: the gzip codec must be a transparent layer
    "scan_text_gzip" ->
      """SELECT string_split(text, ' ')[1] AS tok0,
        |  count(*) AS n_lines,
        |  CAST(sum(len(text)) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1 ORDER BY tok0""".stripMargin,
    "scan_parquet" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "scan_parquet_pruned" ->
      "SELECT l_orderkey, l_linenumber FROM lineitem ORDER BY l_orderkey, l_linenumber",
    "scan_events_nanos" ->
      "SELECT event_id, epoch_us(ts) AS ts_us, event_type FROM events ORDER BY event_id",
    "scan_orc_roundtrip" ->
      """SELECT n_regionkey, count(*) AS n_nations FROM nation
        |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    // row-level: the xml write+read must be lossless per row
    "scan_xml_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    // row-level: the avro write+read must be lossless per row
    "scan_avro_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    // row-level: the jdbc type-mapped write+read must be lossless
    "scan_jdbc_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "scan_csv_roundtrip" ->
      """SELECT n_regionkey, count(*) AS n_nations FROM nation
        |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    "scan_json_roundtrip" ->
      """SELECT n_regionkey, count(*) AS n_nations FROM nation
        |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    // flattened values recomputed from the base table — the nested
    // container must be a pure transport layer
    "scan_json_nested" ->
      """SELECT n_nationkey AS id, n_name AS name, n_regionkey AS region,
        |  CAST(3 AS BIGINT) AS n_codes,
        |  CAST(2 * n_nationkey + 2 * n_regionkey AS BIGINT) AS code_sum
        |FROM nation ORDER BY id""".stripMargin,
    // per-bucket shape from the same %3 arithmetic: lines = docs,
    // chars = text total + one writer newline per line
    "scan_text_wholetext" ->
      """SELECT count(*) AS n_lines,
        |  CAST(sum(n_chars) + count(*) AS BIGINT) AS n_chars
        |FROM documents GROUP BY doc_id % 3
        |ORDER BY n_lines, n_chars""".stripMargin,
    // content from the original table; the 3-file selection count is
    // the planted-layout literal (decoys excluded by the glob)
    "scan_path_filtered" ->
      """SELECT count(*) AS n_rows, CAST(3 AS BIGINT) AS n_files,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events""".stripMargin,
    // layout-independent: the bloom pruning changes what is READ,
    // never what is true
    "scan_parquet_bloom" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey = 1""".stripMargin,
    // the same % arithmetic that built the dirty feed: %10 lines are
    // malformed (quarantined), the rest admit with their n_chars
    "scan_csv_permissive" ->
      """SELECT
        |  CAST(sum(CASE WHEN doc_id % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
        |  CAST(sum(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
        |  CAST(sum(CASE WHEN doc_id % 10 <> 0 THEN n_chars END) AS BIGINT) AS sum_chars,
        |  bit_xor(CASE WHEN doc_id % 10 <> 0 THEN doc_id END) AS id_xor
        |FROM documents""".stripMargin,
    "scan_parquet_multifile" ->
      """SELECT l_linestatus, count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "sink_partitioned" ->
      """SELECT count(*) AS n_rows, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_returnflag = 'A'""".stripMargin,
    "source_range" ->
      """SELECT range AS id, (range * range) % 97 AS sq_mod,
        |  'row-' || lpad(CAST(range AS VARCHAR), 4, '0') AS tag
        |FROM range(0, 1000) ORDER BY id""".stripMargin,
    // the evolved layout is a pure function of orders: even keys lost
    // their priority column (LEGACY after the merge), odd keys kept it
    "scan_schema_evolution" ->
      """SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
        |            ELSE 'LEGACY' END AS priority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY 1 ORDER BY priority""".stripMargin
  )
}
