package graft.operators

import graft.Tables._
import graft.api.GraftOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.L — training-data pipeline assembly operators: the
  * corpus-to-training-set steps a 100 TB LLM data pipeline runs after
  * dedup/quality filtering (north-star mandate, BASELINE.json; the
  * reference snapshot `/root/reference/README.md:1-2` declares only the
  * pipeline intent and contains no code).
  *
  * All four are deterministic and oracle-paired — sampling and
  * shuffling use content/key hashes (md5, identical in Spark and
  * DuckDB), never an RNG: at cluster scale a seeded per-partition RNG
  * changes results whenever partitioning changes, a hash never does.
  *
  * Scale notes (100 TB):
  *  - sample_hash / mix_weighted are pure map-side filters — no
  *    shuffle, fraction-of-input output, trivially parallel;
  *  - shuffle_global is ONE range-partitioned sort (the canonical
  *    distributed epoch shuffle: sort by keyed hash, write; a new salt
  *    re-shuffles);
  *  - pack_token_budget is one shuffle on the shard key + a
  *    per-partition running sum (window): bins are assigned without
  *    any sequential driver loop.
  */
object PipelineQueries {

  /** First hex digit of md5(text) — a uniform 4-bit hash usable as a
    * cross-engine sampling key: hex chars compare lexicographically in
    * value order ('0' < ... < '9' < 'a' < ... < 'f'), so `digit < '4'`
    * keeps 4/16 = 25%.
    */
  private val hexDigit = substring(md5(col("text")), 1, 1)

  val queries: Map[String, Q] = Map(
    // Deterministic 25% corpus sample by content hash. Repeatable
    // across runs, partitionings, and engines; disjoint samples come
    // from disjoint digit ranges (the standard hash-mod split).
    "sample_hash" -> ((s, d) =>
      GraftOps.hashSample(documents(s, d), "text", 4)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))),

    // Weighted deterministic sampling (r12): keep each document with
    // probability ∝ its quality weight (length capped at 200 chars —
    // any integer score plugs in), the importance-sampling step a
    // training mix uses to up-sample high-quality sources WITHOUT an
    // RNG: u = xxhash64(doc_id) mod 2^20 is a uniform integer, keep
    // iff u·maxW < w·2^20 — repeatable across runs, partitionings
    // and engines (the oracle replays Spark's XXH64 bit-exact in
    // HUGEINT via OracleXxh64; mod 2^20 is congruent for the signed
    // and unsigned views since 2^64 ≡ 0). Pure map-side filter: no
    // shuffle, no state, fraction-of-input output at any scale.
    "sample_weighted_hash" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), col("lang"),
          least(col("n_chars"), lit(200L)).as("w"),
          pmod(xxhash64(col("doc_id")), lit(1048576L)).as("u"))
        .filter(col("u") * lit(200L) < col("w") * lit(1048576L))
        .select(col("doc_id"), col("lang"), col("w"))
        .orderBy(col("doc_id"))),

    // Source-mix balance (r12): Kish effective sample size of the
    // corpus' source distribution — ESS = (Σw)²/Σw² with w = docs per
    // source — and its [0,1] balance ratio ESS/n_sources (1 = a
    // perfectly uniform mix, →1/n = one source dominates): the
    // one-scalar audit a mixture design is tuned against before
    // packing epochs. Integer counts, squares summed in DECIMAL(38,0)
    // (w² overflows int64 once a source holds > 3·10⁹ docs), one
    // fixed double tree to milli/micro units. Scale: one
    // map-combined source count (|sources| rows), then 1-row math.
    "mix_source_balance" -> ((s, d) =>
      documents(s, d).groupBy(col("source"))
        .agg(count(lit(1)).as("w"))
        .agg(count(lit(1)).as("n_sources"),
          sum(col("w")).as("total_docs"),
          sum((col("w") * col("w")).cast("decimal(38,0)"))
            .cast("decimal(38,0)").as("sq"))
        .select(col("n_sources"), col("total_docs"),
          expr("cast(round(cast(total_docs as double) * " +
            "cast(total_docs as double) / cast(sq as double) * 1e3) " +
            "as bigint)").as("ess_milli"),
          expr("cast(round(cast(total_docs as double) * " +
            "cast(total_docs as double) / (cast(sq as double) * " +
            "cast(n_sources as double)) * 1e6) as bigint)")
            .as("balance_micro"))),

    // Deterministic global training-order shuffle: order by a salted
    // key hash. One range-partitioned sort; changing the salt literal
    // is a fresh epoch permutation.
    "shuffle_global" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          md5(concat(col("doc_id").cast("string"), lit(":epoch42")))
            .as("shuffle_key"))
        .orderBy(col("shuffle_key"), col("doc_id"))),

    // Context-window packing: per-language shards, docs in doc_id
    // order, each doc assigned to bin floor(tokens_before / 4096) —
    // document-boundary packing against a 4096-token budget as one
    // window cumsum (no sequential loop; long docs simply start their
    // own bins).
    "pack_token_budget" -> ((s, d) =>
      GraftOps.packTokenBudget(documents(s, d), "lang", "doc_id", "text")
        .select(col("lang"), col("doc_id"), col("n_toks"), col("bin"))
        .orderBy(col("lang"), col("doc_id"))),

    // Balanced bin packing (r8): spread each language shard's
    // documents across 16 bins so bin TOKEN loads equalize — the
    // load-balancing complement of pack_token_budget (which packs
    // sequentially and leaves bin sizes uneven). Serpentine
    // (boustrophedon) assignment over the per-language
    // token-count-descending rank: ranks 1..16 map to bins 0..15,
    // ranks 17..32 reflect back 15..0, so every bin receives one doc
    // per "snake pass" alternating large/small — the classic
    // deterministic approximation of best-fit-decreasing that needs
    // NO sequential state, just one PARTITIONED rank window (an
    // unpartitioned global rank would funnel the corpus through one
    // partition — the shape PlanHygieneSpec bans; the language key is
    // the natural shard axis, and a keyless corpus salts one in).
    // Fully mirrorable, where true BFD is inherently serial.
    "pack_balanced_bins" -> ((s, d) =>
      documents(s, d)
        .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
        .withColumn("rk",
          row_number().over(Window.partitionBy(col("lang"))
            .orderBy(col("n_toks").desc, col("doc_id"))).cast("long"))
        .withColumn("k", (col("rk") - 1) % 32)
        .withColumn("bin",
          when(col("k") < 16, col("k")).otherwise(lit(31L) - col("k")))
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("sum_toks"))
        .orderBy(col("lang"), col("bin"))),

    // Deterministic train/val/test split (r8): the 80/10/10 corpus
    // split every training run needs, keyed on the content hash so
    // membership is stable across runs, engines, partitionings, and
    // re-ingests (a doc never migrates between splits when the corpus
    // around it changes — the property row_number splits lack). md5
    // first two hex digits give 256 uniform levels: < 'cd' (204/256
    // ≈ 80%) = train, < 'e7' (231/256) = val, rest = test. Output is
    // the per-split audit row (count + token mass + an
    // order-independent id checksum) — the manifest a pipeline
    // records next to the split.
    "sample_split" -> ((s, d) =>
      GraftOps.hashSplit(documents(s, d), "text")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("sum_toks"),
          expr("bit_xor(doc_id)").as("id_xor"))
        .orderBy(col("split"))),

    // Quality-tiered repetition schedule (r7): the UPsampling
    // counterpart of mix_weighted/mix_temperature (which sample DOWN)
    // — higher-quality documents repeat across training epochs (the
    // multi-epoch weighting of modern data recipes: quality tier ->
    // repeat count 3/2/1), each repeat emitted as its own
    // (doc_id, epoch) row via a per-row sequence explode. Quality is
    // the integer chars-per-token proxy (x100); the 540/556 tier
    // thresholds are operator literals (roughly terciles of the
    // fixture). Scale shape: narrow generator fan-out, output size
    // = sum of repeats, no shuffle but the output sort.
    "mix_repeat_by_quality" -> ((s, d) =>
      documents(s, d)
        .withColumn("q", expr(
          "n_chars * 100 div greatest(size(split(text, ' ')), 1)"))
        .withColumn("repeats", when(col("q") >= 556, 3L)
          .when(col("q") >= 540, 2L).otherwise(1L))
        .withColumn("epoch", explode(expr("sequence(1, repeats)")))
        .select(col("doc_id"), col("q").as("quality"),
          col("repeats"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))),

    // Source-weighted mixture: per-source take-rates via hash
    // thresholds (src0-4 keep 12/16, src5-9 keep 8/16, the long tail
    // 4/16) — the data-mixing step that rebalances source proportions
    // without an RNG. Pure map filter; the mixture is reproducible
    // row-for-row at any scale.
    "mix_weighted" -> ((s, d) => {
      val highQ = Seq("src0", "src1", "src2", "src3", "src4")
      val midQ = Seq("src5", "src6", "src7", "src8", "src9")
      val threshold = when(col("source").isin(highQ: _*), lit("c"))
        .when(col("source").isin(midQ: _*), lit("8"))
        .otherwise(lit("4"))
      documents(s, d)
        .filter(hexDigit < threshold)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"))
        .orderBy(col("source"))
    }),

    // Stratified sample: a fixed-size per-stratum subcorpus (40 docs
    // per language), members chosen by content-hash order — the
    // balanced-per-language subset used for eval sets and ablations.
    // Deterministic: md5 order with doc_id tie-break is total. One
    // shuffle on the stratum key; per-stratum top-N runs as a window
    // group limit, never a global sort.
    "sample_stratified" -> ((s, d) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("text")), col("doc_id"))
      documents(s, d)
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 40)
        .select(col("lang"), col("rk"), col("doc_id"))
        .orderBy(col("lang"), col("rk"))
    }),

    // Temperature-scaled source mixing (r4, T = 2): per-source
    // keep-rate ∝ sqrt(n_s / n_max) — the corpus rebalancing that
    // upweights small sources relative to proportional sampling
    // (mix_weighted's fixed tiers, made DATA-DERIVED). Rates quantize
    // to 16 hash levels and apply as a pure hash-threshold map filter;
    // the per-source rate table (|sources| rows) broadcasts, so the
    // corpus side stays a map-only scan at any scale. Deterministic
    // end to end: integer counts -> IEEE sqrt -> floor are
    // bit-identical across engines, and the md5 first-digit threshold
    // is the sample_hash trick ('g' sits above 'f', so the largest
    // source keeps everything).
    "mix_temperature" -> ((s, d) => {
      val docs = documents(s, d)
      val counts = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_total"))
      // global max via 1-row aggregate cross-join (the text_bm25_topk
      // pattern), NOT max().over(Window.partitionBy()): an unpartitioned
      // window funnels all rows to one partition, and PlanHygieneSpec
      // now pins the whole surface free of that shape
      val rates = counts
        .crossJoin(broadcast(counts.agg(max(col("n_total")).as("n_max"))))
        .withColumn("rate16", greatest(
          floor(lit(16) * sqrt(col("n_total").cast("double") / col("n_max"))),
          lit(1L)))
        .select(col("source"), col("n_total"),
          expr("substring('0123456789abcdefg', cast(rate16 as int) + 1, 1)")
            .as("thr"))
      docs.join(broadcast(rates), "source")
        .filter(hexDigit < col("thr"))
        .groupBy(col("source"), col("n_total"))
        .agg(count(lit(1)).as("n_kept"))
        .orderBy(col("source"))
    }),

    // Incremental-batch dedup: admit a new ingest batch (source =
    // 'src0') only where its content digest is unseen in the standing
    // corpus, deduping within the batch as well (min-doc_id survivor).
    // The anti join runs on digests only — at 100 TB the shuffle
    // carries 16-byte hashes, never text; the standing-corpus side
    // stays partitioned on digest across ingests so only the batch
    // re-shuffles.
    "dedup_incremental" -> ((s, d) => {
      val docs = documents(s, d).withColumn("h", md5(col("text")))
      val existing = docs.filter(col("source") =!= "src0")
        .select(col("h")).distinct()
      docs.filter(col("source") === "src0")
        .join(existing, Seq("h"), "left_anti")
        .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // Bloom-prefiltered ingest admission (r7): the incremental-dedup
    // shape optimized for the 100 TB reality that MOST of a fresh
    // crawl batch is new. A mergeable Bloom filter over the standing
    // corpus digests (Spark's own BloomFilterAggregate — map-side
    // partials, the merged sketch is the only thing that leaves the
    // executors) routes each batch row: might_contain = false is a
    // PROVEN-new row (Bloom has no false negatives) and skips the
    // anti-join shuffle entirely; only the might_contain = true sliver
    // (true dups + the fpp tail) pays the exact digest anti-join that
    // removes false positives. Output is therefore EXACTLY the plain
    // anti-join admission — oracle-paired — at a fraction of its
    // shuffle volume (BloomPrefilterSpec proves set-equality even with
    // a deliberately saturated 64-bit filter). The filter build is one
    // scalar aggregate collected driver-side and re-embedded as a
    // foldable literal, the same offline-build/online-serve split as
    // the IVF centroids; at cluster scale the identical expressions
    // ship via Spark's bloom-subquery injection (join_runtime_bloom).
    "dedup_bloom_prefilter" -> ((s, d) =>
      bloomAdmit(documents(s, d), 100000L, 800000L))
  )

  /** The `dedup_bloom_prefilter` kernel, parameterized so the spec can
    * force a saturated (high-fpp) filter and prove the output identical
    * to the exact anti-join regardless of Bloom sizing.
    *
    * The filter reaches the probe side as a SCALAR SUBQUERY — the same
    * `BloomFilterMightContain(ScalarSubquery(agg), xxhash64(k))` shape
    * Spark's own InjectRuntimeFilter plants — so the whole operator is
    * ONE lazy plan: no driver-side `.first()` materialization before
    * the action (r7 VERDICT flag; a pipeline scheduler re-running the
    * build per ingest would otherwise pay a driver round-trip and hold
    * the filter bytes on the driver). Spark's ReuseSubquery dedups the
    * two structurally-equal subquery instances, so the aggregate
    * executes once per action.
    */
  private[graft] def bloomAdmit(
      documents: org.apache.spark.sql.DataFrame,
      estItems: Long,
      numBits: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    val docs = documents.withColumn("h", md5(col("text")))
    val standing = docs.filter(col("source") =!= "src0").select(col("h"))
    val batch = docs.filter(col("source") === "src0")
    val bfPlan = standing.select(column(
        new BloomFilterAggregate(expression(xxhash64(col("h"))),
          expression(lit(estItems)), expression(lit(numBits)))
          .toAggregateExpression()).as("bf"))
      .queryExecution.analyzed
    // fresh ScalarSubquery per use site (each carries its own exprId);
    // the plans canonicalize equal, so physical planning reuses one
    // subquery execution for both branches
    def might = column(BloomFilterMightContain(
      ScalarSubquery(bfPlan), expression(xxhash64(col("h")))))
    // empty standing corpus -> the aggregate evals to null and
    // might_contain(null, x) is null: coalesce routes the whole batch
    // to the proven-new branch instead of silently dropping every row
    val provenNew = batch.filter(coalesce(!might, lit(true)))
    val confirmedNew = batch.filter(coalesce(might, lit(false)))
      .join(standing.distinct(), Seq("h"), "left_anti")
    provenNew.select(col("doc_id"))
      .unionAll(confirmedNew.select(col("doc_id")))
      .orderBy(col("doc_id"))
  }

  val oracle: Map[String, String] = Map(
    // same integer quality proxy, same literal tiers, same fan-out
    "mix_repeat_by_quality" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    n_chars * 100 // greatest(len(string_split(text, ' ')), 1) AS q
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, q,
        |    CASE WHEN q >= 556 THEN 3 WHEN q >= 540 THEN 2 ELSE 1 END
        |      AS repeats
        |  FROM t
        |)
        |SELECT doc_id, q AS quality, CAST(repeats AS BIGINT) AS repeats,
        |  unnest(generate_series(1, repeats)) AS epoch
        |FROM r ORDER BY doc_id, epoch""".stripMargin,
    "mix_temperature" ->
      """WITH c AS (
        |  SELECT source, count(*) AS n_total FROM documents GROUP BY source
        |), m AS (
        |  SELECT max(n_total) AS nm FROM c
        |), r AS (
        |  SELECT source, n_total,
        |    substr('0123456789abcdefg',
        |      CAST(greatest(floor(16 * sqrt(CAST(n_total AS DOUBLE) / nm)), 1) AS INT) + 1,
        |      1) AS thr
        |  FROM c, m
        |)
        |SELECT d.source, r.n_total, count(*) AS n_kept
        |FROM documents d JOIN r ON d.source = r.source
        |WHERE substr(md5(d.text), 1, 1) < r.thr
        |GROUP BY d.source, r.n_total
        |ORDER BY d.source""".stripMargin,
    "sample_hash" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE substr(md5(text), 1, 1) < '4'
        |ORDER BY doc_id""".stripMargin,
    // same integer counts, HUGEINT squares mirror, same double tree
    "mix_source_balance" ->
      """WITH w AS (
        |  SELECT source, count(*) AS w FROM documents GROUP BY source
        |), t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_sources,
        |    CAST(sum(w) AS BIGINT) AS total_docs,
        |    sum(w::HUGEINT * w::HUGEINT) AS sq
        |  FROM w
        |)
        |SELECT n_sources, total_docs,
        |  CAST(round(CAST(total_docs AS DOUBLE) *
        |    CAST(total_docs AS DOUBLE) / CAST(sq AS DOUBLE) * 1e3)
        |    AS BIGINT) AS ess_milli,
        |  CAST(round(CAST(total_docs AS DOUBLE) *
        |    CAST(total_docs AS DOUBLE) / (CAST(sq AS DOUBLE) *
        |    CAST(n_sources AS DOUBLE)) * 1e6) AS BIGINT)
        |    AS balance_micro
        |FROM t""".stripMargin,
    // Spark's xxhash64(doc_id, seed 42) replayed bit-exact in
    // HUGEINT; u mod 2^20 is congruent for signed/unsigned views
    "sample_weighted_hash" -> {
      import OracleXxh64._
      val base = chain(
        "SELECT doc_id, lang, least(n_chars, 200) AS w, " +
          s"${toUnsigned("doc_id")} AS u FROM documents",
        hashLongSteps("u", "42::HUGEINT", "s"))
      s"""SELECT doc_id, lang, CAST(w AS BIGINT) AS w
         |FROM ($base)
         |WHERE (sf5 % 1048576) * 200 < w * 1048576
         |ORDER BY doc_id""".stripMargin
    },
    // same per-language serpentine over the same total rank order
    "pack_balanced_bins" ->
      """WITH t AS (
        |  SELECT lang, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents
        |), r AS (
        |  SELECT lang, n_toks,
        |    (row_number() OVER (PARTITION BY lang
        |       ORDER BY n_toks DESC, doc_id) - 1) % 32 AS k
        |  FROM t
        |)
        |SELECT lang, CAST(CASE WHEN k < 16 THEN k ELSE 31 - k END AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS sum_toks
        |FROM r GROUP BY lang, bin ORDER BY lang, bin""".stripMargin,
    // same two-hex-digit thresholds, same audit aggregates
    "sample_split" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    CASE WHEN substr(md5(text), 1, 2) < 'cd' THEN 'train'
        |         WHEN substr(md5(text), 1, 2) < 'e7' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents
        |)
        |SELECT split, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_toks,
        |  bit_xor(doc_id) AS id_xor
        |FROM t GROUP BY split ORDER BY split""".stripMargin,
    "shuffle_global" ->
      """SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':epoch42') AS shuffle_key
        |FROM documents ORDER BY shuffle_key, doc_id""".stripMargin,
    "pack_token_budget" ->
      """SELECT lang, doc_id, len(string_split(text, ' ')) AS n_toks,
        |  CAST((sum(len(string_split(text, ' '))) OVER w
        |        - len(string_split(text, ' '))) // 4096 AS BIGINT) AS bin
        |FROM documents
        |WINDOW w AS (PARTITION BY lang ORDER BY doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY lang, doc_id""".stripMargin,
    "mix_weighted" ->
      """SELECT source, count(*) AS n_kept FROM documents
        |WHERE substr(md5(text), 1, 1) <
        |  CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 'c'
        |       WHEN source IN ('src5','src6','src7','src8','src9') THEN '8'
        |       ELSE '4' END
        |GROUP BY source ORDER BY source""".stripMargin,
    "sample_stratified" ->
      """WITH r AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(text), doc_id) AS rk
        |  FROM documents
        |)
        |SELECT lang, rk, doc_id FROM r WHERE rk <= 40
        |ORDER BY lang, rk""".stripMargin,
    // NOT EXISTS, not NOT IN: equality inside EXISTS has left-anti
    // null semantics (a NULL digest is ADMITTED, matching Spark's
    // left_anti), where NOT IN over a set containing any NULL empties
    // the whole result — latent on the non-null fixture (r7 review)
    "dedup_incremental" ->
      """WITH d AS (
        |  SELECT doc_id, source, md5(text) AS h FROM documents
        |), ex AS (
        |  SELECT DISTINCT h FROM d WHERE source <> 'src0'
        |)
        |SELECT min(doc_id) AS doc_id
        |FROM d WHERE source = 'src0'
        |  AND NOT EXISTS (SELECT 1 FROM ex WHERE ex.h = d.h)
        |GROUP BY h ORDER BY doc_id""".stripMargin,

    // the Bloom prefilter is an execution strategy, not a semantic: the
    // oracle is the plain exact anti-join admission (per-row, no
    // in-batch dedup — that is dedup_incremental's contract)
    "dedup_bloom_prefilter" ->
      """WITH d AS (
        |  SELECT doc_id, source, md5(text) AS h FROM documents
        |), ex AS (
        |  SELECT DISTINCT h FROM d WHERE source <> 'src0'
        |)
        |SELECT doc_id
        |FROM d WHERE source = 'src0'
        |  AND NOT EXISTS (SELECT 1 FROM ex WHERE ex.h = d.h)
        |ORDER BY doc_id""".stripMargin
  )
}
