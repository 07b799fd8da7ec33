package graft.operators

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.K — LLM-training-data pipeline extensions (north-star
  * mandate, BASELINE.json: dedup, similarity search, text analysis over
  * the `documents`/`embeddings` fixtures).
  *
  * Scale notes (100 TB):
  *  - exact dedup = hash-groupBy: one shuffle on the digest, map-side
  *    combine keeps shuffled bytes ∝ |distinct|;
  *  - MinHash/LSH: signatures computed per-row (narrow), candidates
  *    discovered by shuffling (band, signature) buckets — never an all-
  *    pairs comparison; exact Jaccard verified only on bucket cohabitants;
  *  - ANN: LSH-style bucketing via sign-random-projection would be the
  *    100 TB path; the brute-force top-k here is the correctness
  *    baseline and stays bounded by restricting the query side
  *    (nq queries × N candidates, broadcast the queries).
  */
object LlmQueries {

  /** (doc_id, p, dig): the md5 digest of every overlapping k-token
    * gram, 0-based start p — the ONE gram pipeline all substring
    * operators (and their DuckDB oracle mirrors) must stay in
    * lockstep with, so it exists exactly once (r10 review). Input
    * frame needs (doc_id, toks).
    */
  private def gramDigests(withToks: DataFrame, k: Int): DataFrame =
    withToks.filter(size(col("toks")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(toks) - $k), " +
          s"i -> md5(concat_ws(' ', slice(toks, i + 1, $k))))"))
        .as(Seq("p", "dig")))

  /** Exact substring-level dedup statistics over a (doc_id, text)
    * frame: per doc, the overlapping-k-token-gram count, how many of
    * those grams occur >= 2 times corpus-wide, the longest duplicated
    * token span (a run of r consecutive duplicated gram starts is an
    * r+k-1-token duplicated substring), and duplicated-gram coverage
    * in basis points. See the `dedup_substring` registration for the
    * full design note. Parameterized so the property spec can plant
    * substrings at any k.
    */
  /** Gap-and-island statistics of per-doc hit positions: given
    * (doc_id, p) rows (each a flagged k-gram start, p unique per doc),
    * returns (doc_id, n_hit, maxrun) where maxrun is the longest run
    * of CONSECUTIVE starts — callers add k-1 for the token-span
    * length. The one island walk `dedup_substring` and
    * `contamination_substring` share (r10 review); the window
    * partitions per doc, so its state is document-bounded.
    */
  private def islandSpans(hits: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    hits.select(col("doc_id"), col("p"))
      .withColumn("isl", col("p") - (row_number().over(w) - lit(1)))
      .groupBy(col("doc_id"), col("isl"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("doc_id"))
      .agg(sum(col("run")).as("n_hit"), max(col("run")).as("maxrun"))
  }

  def substringDupStats(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"gram width must be >= 2, got $k")
    val base = docs
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        greatest(size(col("toks")) - (k - 1), lit(0))
          .cast(LongType).as("n_grams"),
        col("toks"))
    val grams = gramDigests(base, k)
    // grams occurring >= 2 times anywhere (count, not distinct-doc
    // count: in-doc repetition dedups too, and a plain count is one
    // map-combined aggregate instead of a distinct expansion)
    val dup = grams.groupBy(col("dig"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .select(col("dig"))
    val st = islandSpans(grams.join(dup, Seq("dig")))
    base.join(st, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_dup_grams"),
        when(col("maxrun").isNotNull, col("maxrun") + (k - 1))
          .otherwise(0L).cast(LongType).as("max_dup_span"),
        when(col("n_grams") > 0,
          expr(s"coalesce(n_hit, 0L) * 10000L div n_grams"))
          .otherwise(0L).as("dup_bp"))
      .orderBy(col("doc_id"))
  }

  /** Exact substring-level dedup REMOVAL over a (doc_id, text) frame —
    * the materializing companion of [[substringDupStats]] (Lee et al.
    * 2022 removes the duplicated spans, not just measures them). The
    * globally FIRST occurrence of each k-gram (min (doc_id, start),
    * the dedup_chunk_global total order) is canonical; every token
    * covered by a NON-canonical occurrence of any gram is dropped;
    * docs are rebuilt from surviving tokens in order and the output
    * carries md5(rebuilt) — byte-exact reassembly proof without
    * shipping corpus text. Scale shape: one min-struct aggregate per
    * digest (map-combined — no per-digest window, so a stop-word-ish
    * hot gram never funnels through one sort task), a ×k span
    * expansion of non-canonical occurrences only, one (doc, position)
    * anti join, and a document-bounded regroup.
    */
  def substringRemove(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"gram width must be >= 2, got $k")
    val base = docs.withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast(LongType).as("n_toks"))
    val grams = gramDigests(base, k)
    // "duplicated and not canonical" WITHOUT a per-digest window
    // (r10): the canonical occurrence is min(struct(doc_id, p)) — a
    // map-combined aggregate — and every occurrence that differs from
    // it is exactly the window spelling's rn >= 2 set. The CANONICAL
    // SELECTION is now skew-free (one 16-byte struct per digest
    // through the shuffle); the join back of occurrences to their
    // digest's canonical row still concentrates a hot gram in one
    // join partition, but a skewed equi-join partition is
    // AQE-splittable where a window partition is not — that split is
    // the actual win over row_number under skew.
    val canon = grams.groupBy(col("dig"))
      .agg(min(struct(col("doc_id"), col("p"))).as("c"))
    val cov = grams.join(canon, Seq("dig"))
      .filter(!(col("doc_id") === col("c.doc_id") && col("p") === col("c.p")))
      .select(col("doc_id"),
        explode(expr(s"sequence(p, p + ${k - 1})")).as("t"))
      .distinct()
    val toks = base.select(col("doc_id"),
      posexplode(col("toks")).as(Seq("t", "tok")))
    val st = toks.join(cov, Seq("doc_id", "t"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("t"), col("tok")))),
          x => x.getField("tok")), " ")).as("h"))
    base.select(col("doc_id"), col("n_toks"))
      .join(st, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("h"), md5(lit(""))).as("h_rebuilt"))
      .orderBy(col("doc_id"))
  }

  /** Connected-component labels over the word-bigram near-dup pair
    * graph: (doc_id, cluster_id = min reachable doc_id), one row per
    * doc that appears in any near-dup pair. Shared by
    * `dedup_cc_clusters` (the cluster report) and
    * `dedup_near_canonical` (the corpus materialization).
    *
    * This is a BUILD step, not a pure plan: min-label propagation
    * (`GraphQueries.componentLabels`) iterates to an exact fixpoint
    * with one tiny `count()` action per extra round (each round is one
    * join over the edge list, which is ∝ the near-dup PAIR count —
    * orders of magnitude smaller than the corpus at any scale). The
    * build runs once per (JVM, input dir) and lands the label table as
    * a parquet artifact; queries then read the artifact — the same
    * offline-build/online-read split as `BuildIvfIndex`, and the shape
    * a 100 TB pipeline would use (a label table is a corpus artifact,
    * rebuilt when the corpus changes, not per query).
    *
    * A cloned session (shared context, own SQLConf) scopes a small
    * shuffle-partition count to the propagation stage, exactly the
    * knob a cluster job would set between the corpus-sized discovery
    * stage and the edge-sized iterative stage.
    */
  private def ccLabels(s: SparkSession, d: String): DataFrame =
    parquet(s, graft.TempDirs.once("cc_labels", d) { dir =>
      val cc = s.newSession()
      cc.conf.set("spark.sql.shuffle.partitions", "8")
      val pairs = SimilarityQueries.ngramCandidatePairs(cc, d)
        .select(col("doc_a"), col("doc_b"))
      GraphQueries.componentLabels(pairs, "dedup_cc_clusters")(
        _.select(col("v").as("doc_id"), col("label").as("cluster_id"))
          .write.mode("overwrite").parquet(dir))
    })

  /** (doc_id, gram) over distinct word n-grams per doc, materialized
    * once per (JVM, input dir) as a parquet artifact. Gram tables are
    * referenced by multiple branches of their consumers
    * (`text_df_quality` joins the table against its own df aggregate;
    * `contamination_ngram` splits it into bench/corpus sides), and
    * Spark does no cross-branch common-subplan reuse — without
    * materialization the corpus-wide tokenize+explode (the dominant
    * stage) runs once PER branch. A `persist()` would fix the
    * recompute but leak cached blocks past the query's action; the
    * artifact releases nothing into the shared context and is the
    * 100 TB shape anyway (a gram/df table is a corpus artifact,
    * rebuilt when the corpus changes, not per query).
    */
  private def gramTable(s: SparkSession, d: String, key: String,
                        n: Int): DataFrame =
    artifact(s, key, d) {
      documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"), explode(array_distinct(expr(
          s"transform(sequence(1, greatest(size(toks) - ${n - 1}, 1)), " +
            s"i -> concat_ws(' ', ${(0 until n).map(j => s"toks[i + ${j - 1}]").mkString(", ")}))")))
          .as("gram"))
    }

  private def bigramTable(s: SparkSession, d: String): DataFrame =
    gramTable(s, d, "grams2", 2)
  private def fourgramTable(s: SparkSession, d: String): DataFrame =
    gramTable(s, d, "grams4", 4)

  val queries: Map[String, Q] = Map(
    // Per-language corpus statistics.
    "text_stats" -> ((s, d) =>
      documents(s, d)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          (sum(col("n_chars")).cast(DoubleType) / count(lit(1))).as("avg_chars"),
          sum(size(split(col("text"), " "))).as("total_toks"))
        .orderBy(col("lang"))),

    // N-gram NOVELTY profile (r11): per document, how many of its
    // distinct 3-token grams are FIRST introduced by it (min doc_id
    // over the corpus == this doc) — the curation signal behind
    // "diminishing novelty" dedup ordering: near-duplicate and
    // boilerplate-heavy docs score low, fresh content scores high.
    // Scale shape: one distinct per (doc, digest), one min-per-digest
    // map-combined aggregate on the digest key, one join back — all
    // digest-keyed, raw text never shuffles; novel_bp is exact
    // integer basis points.
    "text_ngram_novelty" -> ((s, d) => {
      val base = documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"), col("toks"))
      val grams = gramDigests(base, 3)
        .select(col("doc_id"), col("dig")).distinct()
      val first = grams.groupBy(col("dig"))
        .agg(min(col("doc_id")).as("first_doc"))
      val st = grams.join(first, Seq("dig"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
      base.select(col("doc_id"))
        .join(st, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          when(col("n_grams").isNotNull,
            expr("n_novel * 10000L div n_grams")).otherwise(0L)
            .as("novel_bp"))
        .orderBy(col("doc_id"))
    }),

    // Asymmetric near-dup via CONTAINMENT (r11): Jaccard misses
    // quote-inclusion pairs (a short doc fully embedded in a long one
    // scores low on union but 100% on containment), so curation
    // pipelines run both. Candidates are blocked on shared RARE grams
    // (corpus df in [2, 5]): rarity self-limits the pair volume — each
    // qualifying gram contributes at most C(5,2) = 10 pairs at ANY
    // corpus size, and common/boilerplate grams contribute none —
    // then the exact distinct-gram sets ride the bounded candidate
    // join (MEASURED against the id-only alternative — see the A/B
    // note below) and containment_bp = |A∩B| · 10⁴ div min(|A|,|B|)
    // gates at 80%.
    "dedup_containment" -> ((s, d) => {
      // 60-bit digest: the md5's first 15 hex chars as a LONG — 8 B
      // instead of a 32 B string through every shuffle and intersect
      // (4.5x/decade slope without it, measured at sf1); collision
      // odds over 10^7 grams are ~(n²/2^61), negligible — the
      // hashed-shingle Jaccard stance. conv/'0x'-cast parse the same
      // hex in both engines (values < 2^60 never sign-wrap).
      // Durable artifact (r13): the distinct gram table feeds SIX
      // plan legs (ng, rare, cand×2, per-pair occurrences×2) — derived
      // inline, Spark re-runs the explode+md5 for each leg and the
      // corpus is tokenized six times (the contamination_ngram lesson);
      // one parquet build amortizes it across legs AND invocations.
      val gramDir = graft.TempDirs.durableOnce("contain_grams", d,
        graft.TempDirs.fingerprintOf(s"$d/documents.parquet")) { dir =>
        gramDigests(
          documents(s, d)
            .withColumn("toks", split(col("text"), " "))
            .select(col("doc_id"), col("toks")), 3)
          .select(col("doc_id"),
            expr("cast(conv(substring(dig, 1, 15), 16, 10) as bigint)")
              .as("dig"))
          .distinct()
          .write.mode("overwrite").parquet(dir)
      }
      val grams = s.read.schema("doc_id BIGINT, dig BIGINT")
        .parquet(gramDir)
      val rare = grams.groupBy(col("dig"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, 5))
        .select(col("dig"))
      val cand = grams.join(rare, Seq("dig")).as("a")
        .join(grams.join(rare, Seq("dig")).as("b"),
          col("a.dig") === col("b.dig") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      // Payload A/B, MEASURED (r12 VERDICT task 4; quiet box, warm
      // run 2, both variants on the shared artifact): gset
      // carry-through 1.02 s sf0.1 / 3.38 s sf1 vs id-only
      // intersect-at-regroup 1.87 s sf0.1 / 8.2 s sf1 — the verdict's
      // hypothesis INVERTS. The id-only shape (broadcast-semi-join
      // grams to candidate docs, fan each pair to per-gram rows, join
      // on (doc_b, dig), count per pair) ships the same dig bytes but
      // as 2·ng 16 B ROWS per pair through a shuffle + regroup, and
      // the per-row shuffle overhead (hash/sort/agg state) exceeds
      // shipping those digs as two contiguous arrays riding bounded
      // joins. Candidate volume is rarity-bounded (≤ C(5,2) pairs per
      // qualifying gram), so the array carry is bounded too — the
      // gset shape is kept, now reading the artifact.
      val sets = grams.groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("dig"))).as("gset"))
      cand
        .join(sets.select(col("doc_id").as("doc_a"),
          col("gset").as("ga")), "doc_a")
        .join(sets.select(col("doc_id").as("doc_b"),
          col("gset").as("gb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          expr("size(array_intersect(ga, gb)) * 10000L " +
            "div least(size(ga), size(gb))").as("containment_bp"))
        .filter(col("containment_bp") >= 8000)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Exact-duplicate groups via md5 digest.
    "dedup_exact_text" -> ((s, d) =>
      documents(s, d)
        .groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
        .orderBy(col("h"))),

    // Global sub-document dedup (r7): the C4/RefinedWeb curation step
    // that whole-doc digests can't express — duplicated SPANS recur
    // across otherwise-distinct pages (boilerplate, quotes, templated
    // text). Documents split into non-overlapping 8-word chunks; every
    // chunk occurrence is ranked globally by (doc_id, position) and
    // only the FIRST survives (in-doc repeats dedup too, C4-style);
    // each doc is then rebuilt from its surviving chunks in order.
    // Output is (doc_id, n_chunks, n_kept, md5(rebuilt)) — the digest
    // proves byte-exact reassembly without shipping corpus text.
    // Scale shape: one explode + ONE shuffle on chunk text (the
    // global first-occurrence window) + a per-doc regroup; per-group
    // window state is O(1) (row_number) and regroup state is one
    // document — the only per-key buffers are document-bounded by
    // construction. At 100 TB the chunk table shuffles hashes + text
    // of each chunk once; exact, no sketch.
    "dedup_chunk_global" -> ((s, d) => {
      val docs = documents(s, d)
      val chunks = docs
        .withColumn("w", split(col("text"), " "))
        .select(col("doc_id"),
          expr("explode(sequence(0, (size(w)-1) div 8))").as("i"),
          col("w"))
        .select(col("doc_id"), col("i"),
          array_join(slice(col("w"), col("i") * 8 + 1, lit(8)), " ").as("chunk"))
      val wFirst = Window.partitionBy(col("chunk"))
        .orderBy(col("doc_id"), col("i"))
      // ALL chunks flow through the regroup (survivors flagged, not
      // filtered): n_chunks falls out of the same per-doc aggregate,
      // so the corpus text is scanned and split exactly ONCE — the r7
      // review caught the previous spelling re-reading documents a
      // second time just to derive n_chunks, then paying a join to
      // stitch it back (collect_list skips the nulls the `when` emits
      // for dropped chunks, so only survivors are reassembled)
      chunks
        .withColumn("rn", row_number().over(wFirst))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
          array_join(
            transform(
              array_sort(collect_list(when(col("rn") === 1,
                struct(col("i"), col("chunk"))))),
              x => x.getField("chunk")), " ").as("rtext"))
        .select(col("doc_id"), col("n_chunks"), col("n_kept"),
          md5(col("rtext")).as("h_rebuilt"))
        .orderBy(col("doc_id"))
    }),

    // Exact SUBSTRING-level dedup stats (r10): the Lee et al. 2022
    // ("Deduplicating Training Data Makes Language Models Better")
    // tier between chunk-global and semantic — duplicated spans at
    // ANY alignment, not just chunk boundaries. Every overlapping
    // k-token gram is digested; a gram occurring >= 2 times in the
    // corpus (cross-doc boilerplate OR in-doc repetition — the paper
    // dedups both) is duplicated; per doc the operator reports the
    // gram count, duplicated-gram count, the MAXIMAL duplicated token
    // span (gap-and-island over duplicated gram starts: a run of r
    // consecutive duplicated k-gram starts certifies an r+k-1-token
    // duplicated substring — the sorted-grams equivalent of the
    // paper's suffix-array span merge), and the basis-point coverage
    // gate. Scale shape: one explode (L grams/doc), ONE digest-keyed
    // shuffle for the global occurrence count (the md5 digest rides
    // the shuffle, never the gram text at production scale), an
    // id+digest equi join back, and a doc_id-partitioned window whose
    // state is bounded by document length — no suffix array, no
    // per-task corpus state. Oracle-paired exactly: both engines
    // compute identical md5 hex digests and integer span arithmetic.
    "dedup_substring" -> ((s, d) =>
      substringDupStats(documents(s, d), 10)),

    // The REMOVAL leg of substring dedup (r10): canonical-first-
    // survives span deletion + digest-proven reassembly — see
    // `substringRemove` for the design note. Oracle-paired exactly
    // (same md5 grams, same (doc_id, p) canonical order, same
    // reassembly digest).
    "dedup_substring_remove" -> ((s, d) =>
      substringRemove(documents(s, d), 10)),

    // Language routing + per-source quality gate.
    "text_lang_filter" -> ((s, d) =>
      documents(s, d)
        .filter(col("lang").isin("en", "de") &&
          col("n_chars").between(100L, 2000L))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))),

    // MinHash + LSH near-dup candidates (4 bands x 4 rows), verified
    // with exact Jaccard over distinct-shingle sets. ORACLE-PAIRED
    // (r11): the hashed-shingle sets land as a durable parquet
    // artifact both engines consume — the one string-domain hash
    // (xxhash64 over shingle text) is shared input, and EVERYTHING
    // downstream (the 16-permutation MinHashSigExpr fold, band
    // grouping, exact Jaccard, the 0.4 gate) is mirrored in DuckDB
    // HUGEINT arithmetic via OracleXxh64, so the codegen'd signature
    // expression itself is hash-checked. The oracle groups bands by
    // the raw 4-minima tuple where the engine groups by their 64-bit
    // digest — identical partitions up to a digest collision
    // (negligible, same stance as the hashed-shingle Jaccard note
    // below).
    "dedup_minhash" -> ((s, d) => {
      val hsetDir = graft.TempDirs.durableOnce("minhash_hsets", d,
        graft.TempDirs.fingerprintOf(s"$d/documents.parquet")) { dir =>
        graft.api.GraftOps.withShingleHashes(documents(s, d), "text")
          .select(col("doc_id"), col("hset"))
          .coalesce(1).write.mode("overwrite").parquet(dir)
      }
      // schema-explicit read: both engines consume THIS artifact, so
      // the oracle compare covers every step after the string hash.
      // Jaccard over 64-bit-hashed shingle sets == Jaccard over the
      // string sets up to negligible collision probability. At PB
      // scale with huge shingle sets, the alternative to carrying hset
      // through the band join is an id-only bucket join plus two
      // join-backs to the signature table; with hashed shingles the
      // payload is small enough that the carry-through plan shuffles
      // less in total.
      val hsets = s.read.schema("doc_id BIGINT, hset ARRAY<BIGINT>")
        .parquet(hsetDir)
        .select(col("doc_id").as("__id"), col("hset"))
      graft.api.GraftOps.minhashPairs(hsets, numPerm = 16, bands = 4,
          jaccardMin = 0.4)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Source-level similarity via the custom MinHashSketchAgg
    // TypedImperativeAggregate: each source's distinct-token set is
    // reduced to a 64-long mergeable sketch (map-side partial agg →
    // k longs per group through the shuffle, NEVER the token sets),
    // then pairwise Jaccard is estimated from position agreement.
    // ORACLE-PAIRED (r11): the distinct (source, token-hash) pairs
    // land as a durable artifact (min over duplicates == min over
    // distincts, so the distinct set determines the sketch exactly);
    // DuckDB mirrors the aggregate's 64 seeded XXH64.hashLong folds in
    // HUGEINT and recomputes the positional-agreement counts.
    // MinHashSketchSpec additionally checks the estimate against exact
    // Jaccard and the merge path against repartitioned runs.
    "source_minhash_sim" -> ((s, d) => {
      graft.TempDirs.durableOnce("srctok_hashes", d,
        graft.TempDirs.fingerprintOf(s"$d/documents.parquet")) { dir =>
        documents(s, d)
          .select(col("source"),
            explode(split(col("text"), " ")).as("tok"))
          .select(col("source"), xxhash64(col("tok")).as("h"))
          .distinct()
          .coalesce(1).write.mode("overwrite").parquet(dir)
      }
      val sketches = documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("source"))
        .agg(graft.functions.MinHashSketchAgg.sketch(col("tok")).as("sk"))
      sketches.select(col("source").as("src_a"), col("sk").as("ska"))
        .join(sketches.select(col("source").as("src_b"), col("sk").as("skb")),
          col("src_a") < col("src_b"))
        .select(col("src_a"), col("src_b"),
          size(filter(zip_with(col("ska"), col("skb"),
            (x, y) => x === y), b => b)).cast("long").as("agree64"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // Duplicate-cluster assembly: connected components over the
    // NEAR-dup pair graph (the word-bigram Jaccard >= 0.4 pairs from
    // SimilarityQueries — non-empty at every fixture scale, unlike the
    // exact-dup graph which is empty below sf0.1) via iterate-to-
    // fixpoint min-label propagation in a once-per-JVM BUILD step that
    // materializes the label table as a parquet artifact (see the
    // ccLabels scaladoc — this is deliberately NOT a single-action
    // pure plan; ClusterConvergenceSpec asserts a further round is a
    // no-op). Edge volume is linear in the pair count — near-dup
    // CLIQUES are never materialized (an exact-dup group contributes
    // its pairs, not k^2 clique edges). The DuckDB oracle computes the
    // same clusters by a COMPLETELY different algorithm (recursive-CTE
    // transitive closure + min reachable id) — algorithmic
    // double-entry bookkeeping. At 100 TB each round is one shuffle
    // on doc_id; rounds grow with cluster diameter, not corpus size.
    "dedup_cc_clusters" -> ((s, d) =>
      ccLabels(s, d).orderBy(col("doc_id"))),

    // Dedup materialization: keep exactly one canonical document per
    // content hash (the min-doc_id survivor) — the operator that
    // actually shrinks the training corpus.
    "dedup_keep_canonical" -> ((s, d) => {
      val keepers = documents(s, d)
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      documents(s, d)
        .join(keepers, "doc_id")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Brute-force exact top-1 cosine neighbor for a bounded query set
    // (vec_id < 10), id-only output (float scores never leave the plan —
    // SURVEY.md §5.3.4). Oracle-paired (r3): the codegen'd dot product
    // is bit-identical to DuckDB's list_reduce ordered fold (same
    // proof as sim_search_topk), so the ranking reproduces exactly.
    "sim_search_cosine" -> ((s, d) => {
      val emb = embeddings(s, d)
      // codegen'd fused dot product (graft.functions.DotProductExpr) —
      // same left-to-right summation as the interpreted fold
      def dotD(a: String, b: String) = graft.functions.DotProductExpr.dot(
        col(a).cast(ArrayType(DoubleType)), col(b).cast(ArrayType(DoubleType)))
      val queriesDf = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val cands = emb
        .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      val scored = broadcast(queriesDf).join(cands, col("q_id") =!= col("c_id"))
        .withColumn("cos", dotD("q_vec", "c_vec") /
          (sqrt(dotD("q_vec", "q_vec")) * sqrt(dotD("c_vec", "c_vec"))))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("c_id").asc)
      scored
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("q_id"), col("c_id").as("neighbor_id"))
        .orderBy(col("q_id"))
    }),

    // Near-dup canonical materialization: the corpus AFTER near-dup
    // removal — every doc not in any near-dup cluster plus the min-id
    // survivor of each cluster. Composes the CC labels with one anti
    // join against the corpus: the drop set (docs whose label is a
    // smaller id) is ∝ duplicates found, so the anti join broadcasts
    // at any realistic dup rate.
    "dedup_near_canonical" -> ((s, d) => {
      // the propagation shuffles live inside the ccLabels build; the
      // query side is one broadcast anti join against the artifact
      val losers = ccLabels(s, d)
        .filter(col("cluster_id") < col("doc_id"))
        .select(col("doc_id"))
      documents(s, d)
        .join(broadcast(losers), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // Corpus-statistics quality score (the CCNet-style idea of scoring
    // docs by how typical their vocabulary is): per doc, the mean
    // corpus document-frequency of its distinct word bigrams. Two
    // aggregates + one join, all keyed on the gram — at 100 TB the
    // grams are xxhash64'd to longs and the df table is itself a
    // first-class corpus artifact (built once, joined by every scoring
    // run); strings are kept here for the exact oracle pairing.
    "text_df_quality" -> ((s, d) => {
      // The (doc_id, distinct bigram) table feeds both the df build
      // side and the join probe side; a persist() here would leak
      // cached blocks past the query's action (no hook exists to
      // unpersist after the caller materializes). Instead the gram
      // table is written ONCE per (JVM, input dir) as a parquet
      // artifact — the corpus-statistics shape the scaladoc already
      // promises at 100 TB (the df table is a build-once corpus
      // artifact, joined by every scoring run), and both branches
      // share one columnar scan of it.
      val g = bigramTable(s, d)
      val dfTable = g.groupBy(col("gram"))
        .agg(count(lit(1)).as("df"))
      g.join(dfTable, "gram")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          expr("sum(df) div count(1)").as("mean_df"))
        .orderBy(col("doc_id"))
    }),

    // Benchmark-contamination check: training docs sharing any word
    // 4-gram with the held-out benchmark slice (doc_id % 97 == 0 —
    // deterministic, fixture-independent), with the count of distinct
    // shared grams as the contamination score. The benchmark gram set
    // is tiny relative to the corpus, so the join broadcasts it and
    // the corpus side streams map-only — at 100 TB the grams would be
    // xxhash64-hashed to longs before the join (the dedup_ngram
    // pattern); strings are kept here so the DuckDB oracle can pair
    // the result exactly.
    "contamination_ngram" -> ((s, d) => {
      // r3 driver bench found this query scanning + tokenizing +
      // exploding `documents` TWICE (bench side and corpus side — no
      // cross-branch subplan reuse); the shared 4-gram table is now a
      // once-per-JVM parquet artifact (same rationale as
      // text_df_quality's bigram table) so both sides read one
      // columnar scan with a doc_id % 97 pushdown filter each.
      val g = fourgramTable(s, d)
      val bench = g.filter(col("doc_id") % 97 === 0)
        .select(col("gram")).distinct()
      g.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(bench), "gram")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy(col("doc_id"))
    }),

    // SUBSTRING-level decontamination (r10): the GPT-3 appendix-C
    // method — flag a training document if any exact 13-token gram
    // also appears in the benchmark set (same %97 eval slice as
    // contamination_ngram), with the contaminated-span length
    // recovered by the dedup_substring gap-and-island walk. This is
    // the tier contamination_ngram's doc-level distinct-4-gram count
    // can't express: a verbatim benchmark sentence inside an
    // otherwise-clean document. Scale shape: eval digests are
    // benchmark-sized (broadcast); the train side is one gramDigests
    // scan + a digest equi join + a doc-bounded window.
    "contamination_substring" -> ((s, d) => {
      val base = documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"),
          greatest(size(col("toks")) - 12, lit(0))
            .cast(LongType).as("n_grams"),
          col("toks"))
      val grams = gramDigests(base, 13)
      val evalDigs = grams.filter(col("doc_id") % 97 === 0)
        .select(col("dig")).distinct()
      val st = islandSpans(grams.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(evalDigs), Seq("dig")))
      base.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), col("n_grams"))
        .join(st, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit_grams"),
          when(col("maxrun").isNotNull, col("maxrun") + 12)
            .otherwise(0L).cast(LongType).as("max_hit_span"),
          (coalesce(col("n_hit"), lit(0L)) > 0L).as("is_contaminated"))
        .orderBy(col("doc_id"))
    })
  )

  /** A `def`, not a `val`: the MinHash oracles splice in durable
    * artifact paths scoped to `OracleDir.current` (see its scaladoc),
    * so the SQL text must be rebuilt per dump.
    */
  def oracle: Map[String, String] = Map(
    // Hashed-shingle artifact in, then every engine step mirrored:
    // hashLong(·,42) → 16x hashInt(j,·) minima (OracleXxh64 HUGEINT
    // chains, bit-exact vs XXH64), band grouping by the 4-minima
    // tuple, exact Jaccard over the shared hsets, 0.4 gate.
    "dedup_minhash" -> {
      import OracleXxh64._
      val dir = graft.TempDirs.durable("minhash_hsets", graft.OracleDir.current)
      // r15 (r14 VERDICT task 8 — this was 13.4 s of the 42 s oracle
      // budget): the 12-round HUGEINT chains depend only on the
      // shingle hash value, never the doc — so they run once per
      // DISTINCT value (and per permutation) and join back to the
      // (doc, shingle) occurrences for the minima, instead of once
      // per occurrence. The fixture corpus repeats shingles ~100-600x
      // (sf0.01: 1.68 M occurrences, 16 245 distinct), so this is the
      // same arithmetic on ~1% of the rows; identical result by
      // construction (min over equal values is join-order-free).
      val uhash = chain(
        s"SELECT DISTINCT ${toUnsigned("h")} AS u FROM " +
          "(SELECT unnest(hset) AS h FROM art)",
        hashLongSteps("u", "42::HUGEINT", "a"))
      val perm = chain(
        s"SELECT u, af5, j FROM ($uhash) CROSS JOIN " +
          "generate_series(0, 15) g(j)",
        hashIntSteps("CAST(j AS HUGEINT)", "af5", "b"))
      s"""WITH art AS MATERIALIZED (
         |  SELECT doc_id, hset FROM read_parquet('$dir/*.parquet')
         |), ph AS MATERIALIZED (
         |  SELECT u, j, ${toSigned("bf5")} AS hv FROM ($perm)
         |), sigv AS (
         |  SELECT d.doc_id, ph.j, min(ph.hv) AS sv
         |  FROM (SELECT doc_id, ${toUnsigned("h")} AS u
         |        FROM (SELECT doc_id, unnest(hset) AS h FROM art)) d
         |  JOIN ph ON ph.u = d.u
         |  GROUP BY d.doc_id, ph.j
         |), bands AS (
         |  SELECT doc_id, j // 4 AS band, list(sv ORDER BY j) AS bs
         |  FROM sigv GROUP BY doc_id, j // 4
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bs = b.bs AND a.doc_id < b.doc_id
         |)
         |SELECT doc_a, doc_b FROM cand
         |JOIN art ha ON ha.doc_id = cand.doc_a
         |JOIN art hb ON hb.doc_id = cand.doc_b
         |WHERE CAST(len(list_intersect(ha.hset, hb.hset)) AS DOUBLE) /
         |      len(list_distinct(ha.hset || hb.hset)) >= 0.4
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    // Distinct (source, token-hash) artifact in, then the sketch's 64
    // seeded hashLong minima and the positional-agreement counts.
    "source_minhash_sim" -> {
      import OracleXxh64._
      val dir = graft.TempDirs.durable("srctok_hashes", graft.OracleDir.current)
      // r15: like dedup_minhash above, the 64 seeded chains depend
      // only on the token hash — run them per DISTINCT value (the
      // vocabulary is shared across sources: 617 artifact rows, 31
      // distinct hashes) and join back for the per-source minima
      val hashed = chain(
        s"SELECT u, sd FROM (SELECT DISTINCT ${toUnsigned("h")} AS u" +
          s" FROM art) CROSS JOIN generate_series(0, 63) g(sd)",
        hashLongSteps("u", "CAST(sd AS HUGEINT)", "c"))
      s"""WITH art AS MATERIALIZED (
         |  SELECT source, h FROM read_parquet('$dir/*.parquet')
         |), ph AS MATERIALIZED (
         |  SELECT u, sd, ${toSigned("cf5")} AS hv FROM ($hashed)
         |), sig AS (
         |  SELECT a.source, ph.sd, min(ph.hv) AS m
         |  FROM (SELECT source, ${toUnsigned("h")} AS u FROM art) a
         |  JOIN ph ON ph.u = a.u
         |  GROUP BY a.source, ph.sd
         |)
         |SELECT a.source AS src_a, b.source AS src_b,
         |  CAST(count(*) FILTER (WHERE a.m = b.m) AS BIGINT) AS agree64
         |FROM sig a JOIN sig b ON a.sd = b.sd AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    // same 13-token md5 grams, same eval slice, same island walk
    "contamination_substring" ->
      """WITH t AS MATERIALIZED (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), g AS MATERIALIZED (
        |  SELECT doc_id, i - 1 AS p,
        |    md5(array_to_string(toks[i:i+12], ' ')) AS dig
        |  FROM t, unnest(generate_series(1, len(toks) - 12)) AS u(i)
        |), ev AS MATERIALIZED (
        |  SELECT DISTINCT dig FROM g WHERE doc_id % 97 = 0
        |), h AS MATERIALIZED (
        |  SELECT g.doc_id, g.p,
        |    g.p - (row_number() OVER (PARTITION BY g.doc_id
        |      ORDER BY g.p) - 1) AS isl
        |  FROM g JOIN ev USING (dig) WHERE g.doc_id % 97 <> 0
        |), runs AS (
        |  SELECT doc_id, isl, count(*) AS run FROM h GROUP BY doc_id, isl
        |), st AS (
        |  SELECT doc_id, sum(run) AS n_hit, max(run) AS maxrun
        |  FROM runs GROUP BY doc_id
        |)
        |SELECT t.doc_id,
        |  CAST(greatest(len(t.toks) - 12, 0) AS BIGINT) AS n_grams,
        |  CAST(coalesce(st.n_hit, 0) AS BIGINT) AS n_hit_grams,
        |  CAST(CASE WHEN st.maxrun IS NOT NULL THEN st.maxrun + 12
        |    ELSE 0 END AS BIGINT) AS max_hit_span,
        |  coalesce(st.n_hit, 0) > 0 AS is_contaminated
        |FROM t LEFT JOIN st USING (doc_id)
        |WHERE t.doc_id % 97 <> 0
        |ORDER BY t.doc_id""".stripMargin,
    // same overlapping 10-token md5 grams, same count>=2 duplicate
    // rule, same gap-and-island span arithmetic — every stage integer
    // or md5-hex, so the pairing is exact; multiply-referenced CTEs
    // materialized (DuckDB would otherwise inline g into both the
    // HAVING scan and the join probe)
    "dedup_substring" ->
      """WITH t AS MATERIALIZED (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), g AS MATERIALIZED (
        |  SELECT doc_id, i - 1 AS p,
        |    md5(array_to_string(toks[i:i+9], ' ')) AS dig
        |  FROM t, unnest(generate_series(1, len(toks) - 9)) AS u(i)
        |), dup AS MATERIALIZED (
        |  SELECT dig FROM g GROUP BY dig HAVING count(*) >= 2
        |), occ AS (
        |  SELECT doc_id, p,
        |    p - (row_number() OVER (PARTITION BY doc_id ORDER BY p) - 1)
        |      AS isl
        |  FROM g JOIN dup USING (dig)
        |), runs AS (
        |  SELECT doc_id, isl, count(*) AS run FROM occ
        |  GROUP BY doc_id, isl
        |), st AS (
        |  SELECT doc_id, sum(run) AS n_dup, max(run) AS maxrun
        |  FROM runs GROUP BY doc_id
        |)
        |SELECT t.doc_id,
        |  CAST(greatest(len(t.toks) - 9, 0) AS BIGINT) AS n_grams,
        |  CAST(coalesce(st.n_dup, 0) AS BIGINT) AS n_dup_grams,
        |  CAST(CASE WHEN st.maxrun IS NOT NULL THEN st.maxrun + 9
        |    ELSE 0 END AS BIGINT) AS max_dup_span,
        |  CAST(CASE WHEN len(t.toks) > 9
        |    THEN coalesce(st.n_dup, 0) * 10000 // (len(t.toks) - 9)
        |    ELSE 0 END AS BIGINT) AS dup_bp
        |FROM t LEFT JOIN st USING (doc_id) ORDER BY doc_id""".stripMargin,
    // same grams, same per-digest (doc_id, p) canonical order, same
    // covered-position anti join and ordered reassembly digest
    "dedup_substring_remove" ->
      """WITH t AS MATERIALIZED (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), g AS MATERIALIZED (
        |  SELECT doc_id, i - 1 AS p,
        |    md5(array_to_string(toks[i:i+9], ' ')) AS dig
        |  FROM t, unnest(generate_series(1, len(toks) - 9)) AS u(i)
        |), r AS MATERIALIZED (
        |  SELECT doc_id, p,
        |    row_number() OVER (PARTITION BY dig ORDER BY doc_id, p) AS rn
        |  FROM g
        |), cov AS MATERIALIZED (
        |  SELECT DISTINCT r.doc_id, u.tt
        |  FROM r, unnest(generate_series(r.p, r.p + 9)) AS u(tt)
        |  WHERE r.rn >= 2
        |), tok AS MATERIALIZED (
        |  SELECT doc_id, i - 1 AS tt, toks[i] AS tok
        |  FROM t, unnest(generate_series(1, len(toks))) AS u(i)
        |), kept AS (
        |  SELECT tok.doc_id, tok.tt, tok.tok
        |  FROM tok LEFT JOIN cov
        |    ON cov.doc_id = tok.doc_id AND cov.tt = tok.tt
        |  WHERE cov.tt IS NULL
        |), st AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    md5(string_agg(tok, ' ' ORDER BY tt)) AS h
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_toks,
        |  CAST(coalesce(st.n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(st.h, md5('')) AS h_rebuilt
        |FROM t LEFT JOIN st USING (doc_id) ORDER BY doc_id""".stripMargin,
    "dedup_near_canonical" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, n_chars // 8 AS len_bkt, string_split(text, ' ') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, len_bkt, list_distinct(list_transform(
        |    generate_series(1, greatest(len(toks) - 1, 1)),
        |    i -> concat_ws(' ', toks[i], toks[i + 1]))) AS grams FROM t
        |), p AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db
        |  FROM g a JOIN g b ON a.len_bkt = b.len_bkt AND a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.grams, b.grams)) * 5 >=
        |        len(list_distinct(list_concat(a.grams, b.grams))) * 2
        |), e AS (
        |  SELECT da AS src, db AS dst FROM p UNION SELECT db, da FROM p
        |), reach AS (
        |  SELECT src AS v, src AS u FROM e
        |  UNION
        |  SELECT r.v, e.dst FROM reach r JOIN e ON e.src = r.u
        |), lab AS (
        |  SELECT v AS doc_id, min(u) AS cluster_id FROM reach GROUP BY v
        |)
        |SELECT d.doc_id, d.lang, d.source FROM documents d
        |WHERE d.doc_id NOT IN (
        |  SELECT doc_id FROM lab WHERE cluster_id < doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "text_df_quality" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(toks) - 1, 1)),
        |    i -> concat_ws(' ', toks[i], toks[i + 1])))) AS gram
        |  FROM t
        |), f AS (
        |  SELECT gram, count(*) AS df FROM g GROUP BY gram
        |)
        |SELECT g.doc_id AS doc_id, count(*) AS n_grams,
        |  CAST(sum(f.df) AS BIGINT) // count(*) AS mean_df
        |FROM g JOIN f ON g.gram = f.gram
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
    "contamination_ngram" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(toks) - 3, 1)),
        |    i -> concat_ws(' ', toks[i], toks[i + 1],
        |                   toks[i + 2], toks[i + 3])))) AS gram
        |  FROM t
        |), bench AS (
        |  SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0
        |)
        |SELECT g.doc_id AS doc_id, count(*) AS n_shared
        |FROM g JOIN bench ON g.gram = bench.gram
        |WHERE g.doc_id % 97 <> 0
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
    "text_stats" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_toks
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "dedup_exact_text" ->
      """SELECT md5(text) AS h, count(*) AS n_copies, min(doc_id) AS keeper
        |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin,
    // same 3-token grams, same df-in-[2,5] rarity block, same exact
    // integer containment gate
    "dedup_containment" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), g AS MATERIALIZED (
        |  SELECT DISTINCT doc_id,
        |    ('0x' || substr(md5(array_to_string(toks[i:i+2], ' ')), 1, 15))::BIGINT AS dig
        |  FROM t, unnest(generate_series(1, len(toks) - 2)) AS u(i)
        |), sets AS MATERIALIZED (
        |  SELECT doc_id, list_sort(list(dig)) AS gset, count(*) AS ng
        |  FROM g GROUP BY doc_id
        |), rare AS (
        |  SELECT dig FROM g GROUP BY dig HAVING count(*) BETWEEN 2 AND 5
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM g a JOIN rare USING (dig)
        |  JOIN g b ON a.dig = b.dig AND a.doc_id < b.doc_id
        |)
        |SELECT doc_a, doc_b, containment_bp FROM (
        |  SELECT doc_a, doc_b,
        |    CAST(len(list_intersect(sa.gset, sb.gset)) * 10000
        |      // least(sa.ng, sb.ng) AS BIGINT) AS containment_bp
        |  FROM cand
        |  JOIN sets sa ON sa.doc_id = cand.doc_a
        |  JOIN sets sb ON sb.doc_id = cand.doc_b) s
        |WHERE containment_bp >= 8000
        |ORDER BY doc_a, doc_b""".stripMargin,
    // same 3-token md5 grams (the gramDigests pipeline), same
    // min-doc_id first-introduction rule, same integer basis points
    "text_ngram_novelty" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), g AS (
        |  SELECT DISTINCT doc_id,
        |    md5(array_to_string(toks[i:i+2], ' ')) AS dig
        |  FROM t, unnest(generate_series(1, len(toks) - 2)) AS u(i)
        |), f AS (
        |  SELECT dig, min(doc_id) AS first_doc FROM g GROUP BY dig
        |), st AS (
        |  SELECT g.doc_id, count(*) AS n_grams,
        |    sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS n_novel
        |  FROM g JOIN f USING (dig) GROUP BY g.doc_id
        |)
        |SELECT t.doc_id,
        |  CAST(coalesce(st.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(coalesce(st.n_novel, 0) AS BIGINT) AS n_novel,
        |  CAST(CASE WHEN st.n_grams IS NOT NULL
        |       THEN st.n_novel * 10000 // st.n_grams ELSE 0 END AS BIGINT)
        |    AS novel_bp
        |FROM t LEFT JOIN st ON t.doc_id = st.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    // global first-occurrence chunk dedup + per-doc reassembly; the
    // rebuilt-text digest proves byte-exact reassembly cross-engine
    "dedup_chunk_global" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |), c AS (
        |  SELECT doc_id, unnest(generate_series(0, (len(w)-1) // 8)) AS i, w
        |  FROM t
        |), ch AS (
        |  SELECT doc_id, i,
        |    array_to_string(list_slice(w, 8*i + 1, 8*i + 8), ' ') AS chunk
        |  FROM c
        |), kept AS (
        |  SELECT doc_id, i, chunk FROM (
        |    SELECT *, row_number() OVER (PARTITION BY chunk
        |      ORDER BY doc_id, i) AS rn FROM ch) x
        |  WHERE rn = 1
        |), reb AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(chunk, ' ' ORDER BY i) AS rtext
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT t.doc_id,
        |  CAST((len(t.w)-1) // 8 + 1 AS BIGINT) AS n_chunks,
        |  COALESCE(reb.n_kept, 0) AS n_kept,
        |  md5(COALESCE(reb.rtext, '')) AS h_rebuilt
        |FROM t LEFT JOIN reb ON t.doc_id = reb.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    "text_lang_filter" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE lang IN ('en', 'de') AND n_chars BETWEEN 100 AND 2000
        |ORDER BY doc_id""".stripMargin,
    "dedup_cc_clusters" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, n_chars // 8 AS len_bkt, string_split(text, ' ') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, len_bkt, list_distinct(list_transform(
        |    generate_series(1, greatest(len(toks) - 1, 1)),
        |    i -> concat_ws(' ', toks[i], toks[i + 1]))) AS grams FROM t
        |), p AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db
        |  FROM g a JOIN g b ON a.len_bkt = b.len_bkt AND a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.grams, b.grams)) * 5 >=
        |        len(list_distinct(list_concat(a.grams, b.grams))) * 2
        |), e AS (
        |  SELECT da AS src, db AS dst FROM p UNION SELECT db, da FROM p
        |), reach AS (
        |  SELECT src AS v, src AS u FROM e
        |  UNION
        |  SELECT r.v, e.dst FROM reach r JOIN e ON e.src = r.u
        |)
        |SELECT v AS doc_id, min(u) AS cluster_id FROM reach GROUP BY v
        |ORDER BY doc_id""".stripMargin,
    "dedup_keep_canonical" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id IN (
        |  SELECT min(doc_id) FROM documents GROUP BY md5(text))
        |ORDER BY doc_id""".stripMargin,
    "sim_search_cosine" ->
      s"""WITH q AS (
         |  SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10
         |), scored AS (
         |  SELECT q.q_id, c.vec_id AS c_id,
         |    ${SimilarityQueries.duckCos("q.q_vec", "c.embedding")} AS cos
         |  FROM q JOIN embeddings c ON c.vec_id <> q.q_id
         |), ranked AS (
         |  SELECT q_id, c_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rn
         |  FROM scored)
         |SELECT q_id, c_id AS neighbor_id FROM ranked
         |WHERE rn = 1 ORDER BY q_id""".stripMargin
  )
}
