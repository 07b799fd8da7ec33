package graft.operators

import graft.Tables._
import graft.api.GraftOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline (north-star
  * mandate, BASELINE.json: language-ID, quality scoring, token counting,
  * document fingerprinting over `documents`). The reference
  * (`/root/reference/README.md:1-2`) contains no code; this surface is
  * derived per SURVEY.md §0/§2.K.
  *
  * Determinism: every score is integer arithmetic (counts, basis points
  * via integer division, modular rolling hash) so the DuckDB oracle
  * hash-matches bit-for-bit — no float ratios (SURVEY.md §5.3).
  *
  * Scale notes (100 TB): all four are narrow per-row map stages followed
  * by at most one aggregation — no joins, no skew risk; the only shuffle
  * is the final ORDER BY (and at scale you would sort within partitions
  * or skip the global sort entirely).
  */
object TextQueries {

  /** Marker-token profiles for the n-gram/stopword language-ID
    * heuristic. The fixture corpus is synthetic shared-vocabulary text,
    * so the profiles are over that vocabulary; with real corpora these
    * would be per-language stopword lists (the operator shape — score
    * per profile, argmax with deterministic tie-break — is identical).
    */
  private val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "fast", "slow", "big", "small"),
    "de" -> Seq("der", "die", "das", "und", "table", "row"),
    "es" -> Seq("el", "la", "los", "query", "data", "column"),
    "fr" -> Seq("le", "la", "les", "scan", "merge", "join"))

  /** Corpus bigram language-model tables — the statistics behind
    * `text_lm_score`, materialized once per (JVM, input dir) like the
    * gram/label tables (SURVEY §3.3): an LM is a corpus ARTIFACT,
    * rebuilt when the corpus changes, not per query. `lm_bigrams`
    * holds (w1, w2, c) observed word-bigram counts; the context
    * counts c(w1,·) derive from it by one tiny aggregate, and
    * `lm_vocab` holds the single-row distinct-token count V used by
    * add-one smoothing. Both builds are independent (no nested
    * build).
    */
  private def lmBigrams(s: org.apache.spark.sql.SparkSession,
                        d: String): org.apache.spark.sql.DataFrame =
    artifact(s, "lm_bigrams", d) {
      documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 2)
        .select(explode(expr(bigramStructExpr)).as("bg"))
        .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .agg(count(lit(1)).as("c"))
    }

  private def lmVocab(s: org.apache.spark.sql.SparkSession,
                      d: String): org.apache.spark.sql.DataFrame =
    artifact(s, "lm_vocab", d) {
      documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .agg(countDistinct(col("w")).as("vocab"))
    }

  /** Documents plus the integer score of the top-fraction quality
    * gates: 20000 − stopword bp − short-token bp (higher = better),
    * from the same `qualityScore` columns as `text_quality_score`.
    */
  private def qualityGateScore(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    GraftOps.qualityScore(docs, "text")
      .withColumn("score", expr("20000 - stop_bp - short_bp"))

  /** Word-bigram struct generator over a `toks` column — the ONE
    * expression both the `lm_bigrams` artifact build and the
    * `text_lm_score` scoring pass use: if the two ever tokenized
    * differently, doc bigrams would silently stop matching the
    * materialized LM keys and scores would drift (r7 review).
    * In-bounds by construction (callers filter size(toks) >= 2).
    */
  private val bigramStructExpr =
    "transform(sequence(1, size(toks) - 1), " +
      "i -> struct(toks[i - 1] AS w1, toks[i] AS w2))"

  /** The per-doc score table as a build-once ARTIFACT: the CCNet
    * bucketing operators consume scores the way production does — a
    * scored corpus is computed once and every downstream gate reads
    * it — so the bucketing queries measure the BUCKETING, not a
    * rescoring. `text_lm_score` itself keeps computing live (scoring
    * IS that operator).
    */
  private def lmScoresArtifact(s: org.apache.spark.sql.SparkSession,
                               d: String): org.apache.spark.sql.DataFrame =
    artifact(s, "lm_scores", d)(lmScores(s, d))

  /** Per-doc bigram-LM scores (doc_id, n_bigrams, bits_mbits) —
    * shared by `text_lm_score` and the CCNet bucketing (r8 factored
    * out of the former verbatim).
    */
  private def lmScores(s: org.apache.spark.sql.SparkSession,
                       d: String): org.apache.spark.sql.DataFrame = {
    val bg = lmBigrams(s, d)
    val cu = bg.groupBy(col("w1")).agg(sum(col("c")).as("cu"))
    val docBigrams = documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(bigramStructExpr)).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    docBigrams
      .join(bg, Seq("w1", "w2"))
      .join(cu, Seq("w1"))
      .crossJoin(lmVocab(s, d))
      .withColumn("bits",
        -log2((col("c") + 1).cast("double") /
          (col("cu") + col("vocab")).cast("double")))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(
        struct(col("w1"), col("w2"), col("bits")))).as("bs"),
        count(lit(1)).as("n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("cast(round(aggregate(bs, cast(0.0 as double), " +
          "(acc, e) -> acc + e.bits) / n_bigrams * 1000) as bigint)")
          .as("bits_mbits"))
  }

  val queries: Map[String, Q] = Map(
    // Corpus bigram-LM quality score (r6): mean bits per bigram under
    // an add-one-smoothed word-bigram model of the corpus itself —
    // the CCNet/KenLM-style perplexity gate every pretraining
    // pipeline runs (gibberish scores high, fluent-for-this-corpus
    // text scores low). bits(w1 w2) = -log2((c(w1,w2)+1)/(c(w1,·)+V)).
    // Scale shape: LM tables are corpus artifacts (one groupBy each,
    // built once); scoring joins the exploded per-doc bigrams to the
    // count tables on high-cardinality well-spread keys, and the
    // per-doc fold state is bounded by ONE document's bigram list (a
    // per-ROW payload, not a per-key history). Oracle-exact: the
    // per-bigram doubles fold in (w1, w2)-sorted order (the
    // mm_byte_stats ordered-fold proof) and surface only as rounded
    // integer millibits.
    "text_lm_score" -> ((s, d) => lmScores(s, d).orderBy(col("doc_id"))),

    // CCNet-style perplexity bucketing (r8): per-language TERCILES of
    // the bigram-LM score route each doc to head/middle/tail — the
    // published CCNet recipe's quality trisection (head = most fluent
    // third). Terciles come from ntile(3) over the (score, doc_id)
    // total order, NOT percentile_disc: ntile's equal-split algorithm
    // is SQL-standard-identical in both engines, where disc-quantile
    // index conventions can differ by one element and break the hash.
    // Output is the per-(lang, bucket) audit row. Scale shape: the LM
    // score pipeline (gram tables are build-once artifacts) + one
    // lang-partitioned rank window + a 15-row aggregate.
    "text_ccnet_buckets" -> ((s, d) => {
      val sc = lmScoresArtifact(s, d)
        .select(col("doc_id"), col("bits_mbits"))
        .join(documents(s, d).select(col("doc_id"), col("lang")), "doc_id")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("bits_mbits"), col("doc_id"))
      sc.withColumn("tile", ntile(3).over(w))
        .withColumn("bucket",
          when(col("tile") === 1, "head")
            .when(col("tile") === 2, "middle").otherwise("tail"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("bits_mbits")).as("min_mbits"),
          max(col("bits_mbits")).as("max_mbits"))
        .orderBy(col("lang"), col("bucket"))
    }),

    // CCNet bucketing via SAMPLED thresholds (r9) — the 100 TB
    // spelling of text_ccnet_buckets. The exact ntile(3) trisection
    // sorts each WHOLE language in one task (a per-lang total-order
    // window: correct, but the full-sort plan a 100 TB corpus cannot
    // afford); the published CCNet recipe instead fits tercile CUTS on
    // a sample and assigns buckets map-side. Here the sample is the
    // deterministic 25% content-hash slice (the sample_hash split), the
    // cuts are exact percentile_disc values over that sample — both
    // engine-reproducible, so this stays oracle-paired where a
    // percentile_approx spelling could not be — and assignment is a
    // broadcast join + two comparisons: no total order, no per-lang
    // sort, the only wide ops are the tiny per-lang cut aggregation
    // and the final 15-row audit. Bucket boundaries differ slightly
    // from the exact terciles (that is the recipe's documented
    // trade), deterministically so.
    "text_ccnet_sampled" -> ((s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("lang"),
        substring(md5(col("text")), 1, 1).as("hx"))
      val sc = lmScoresArtifact(s, d)
        .select(col("doc_id"), col("bits_mbits"))
        .join(docs, "doc_id")
      val cuts = sc.filter(col("hx") < "4")
        .groupBy(col("lang"))
        .agg(
          expr("percentile_disc(0.3333333333333333) " +
            "WITHIN GROUP (ORDER BY bits_mbits)").as("t1"),
          expr("percentile_disc(0.6666666666666666) " +
            "WITHIN GROUP (ORDER BY bits_mbits)").as("t2"))
      sc.join(broadcast(cuts), "lang")
        .withColumn("bucket",
          when(col("bits_mbits") <= col("t1"), "head")
            .when(col("bits_mbits") <= col("t2"), "middle")
            .otherwise("tail"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("bits_mbits")).as("min_mbits"),
          max(col("bits_mbits")).as("max_mbits"))
        .orderBy(col("lang"), col("bucket"))
    }),

    // Language-ID: score text against each profile, pick argmax.
    // Tie-break (r7 review: the comment previously misstated it as
    // lang ASC): the descending struct sort compares (score, lang)
    // lexicographically DESC, so equal scores resolve to the
    // lexicographically LARGEST lang — the oracle's list_reverse_sort
    // does the identical thing, which is what makes ties engine-exact.
    "text_langid" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val scores = profiles.map { case (lang, words) =>
        val hits = size(array_intersect(
          array_distinct(toks), array(words.map(lit): _*)))
        struct(hits.as("score"), lit(lang).as("lang"))
      }
      documents(s, d)
        .withColumn("best",
          sort_array(array(scores: _*), asc = false).getItem(0))
        .select(col("doc_id"), col("best.lang").as("pred_lang"),
          col("best.score").as("score"))
        .orderBy(col("doc_id"))
    }),

    // Cohen's kappa of the language-ID heuristic against the labeled
    // lang column (r12): chance-corrected agreement — the standard
    // classifier-vs-truth audit run before trusting an automatic
    // labeler for routing/filtering (raw accuracy flatters any
    // skewed-prior classifier; kappa subtracts the chance floor).
    // EXACT until one division: kappa = (N·Σdiag − Σ r_l·p_l) /
    // (N² − Σ r_l·p_l) on pure integer confusion-matrix marginals
    // (no sqrt, no transcendental), micro-units out. Scale: one
    // (truth, pred) count shuffle over |langs|² groups, then
    // marginal joins on the ≤25-row matrix — corpus size only
    // enters the first map-combined count.
    "text_langid_kappa" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val scores = profiles.map { case (lang, words) =>
        val hits = size(array_intersect(
          array_distinct(toks), array(words.map(lit): _*)))
        struct(hits.as("score"), lit(lang).as("lang"))
      }
      val cm = documents(s, d)
        .withColumn("best",
          sort_array(array(scores: _*), asc = false).getItem(0))
        .select(col("lang").as("truth"), col("best.lang").as("pred"))
        .groupBy(col("truth"), col("pred")).agg(count(lit(1)).as("c"))
      val agree = cm.agg(sum(col("c")).as("n"),
        sum(when(col("truth") === col("pred"), col("c")).otherwise(0L))
          .as("diag"))
      val rc = cm.groupBy(col("truth")).agg(sum(col("c")).as("r"))
      val pc = cm.groupBy(col("pred")).agg(sum(col("c")).as("p"))
      val pe = rc.join(pc, col("truth") === col("pred"))
        .agg(coalesce(sum(col("r") * col("p")), lit(0L)).as("rp"))
      agree.crossJoin(pe)
        .select(col("n"), col("diag"),
          expr("cast(round((cast(n as double) * cast(diag as double) - " +
            "cast(rp as double)) / " +
            "(cast(n as double) * cast(n as double) - " +
            "cast(rp as double)) * 1e6) as bigint)").as("kappa_micro"))
    }),

    // Quality scoring: token count, mean token length (centi-chars),
    // stopword ratio and short-token ratio in basis points, plus a
    // boolean gate — all integer math.
    "text_quality_score" -> ((s, d) =>
      GraftOps.qualityScore(documents(s, d), "text")
        .select(col("doc_id"), col("tok_cnt"), col("mean_tok_len_c"),
          col("stop_bp"), col("short_bp"), col("passes_gate"))
        .orderBy(col("doc_id"))),

    // Per-source relative quality gate (r7): keep each source's top
    // 30% by quality score. Absolute thresholds over- or under-prune
    // when source quality DISTRIBUTIONS differ (a clean source's worst
    // doc can beat a crawl's best) — production curation gates
    // per-source. Score is the integer complement of the stopword +
    // short-token basis points (higher = better), the keep count is
    // ceil(0.3·n_src) in exact integer arithmetic, and the rank order
    // (score desc, doc_id asc) is total — engine-exact row-level
    // output. Both windows (rank + per-source count) share one
    // source-partitioned exchange.
    "text_quality_topfrac" -> ((s, d) => {
      val wRank = Window.partitionBy(col("source"))
        .orderBy(col("score").desc, col("doc_id").asc)
      val wSrc = Window.partitionBy(col("source"))
      qualityGateScore(documents(s, d))
        .withColumn("rk", row_number().over(wRank))
        .withColumn("n_src", count(lit(1)).over(wSrc))
        .filter(col("rk") <= expr("(3 * n_src + 9) div 10"))
        .select(col("doc_id"), col("source"), col("score"),
          col("rk").cast("long").as("rk"))
        .orderBy(col("source"), col("rk"))
    }),

    // Top-30% gate via SAMPLED thresholds (r9) — the 100 TB spelling
    // of text_quality_topfrac. The exact gate ranks each whole source
    // in one per-source total-order window; at scale the gate is a
    // per-source score THRESHOLD fitted on a sample and applied as a
    // map-only filter. Threshold = exact percentile_disc(0.7) of the
    // integer score over the deterministic 25% content-hash sample
    // (≈ the top-30% cut), broadcast back, kept rows = score >= thr.
    // Wide work is one tiny per-source aggregation; the corpus pass
    // is embarrassingly parallel. Keeps slightly more or fewer than
    // exactly 30% per source (ties and sampling error — the recipe's
    // documented trade), deterministically in both engines.
    "text_topfrac_sampled" -> ((s, d) => {
      val scored = qualityGateScore(documents(s, d))
      val cuts = GraftOps.sampledQuantileCuts(scored, "source", "score",
          "text", Seq(0.7))
        .select(col("source"), element_at(col("cuts"), 1).as("thr"))
      scored.join(broadcast(cuts), "source")
        .filter(col("score") >= col("thr"))
        .select(col("doc_id"), col("source"), col("score"))
        .orderBy(col("source"), col("doc_id"))
    }),

    // Token counting: whitespace tokens, BPE-ish regex tokens (letter
    // runs / digit runs / single other chars), distinct tokens.
    "text_token_count" -> ((s, d) =>
      GraftOps.tokenCounts(documents(s, d), "text")
        .select(col("doc_id"), col("ws_tokens"), col("re_tokens"),
          col("distinct_tokens"))
        .orderBy(col("doc_id"))),

    // Gopher-style quality rule set (r9, Rae et al. 2021 §A1.1 — the
    // public pretraining-corpus filter recipe): per-doc verdicts for
    // (1) word count in [20, 1000], (2) mean word length in [3, 10],
    // (3) >= 2 distinct stopwords present, plus the conjunctive gate.
    // The stopword set is the fixture vocabulary's two function words
    // ("the", "a" — the other six of Gopher's canonical eight don't
    // occur in the 31-word synthetic vocab, which would make the rule
    // vacuously false corpus-wide). Mean word length stays INTEGER:
    // the fixture is single-spaced (split/string_split pairing pinned
    // by the token ops), so sum of word chars = len - (n_words - 1),
    // and the [3,10] band is the cross-multiplied 3·nw <= sum <=
    // 10·nw. Stopword presence is padded-substring containment — no
    // split, no list functions, byte-identical semantics in both
    // engines. Pure map stage; at 100 TB this is the first, cheapest
    // corpus gate.
    "text_gopher_rules" -> ((s, d) => {
      val stop = Seq("the", "a")
      val padded = concat(lit(" "), col("text"), lit(" "))
      val nStop = stop.map(w =>
        when(padded.contains(s" $w "), 1).otherwise(0))
        .reduce(_ + _)
      documents(s, d)
        .withColumn("n_words", size(split(col("text"), " ")).cast("long"))
        .withColumn("sum_wchars",
          (length(col("text")) - col("n_words") + 1).cast("long"))
        .withColumn("n_stopwords", nStop.cast("long"))
        .select(col("doc_id"), col("n_words"), col("n_stopwords"),
          col("n_words").between(20L, 1000L).as("r_wordcount"),
          (col("sum_wchars") >= col("n_words") * 3 &&
            col("sum_wchars") <= col("n_words") * 10).as("r_wordlen"),
          (col("n_stopwords") >= 2L).as("r_stopwords"))
        .withColumn("gopher_pass",
          col("r_wordcount") && col("r_wordlen") && col("r_stopwords"))
        .orderBy(col("doc_id"))
    }),

    // Document fingerprint: polynomial rolling hash over the character
    // codepoints, mod 1e9+7 (products stay < 2^63 so Spark and DuckDB
    // agree exactly — no wrap-around semantics involved).
    "text_fingerprint" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          aggregate(
            transform(sequence(lit(1), length(col("text"))),
              i => ascii(substring(col("text"), i, lit(1))).cast("long")),
            lit(0L),
            (acc, c) => (acc * 31 + c) % 1000000007L).as("fingerprint"))
        .orderBy(col("doc_id"))),

    // Corpus boilerplate fraction (r12): per document, the share of
    // its word-3-gram OCCURRENCES that are corpus-frequent (gram
    // appears in ≥ 2% of documents — a SCALE-INVARIANT rarity gate,
    // unlike any fixed df cutoff) — the cross-document boilerplate
    // signal (headers, navigation, license blurbs) CCNet/RefinedWeb
    // pipelines strip, complementing text_repetition_filter's
    // WITHIN-document view. Grams ride as 64-bit xxhash64 digests of
    // the three tokens (the text_repetition_filter trick: fixed-width
    // longs through every shuffle, never strings; the oracle counts
    // the string grams directly — outputs are count-derived basis
    // points, digest collisions ~1e-14/doc are the established
    // hashed-shingle stance). Integer basis points. Scale: one
    // distinct + map-combined df count keyed on digests, a semi join
    // back, one doc-keyed count — text never shuffles.
    "text_boilerplate_frac" -> ((s, d) => {
      val docs = documents(s, d)
      val g = docs
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, greatest(size(t) - 2, 0)), " +
            "i -> xxhash64(element_at(t, i), element_at(t, i + 1), " +
            "element_at(t, i + 2)))")).as("dg"))
      val df = g.distinct()
        .groupBy(col("dg")).agg(count(lit(1)).as("df"))
      val tot = docs.agg(count(lit(1)).as("n_docs"))
      val bp = df.crossJoin(broadcast(tot))
        .filter(col("df") * 50L >= col("n_docs")).select(col("dg"))
      val occ = g.join(bp, Seq("dg"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("bp_occ"))
      docs
        .select(col("doc_id"),
          greatest(size(split(col("text"), " ")) - 2, lit(0)).cast("long")
            .as("n_grams"))
        .join(occ, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("bp_occ"), lit(0L)).as("bp_occ"),
          when(col("n_grams") > 0L,
            expr("coalesce(bp_occ, 0L) * 10000 div n_grams"))
            .otherwise(0L).as("boiler_bp"))
        .orderBy(col("doc_id"))
    }),

    // Winnowing fingerprint selection (r12; Schleimer/Wilkerson/Aiken,
    // SIGMOD'03 — the MOSS algorithm): hash every 5-char gram with the
    // text_fingerprint modular polynomial, then keep only each
    // 4-window's MINIMUM hash, rightmost gram on ties (the combined
    // (hash, -pos) integer key makes min() implement exactly that).
    // The classic guarantees follow: any shared substring of length
    // >= w + k - 1 = 8 chars between two documents shares a selected
    // fingerprint, and expected selected density is 2/(w+1) of the
    // grams — the sub-linear fingerprint INDEX plagiarism / overlap
    // pipelines build at corpus scale instead of indexing every gram
    // (text_fingerprint's whole-doc hash only catches exact dups).
    // All integer arithmetic (hash < 2^30 shifted by 2^20 stays well
    // under 2^63; doc positions < 2^20 by the fixture's doc lengths,
    // loudly violated otherwise since density would break first).
    // Scale: gram hashing is a narrow map; the per-doc ROWS-frame
    // window min shuffles once on doc_id (state = 4-row frame); the
    // distinct + agg are doc_id-keyed and map-combined. Output per
    // doc: gram count, selected-set size, and the selected-set sum
    // digest — the thing a fingerprint index would store.
    "text_winnowing" -> ((s, d) => {
      val docs = documents(s, d)
        .select(col("doc_id"), col("text"),
          greatest(length(col("text")) - 4, lit(0)).cast("long")
            .as("n_grams"))
      val grams = docs
        .filter(col("n_grams") >= 1L)
        .select(col("doc_id"), col("n_grams"), col("text"),
          explode(sequence(lit(1), col("n_grams").cast("int"))).as("pos"))
        .select(col("doc_id"), col("n_grams"), col("pos"),
          aggregate(
            transform(sequence(col("pos"), col("pos") + 4),
              i => ascii(substring(col("text"), i, lit(1))).cast("long")),
            lit(0L),
            (acc, c) => (acc * 31 + c) % 1000000007L).as("h"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(Window.currentRow, 3)
      // The packed key h·2^20 + (2^20 - pos) needs pos < 2^20 or the
      // hash stops dominating and the rightmost-min tie-break inverts;
      // the assert_true is FUSED into the key (coalesce of its null)
      // so column pruning can't drop it and a >2^20-gram document
      // fails loudly instead of silently de-MOSSing (r12 ADVICE).
      val sel = grams
        .withColumn("mn",
          min(col("h") * 1048576L + (lit(1048576L) - col("pos")) +
            coalesce(
              assert_true(col("n_grams") < 1048576L,
                lit("text_winnowing: >= 2^20 grams in one document — " +
                  "packed window-min key would misorder")).cast("long"),
              lit(0L))).over(w))
        .filter(col("pos") <= col("n_grams") - 3)
        .select(col("doc_id"), shiftright(col("mn"), 20).as("h"))
        .distinct()
      val fps = sel.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_fingerprints"),
          sum(col("h")).as("fp_digest"))
      docs.select(col("doc_id"), col("n_grams"))
        .join(fps, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_fingerprints"), lit(0L)).as("n_fingerprints"),
          coalesce(col("fp_digest"), lit(0L)).as("fp_digest"))
        .orderBy(col("doc_id"))
    }),

    // Edit distance between near-dup candidates: the character-level
    // second opinion on the Jaccard pair graph (an exact dup has
    // lev = 0; a template edit has small lev). Bounded cost: the
    // distance runs only on verified near-dup pairs from the
    // cost-picked candidate stage (r6: sub-quadratic prefix filter at
    // scale), over 200-char prefixes (O(200^2) per pair), never all
    // pairs.
    // ASCII projection first: DuckDB's levenshtein counts BYTE edits
    // while Spark counts CHARACTER edits (verified: 'héllo'/'hello' is
    // 2 vs 1), so multi-byte text would diverge between engines.
    "text_edit_distance" -> ((s, d) => {
      val pairs = SimilarityQueries.ngramCandidatePairs(s, d)
        .select(col("doc_a"), col("doc_b"))
      val texts = documents(s, d)
        .select(col("doc_id"),
          substring(regexp_replace(col("text"), "[^ -~]", ""), 1, 200)
            .as("head"))
      pairs
        .join(texts.select(col("doc_id").as("doc_a"),
          col("head").as("ha")), "doc_a")
        .join(texts.select(col("doc_id").as("doc_b"),
          col("head").as("hb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("ha"), col("hb")).cast("long").as("lev"),
          (levenshtein(col("ha"), col("hb")) === 0).as("head_exact"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Quality gate with reason codes: every document labeled with its
    // FIRST failing rule ('pass' if none) — the filter-with-provenance
    // shape a corpus pipeline needs to audit what it dropped and why.
    // All thresholds in exact integer arithmetic.
    "text_quality_gate" -> ((s, d) => {
      val nToks = size(split(col("text"), " ")).cast("long")
      documents(s, d)
        .withColumn("n_toks", nToks)
        .withColumn("gate",
          when(col("n_chars") < 50, "too_short")
            .when(col("n_chars") > 5000, "too_long")
            .when(col("n_toks") < 10, "too_few_tokens")
            // mean token length > 15 chars => likely not natural text
            .when(col("n_chars") > col("n_toks") * 15, "gibberish")
            .otherwise("pass"))
        .select(col("doc_id"), col("n_chars"), col("n_toks"), col("gate"))
        .orderBy(col("doc_id"))
    }),

    // PII scrubbing: regex-redact emails and phone numbers before
    // training. The fixture corpus is PII-free by construction, so a
    // synthetic contact line (derived from doc_id — deterministic) is
    // appended first; the operator under test is the scrub itself:
    // counts per PII class + a digest of the redacted text (the full
    // text never needs to leave the executor — at 100 TB the redaction
    // is a pure map stage, and this audit query ships only counts and
    // digests). Patterns are deliberately engine-portable regex.
    "text_pii_scrub" -> ((s, d) => {
      val emailRe = "[a-z0-9]+@[a-z0-9.]+\\.[a-z]+"
      val phoneRe = "\\+1-555-[0-9]{4}"
      documents(s, d)
        .withColumn("contact",
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com or +1-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .select(col("doc_id"),
          regexp_count(col("contact"), lit(emailRe)).cast("long")
            .as("n_emails"),
          regexp_count(col("contact"), lit(phoneRe)).cast("long")
            .as("n_phones"),
          md5(regexp_replace(
            regexp_replace(col("contact"), emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>")).as("redacted_md5"))
        .orderBy(col("doc_id"))
    }),

    // Repetition filter (Gopher-style): fraction of the document
    // covered by its most frequent token and by its most frequent word
    // bigram, in basis points, plus the keep/drop gate. Explode →
    // count → per-doc max is two hash aggregates keyed on doc_id —
    // output and state are ∝ |distinct grams per doc|, never corpus-
    // global, and the doc text itself is never shuffled. r12
    // restructure (r11 verdict #1 — this query degraded 11x under
    // driver-box contention while the median query degraded 1.2x):
    // grams are hashed to LONGS inside the scan stage (the
    // dedup_containment digest trick), so the two aggregates key on
    // (long, long) fixed-width rows — no string hashing, comparison,
    // or allocation in the agg hash maps, and the shuffled bytes drop
    // ~5x. The oracle keeps grouping by the string grams: the output
    // exposes only counts-derived basis points, which agree unless
    // two DIFFERENT grams of ONE doc collide in xxhash64 (~5e2 grams
    // per doc -> ~1e-14 per doc; same negligible-collision stance as
    // the hashed-shingle Jaccard note in SimilarityQueries). All
    // integer arithmetic.
    "text_repetition_filter" -> ((s, d) => {
      val toks = documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
      val tokTop = toks
        .select(col("doc_id"),
          explode(expr("transform(toks, t -> xxhash64(t))")).as("th"))
        .groupBy(col("doc_id"), col("th")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(max(col("c")).as("max_tok"), sum(col("c")).as("n_tok"))
      val gramTop = toks
        .select(col("doc_id"), explode(expr(
          // try_element_at for the second token: single-token docs
          // push i past the end, a hard error under ANSI (Spark 4
          // default) while the oracle's concat_ws skips the NULL —
          // same fix as SimilarityQueries.hashedGramTable. Two-arg
          // xxhash64 skips a NULL operand, so the single-token gram
          // keys on the token alone there too — and it chains the two
          // tokens' hashes without materializing the concat string.
          "transform(sequence(1, greatest(size(toks) - 1, 1)), " +
            "i -> xxhash64(toks[i - 1], try_element_at(toks, i + 1)))")).as("gh"))
        .groupBy(col("doc_id"), col("gh")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(max(col("c")).as("max_gram"), sum(col("c")).as("n_gram"))
      tokTop.join(gramTop, "doc_id")
        .select(col("doc_id"),
          expr("max_tok * 10000 div n_tok").as("top_tok_bp"),
          expr("max_gram * 10000 div n_gram").as("top_gram_bp"),
          (expr("max_tok * 10000 div n_tok") < 2000 &&
            expr("max_gram * 10000 div n_gram") < 1800).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // Length-outlier trimming (r4): keep each language's docs whose
    // n_chars percent_rank lies in [0.05, 0.95] — the tail-trim gate
    // curation pipelines run before training (truncation fragments
    // live in the low tail, concatenation artifacts in the high one).
    // percent_rank = (rank-1)/(N-1) is the same IEEE ratio in both
    // engines and ties share ranks, so the gate reproduces exactly.
    // One shuffle on lang; at 100 TB the identical shape runs over a
    // per-language SAMPLE to set absolute thresholds, which then apply
    // as a map-only filter (the window here doubles as the
    // threshold-setting pass at fixture scale).
    "text_len_trim" -> ((s, d) => {
      val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"))
      documents(s, d)
        .withColumn("pr", percent_rank().over(w))
        .filter(col("pr") >= 0.05 && col("pr") <= 0.95)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // TF-IDF-style distinctive terms (r5): each doc's top-3 terms
    // ranked by term frequency DESC, corpus document frequency ASC
    // (rarer wins the tie), term ASC — the keyword-extraction /
    // document-fingerprinting shape, with the float IDF log replaced
    // by its ORDER-EQUIVALENT integer rank key (tf, df, term), so the
    // output is exactly oracle-pairable. Scale: tf is a (doc, term)
    // hash aggregate, df a term-keyed aggregate over the distinct
    // projection (both map-combinable); the top-3 rank filter engages
    // WindowGroupLimit, so only 3 rows per doc survive the window
    // shuffle. At 100 TB the df table is the same build-once corpus
    // artifact as text_df_quality's bigram table.
    "text_tfidf_topterms" -> ((s, d) => {
      val toks = documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val tf = toks.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dfT = toks.distinct()
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tf").desc, col("df").asc, col("term").asc)
      tf.join(dfT, "term")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("term"), col("tf"),
          col("df"))
        .orderBy(col("doc_id"), col("rank"))
    }),

    // Frequent-term mining via the two-pass heavy-hitters pattern
    // (r5): pass 1 computes the corpus token total AND a mergeable
    // Misra-Gries candidate sketch in ONE aggregate (k = 256 bounded
    // state per partial, shuffled map-side — never the term
    // distribution itself); pass 2 recounts EXACTLY only the tokens
    // matching the broadcast candidate set and keeps counts above 1%
    // of the corpus. MG guarantees every item with true count >
    // N/(k+1) survives the sketch, and the 1% threshold exceeds
    // N/257, so the candidate set provably contains every emitted
    // term — the output is exact and oracle-paired even though the
    // sketch is approximate (MisraGriesSpec pins the guarantee
    // including across merges).
    // Zipf-exponent fit (r9): least-squares slope of log freq vs log
    // rank over the top-30 terms — the one-scalar corpus-health check
    // (natural language ≈ −1; synthetic/templated corpora flatten).
    // Rank via a bounded self-join over the VOCAB-sized count table
    // (never a global window — at 100 TB the vocab side is the
    // heavy-hitter artifact); the four regression sums are ORDERED
    // folds over the rank-sorted list, so the transcendental ln terms
    // accumulate in one fixed order on both engines before the single
    // micro-round (the entropy playbook).
    "text_zipf_fit" -> ((s, d) => {
      val counts = documents(s, d)
        .select(explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      val ranked = counts.as("a").join(counts.as("b"),
          col("b.cnt") > col("a.cnt") ||
            (col("b.cnt") === col("a.cnt") && col("b.term") < col("a.term")),
          "left")
        .groupBy(col("a.term"), col("a.cnt"))
        .agg((count(col("b.term")) + 1).as("rank"))
        .filter(col("rank") <= 30)
      def fold(e: String): org.apache.spark.sql.Column =
        expr(s"aggregate(lst, cast(0.0 as double), (acc, p) -> acc + ($e))")
      ranked
        .agg(sort_array(collect_list(struct(col("rank"),
          col("cnt")))).as("lst"))
        .select(
          expr("size(lst)").cast("long").as("n_terms"),
          fold("ln(cast(p.rank as double))").as("sx"),
          fold("ln(cast(p.cnt as double))").as("sy"),
          fold("ln(cast(p.rank as double)) * ln(cast(p.cnt as double))")
            .as("sxy"),
          fold("ln(cast(p.rank as double)) * ln(cast(p.rank as double))")
            .as("sxx"))
        .select(col("n_terms"),
          round((col("sxy") * col("n_terms") - col("sx") * col("sy")) /
            (col("sxx") * col("n_terms") - col("sx") * col("sx")) * -1e6)
            .cast("long").as("zipf_micro"))
    }),

    "text_heavy_hitters" -> ((s, d) => {
      val toks = documents(s, d)
        .select(explode(split(col("text"), " ")).as("term"))
      val sketch = toks.agg(
        count(lit(1)).as("n_total"),
        graft.functions.MisraGriesAgg.candidates(col("term"), 256)
          .as("cands"))
      val cands = sketch.select(col("n_total"),
        explode(col("cands")).as("term"))
      toks.join(broadcast(cands), "term")
        .groupBy(col("term"), col("n_total"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= expr("n_total div 100") + 1)
        .select(col("term"), col("cnt"))
        .orderBy(col("term"))
    }),

    // URL parsing for web-corpus curation (r5): domain/path/query
    // extraction is the primary key of crawl-level dedup and source
    // filtering. URLs are synthesized deterministically from fixture
    // columns (the fixture carries none) and decomposed by Spark's
    // codegen'd parse_url; the oracle mirrors the synthesis
    // arithmetic, so a parser that misread any component
    // hash-mismatches. Pure narrow map — no shuffle but the output
    // sort.
    "text_url_parse" -> ((s, d) =>
      documents(s, d)
        .withColumn("url", concat(lit("https://"), col("source"),
          lit(".example.org/"), col("lang"), lit("/"), col("doc_id"),
          lit("?ref="), col("lang")))
        .select(col("doc_id"),
          parse_url(col("url"), lit("HOST")).as("host"),
          parse_url(col("url"), lit("PATH")).as("path"),
          parse_url(col("url"), lit("QUERY")).as("query"))
        .orderBy(col("doc_id"))),

    // URL-canonicalization dedup (r6): the crawl-level dedup step that
    // runs BEFORE any content dedup — the same page arrives under
    // uppercase hosts, default ports, trailing slashes, tracking
    // params, and fragments. Four deterministic messy variants are
    // synthesized per doc (the fixture has no URL column), then
    // canonicalized with engine-portable regex (lowercased host
    // without port + path without trailing slash; query/fragment
    // dropped) and grouped. Scale shape: pure per-row map + one
    // groupBy on the canonical key — the exact-dedup shape.
    "dedup_url_canonical" -> ((s, d) => {
      val k = expr("doc_id div 4")
      val base = concat(col("source"), lit(".example.org"))
      val path = concat(lit("/"), col("lang"), lit("/"), k)
      val url = when(col("doc_id") % 4 === 0,
          concat(lit("https://"), base, path))
        .when(col("doc_id") % 4 === 1,
          concat(lit("HTTPS://"), upper(base), lit(":443"), path, lit("/")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("https://"), base, path,
            lit("?utm_source=feed&utm_campaign=x")))
        .otherwise(concat(lit("https://"), base, path, lit("#section-2")))
      val host = lower(regexp_extract(col("url"),
        "^[a-zA-Z]+://([^/:?#]+)", 1))
      val rawPath = regexp_replace(regexp_extract(col("url"),
        "^[a-zA-Z]+://[^/?#]+([^?#]*)", 1), "/$", "")
      documents(s, d)
        .withColumn("url", url)
        .withColumn("canonical",
          concat(host, when(rawPath === "", "/").otherwise(rawPath)))
        .groupBy(col("canonical"))
        .agg(count(lit(1)).as("n_urls"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("canonical"))
    }),

    // Training-window chunking (r6): fixed 64-token windows at stride
    // 48 (16-token overlap) — how a corpus becomes model-sized
    // sequences while keeping context across boundaries. Chunk count
    // is 1 + ceil((n-64)/48) (one chunk for docs at or under the
    // window), all integer arithmetic; per-chunk token/char counts
    // make the fan-out oracle-checkable. Scale shape: narrow
    // generator fan-out (explode of a per-row sequence), no shuffle
    // except the output sort.
    "text_chunk_windows" -> ((s, d) =>
      documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n", size(col("toks")).cast("long"))
        .withColumn("k", explode(expr(
          "sequence(0, case when n <= 64 then 0 " +
            "else (n - 64 + 47) div 48 end)")))
        .withColumn("chunk", expr("slice(toks, k * 48 + 1, 64)"))
        .select(col("doc_id"), col("k").as("chunk_idx"),
          (col("k") * 48).as("start_tok"),
          size(col("chunk")).cast("long").as("n_toks"),
          length(concat_ws(" ", col("chunk"))).cast("long").as("n_chars"))
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // BM25 top-k retrieval (r6): the lexical-retrieval scorer of RAG
    // and dataset-search pipelines — Okapi BM25 (k1 = 1.2, b = 0.75)
    // of a fixed 3-term query over the corpus, top-20 docs. Float
    // discipline: every constant appears as the SAME literal in both
    // engines (2.2 and 0.25 written out, never computed as k1+1 or
    // 1−b, whose compile-time double can land a ulp off the literal),
    // and each per-term score rounds to integer micro-units BEFORE
    // the per-doc sum — so the only cross-engine float surface is
    // one ln() and a handful of IEEE mul/divs per (doc, term), and
    // the sum itself is exact integer math in any order. Scale
    // shape: term filter BEFORE the explode-aggregate keeps the tf
    // table ∝ matching postings; df and corpus stats broadcast; the
    // ranking is a global top-20 (TakeOrderedAndProject, no full
    // sort materialization).
    "text_bm25_topk" -> ((s, d) => {
      val qTerms = Seq("query", "join", "fast")
      val docs = documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("dl", size(col("toks")).cast("long"))
      val corpus = docs.agg(count(lit(1)).as("n_docs"),
        sum(col("dl")).as("sum_dl"))
      val tf = docs
        .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
        .filter(col("term").isin(qTerms: _*))
        .groupBy(col("doc_id"), col("dl"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      tf.join(broadcast(dfT), "term")
        .crossJoin(broadcast(corpus))
        .withColumn("idf", log(
          (col("n_docs").cast("double") - col("df").cast("double") + 0.5) /
            (col("df").cast("double") + 0.5) + 1.0))
        .withColumn("tfn",
          col("tf").cast("double") * 2.2 /
            (col("tf").cast("double") + lit(1.2) *
              (lit(0.25) + lit(0.75) * col("dl").cast("double") /
                (col("sum_dl").cast("double") / col("n_docs").cast("double")))))
        .withColumn("score_u",
          expr("cast(round(idf * tfn * 1000000) as bigint)"))
        .groupBy(col("doc_id"))
        .agg(sum(col("score_u")).as("bm25_u"),
          count(lit(1)).as("n_terms"))
        .orderBy(col("bm25_u").desc, col("doc_id"))
        .limit(20)
    }),

    // fastText-shape linear quality classifier (r7): score = mean
    // milli-weight of the doc's hashed unigram+bigram features — the
    // model-based quality-filter stage of pretraining pipelines
    // (CCNet/DCLM-style fastText gate), with the trained weight table
    // replaced by a deterministic literal hash->weight map. The
    // operator shape IS the production one — hash each n-gram feature
    // into a fixed bucket space, sum a per-bucket weight lookup,
    // threshold the mean — only the weight values would come from an
    // offline training job (out of engine scope, like the k-means
    // build's data). Feature hash = the text_fingerprint rolling hash
    // mod 4096 buckets; weight(f) = (f * 2654435761) % 2001
    // milli-units in [0, 2000] (non-negative by construction, so the
    // integer mean divides identically in both engines — Spark `div`
    // truncates toward zero, DuckDB `//` floors, and they agree only
    // on non-negative operands); verdict gates at mean >= 1000.
    // All-integer arithmetic -> exactly oracle-paired. Scale shape:
    // pure narrow map, no shuffle but the output sort; a real
    // million-bucket weight table is a broadcast map-side lookup.
    "text_classifier_score" -> ((s, d) =>
      documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("grams", expr(
          "concat(toks, zip_with(slice(toks, 1, size(toks) - 1), " +
            "slice(toks, 2, size(toks) - 1), " +
            "(a, b) -> concat(a, ' ', b)))"))
        .withColumn("wsum", expr(
          "aggregate(grams, 0L, (acc, g) -> acc + " +
            "((aggregate(transform(sequence(1, length(g)), " +
            "i -> cast(ascii(substring(g, i, 1)) as long)), 0L, " +
            "(h, c) -> (h * 31 + c) % 1000000007) % 4096) " +
            "* 2654435761) % 2001)"))
        .select(col("doc_id"),
          size(col("grams")).cast("long").as("n_feats"),
          expr("wsum div size(grams)").as("score_milli"),
          (expr("wsum div size(grams)") >= 1000).as("keep"))
        .orderBy(col("doc_id"))),

    // Domain-suffix blocklist filter (r7): the crawl-curation gate
    // that drops documents whose URL host falls under any blocked
    // domain. Matching is per REGISTRABLE SUFFIX (an entry blocks the
    // domain and every subdomain — 'src3.example.org' catches
    // 'de.src3.example.org'), not string contains. Hosts are
    // synthesized lang.source.example.org (the fixture carries no URL
    // column — text_url_parse's convention); each host explodes into
    // its dot-suffixes and a broadcast LEFT SEMI join against the
    // blocklist marks blocked docs. Scale shape: real deny-lists are
    // millions of entries, far too big for a per-row literal array
    // scan — the explode + broadcast semi join is map-side (no corpus
    // shuffle; only matched doc_ids deduplicate, a volume bounded by
    // the hit rate), exactly how a cluster-scale deny-list runs.
    "text_url_blocklist" -> ((s, d) => {
      import s.implicits._
      val blocklist = Seq("src3.example.org", "src7.example.org",
        "de.src11.example.org", "ads.example.net", "tracker.invalid")
        .toDF("bl_suffix")
      val docs = documents(s, d).withColumn("host",
        concat(col("lang"), lit("."), col("source"), lit(".example.org")))
      // bind the label array once — a split() inside the HOF lambda
      // would re-run the regex ~2n+1 times per row
      val sfx = docs
        .withColumn("labels", split(col("host"), "[.]"))
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(labels)), " +
            "i -> array_join(slice(labels, i, " +
            "size(labels) - i + 1), '.'))")).as("sfx"))
      val blocked = sfx
        .join(broadcast(blocklist), sfx("sfx") === blocklist("bl_suffix"),
          "left_semi")
        .select(col("doc_id")).distinct()
      docs
        .join(blocked.withColumn("blocked", lit(true)), Seq("doc_id"),
          "left")
        .select(col("doc_id"), col("host"),
          coalesce(col("blocked"), lit(false)).as("blocked"))
        .orderBy(col("doc_id"))
    })
  )

  /** The per-doc LM-score derivation, shared by the `text_lm_score`
    * oracle and the CCNet bucket oracle (no ORDER BY — callers wrap).
    */
  private val lmScoreSqlCore =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2
      |), b AS (
      |  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
      |  FROM t, unnest(generate_series(1, len(ws) - 1)) AS u(i)
      |), cb AS (
      |  SELECT w1, w2, count(*) AS c FROM b GROUP BY 1, 2
      |), cu AS (
      |  SELECT w1, sum(c) AS cu FROM cb GROUP BY 1
      |), v AS (
      |  SELECT count(DISTINCT w) AS vocab
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |), x AS (
      |  SELECT b.doc_id, b.w1, b.w2,
      |    -log2(CAST(cb.c + 1 AS DOUBLE) /
      |          CAST(cu.cu + v.vocab AS DOUBLE)) AS bits
      |  FROM b
      |  JOIN cb USING (w1, w2)
      |  JOIN cu USING (w1)
      |  CROSS JOIN v
      |)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  CAST(round(list_reduce(
      |    list_prepend(CAST(0 AS DOUBLE), list(bits ORDER BY w1, w2)),
      |    (acc, e) -> acc + e) / count(*) * 1000) AS BIGINT) AS bits_mbits
      |FROM x GROUP BY doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    // identical ntile(3) trisection over the shared LM-score core
    "text_ccnet_buckets" ->
      s"""WITH scores AS (
        |$lmScoreSqlCore
        |), j AS (
        |  SELECT s.doc_id, d.lang, s.bits_mbits
        |  FROM scores s JOIN documents d USING (doc_id)
        |), tiles AS (
        |  SELECT lang, bits_mbits,
        |    ntile(3) OVER (PARTITION BY lang
        |      ORDER BY bits_mbits, doc_id) AS tile
        |  FROM j
        |)
        |SELECT lang,
        |  CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
        |    ELSE 'tail' END AS bucket,
        |  count(*) AS n_docs,
        |  min(bits_mbits) AS min_mbits, max(bits_mbits) AS max_mbits
        |FROM tiles GROUP BY lang, tile ORDER BY lang, bucket""".stripMargin,
    // same 25% content-hash sample, same exact disc-quantile cuts,
    // same broadcast-threshold assignment
    "text_ccnet_sampled" ->
      s"""WITH scores AS (
        |$lmScoreSqlCore
        |), j AS (
        |  SELECT s.doc_id, d.lang, s.bits_mbits,
        |    substr(md5(d.text), 1, 1) AS hx
        |  FROM scores s JOIN documents d USING (doc_id)
        |), cuts AS (
        |  SELECT lang,
        |    quantile_disc(bits_mbits, 0.3333333333333333) AS t1,
        |    quantile_disc(bits_mbits, 0.6666666666666666) AS t2
        |  FROM j WHERE hx < '4' GROUP BY lang
        |)
        |SELECT j.lang,
        |  CASE WHEN bits_mbits <= t1 THEN 'head'
        |       WHEN bits_mbits <= t2 THEN 'middle'
        |       ELSE 'tail' END AS bucket,
        |  count(*) AS n_docs,
        |  min(bits_mbits) AS min_mbits, max(bits_mbits) AS max_mbits
        |FROM j JOIN cuts USING (lang)
        |GROUP BY j.lang, bucket ORDER BY lang, bucket""".stripMargin,
    // Same literal constants (2.2, 1.2, 0.25, 0.75), same one-ln
    // formula, same per-term micro-unit rounding before the integer
    // per-doc sum.
    "text_bm25_topk" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |  FROM documents
        |), corpus AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(dl) AS BIGINT) AS sum_dl
        |  FROM docs
        |), tf AS (
        |  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM docs)
        |  WHERE term IN ('query', 'join', 'fast')
        |  GROUP BY doc_id, dl, term
        |), dft AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
        |)
        |SELECT tf.doc_id,
        |  CAST(sum(CAST(round(
        |    ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
        |       (CAST(df AS DOUBLE) + 0.5) + 1.0) *
        |    (CAST(tf AS DOUBLE) * 2.2 /
        |      (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |        CAST(dl AS DOUBLE) /
        |        (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))) *
        |    1000000) AS BIGINT)) AS BIGINT) AS bm25_u,
        |  count(*) AS n_terms
        |FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN corpus
        |GROUP BY tf.doc_id
        |ORDER BY bm25_u DESC, tf.doc_id LIMIT 20""".stripMargin,
    // Same variant synthesis, same portable-regex canonicalization.
    "dedup_url_canonical" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 4 AS INT)
        |      WHEN 0 THEN 'https://' || source || '.example.org/' ||
        |        lang || '/' || (doc_id // 4)
        |      WHEN 1 THEN 'HTTPS://' || upper(source || '.example.org')
        |        || ':443/' || lang || '/' || (doc_id // 4) || '/'
        |      WHEN 2 THEN 'https://' || source || '.example.org/' ||
        |        lang || '/' || (doc_id // 4) ||
        |        '?utm_source=feed&utm_campaign=x'
        |      ELSE 'https://' || source || '.example.org/' || lang ||
        |        '/' || (doc_id // 4) || '#section-2'
        |    END AS url
        |  FROM documents
        |), c AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url, '^[a-zA-Z]+://([^/:?#]+)', 1)) ||
        |    CASE WHEN regexp_replace(regexp_extract(url,
        |        '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1), '/$', '') = ''
        |      THEN '/'
        |      ELSE regexp_replace(regexp_extract(url,
        |        '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1), '/$', '')
        |    END AS canonical
        |  FROM u
        |)
        |SELECT canonical, count(*) AS n_urls, min(doc_id) AS first_doc
        |FROM c GROUP BY canonical ORDER BY canonical""".stripMargin,
    // Same window arithmetic: chunk k covers tokens
    // [48k+1, min(48k+64, n)] (1-based, end-inclusive in DuckDB's
    // list_slice vs start+LENGTH in Spark's slice).
    "text_chunk_windows" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents
        |), k AS (
        |  SELECT doc_id, ws, n,
        |    unnest(generate_series(0,
        |      CASE WHEN n <= 64 THEN 0
        |           ELSE (n - 64 + 47) // 48 END)) AS ki
        |  FROM t
        |)
        |SELECT doc_id, ki AS chunk_idx, ki * 48 AS start_tok,
        |  CAST(len(list_slice(ws, ki * 48 + 1, least(ki * 48 + 64, n)))
        |    AS BIGINT) AS n_toks,
        |  CAST(len(array_to_string(
        |    list_slice(ws, ki * 48 + 1, least(ki * 48 + 64, n)), ' '))
        |    AS BIGINT) AS n_chars
        |FROM k ORDER BY doc_id, chunk_idx""".stripMargin,
    // Same smoothed-probability arithmetic, same (w1, w2)-ordered
    // double fold (duplicate bigrams contribute equal addends, so
    // order among them cannot change the sum) — bit-identical before
    // the millibit rounding.
    "text_lm_score" -> (lmScoreSqlCore + "\nORDER BY doc_id"),
    "text_tfidf_topterms" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
        |), df AS (
        |  SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
        |)
        |SELECT doc_id, rank, term, tf, df FROM (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rank
        |  FROM tf JOIN df USING (term)) t
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // same bounded-self-join rank, same rank-ordered ln folds — each
    // regression sum accumulates in one fixed order on both engines
    "text_zipf_fit" ->
      """WITH counts AS MATERIALIZED (
        |  SELECT term, count(*) AS cnt FROM (
        |    SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |  WHERE strlen(term) > 0 GROUP BY term
        |), ranked AS (
        |  SELECT a.term, a.cnt, count(b.term) + 1 AS rank
        |  FROM counts a LEFT JOIN counts b
        |    ON b.cnt > a.cnt OR (b.cnt = a.cnt AND b.term < a.term)
        |  GROUP BY a.term, a.cnt
        |), top AS (SELECT * FROM ranked WHERE rank <= 30),
        |l AS (
        |  SELECT count(*) AS n_terms,
        |    list(ln(CAST(rank AS DOUBLE)) ORDER BY rank) AS lx,
        |    list(ln(CAST(cnt AS DOUBLE)) ORDER BY rank) AS ly,
        |    list(ln(CAST(rank AS DOUBLE)) * ln(CAST(cnt AS DOUBLE))
        |      ORDER BY rank) AS lxy,
        |    list(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE))
        |      ORDER BY rank) AS lxx
        |  FROM top
        |), s AS (
        |  SELECT n_terms,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), lx), (a, x) -> a + x) AS sx,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ly), (a, x) -> a + x) AS sy,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), lxy), (a, x) -> a + x) AS sxy,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), lxx), (a, x) -> a + x) AS sxx
        |  FROM l
        |)
        |SELECT n_terms,
        |  CAST(round((sxy * n_terms - sx * sy) /
        |    (sxx * n_terms - sx * sx) * -1e6) AS BIGINT) AS zipf_micro
        |FROM s""".stripMargin,
    // Exact 1%-frequency mirror: the MG sketch is recall-guaranteed
    // above this threshold and the recount is exact, so the plain
    // GROUP BY ... HAVING formulation matches row-for-row.
    "text_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents
        |), tot AS (SELECT count(*) AS n_total FROM toks)
        |SELECT term, count(*) AS cnt
        |FROM toks, tot
        |GROUP BY term, tot.n_total
        |HAVING count(*) >= n_total // 100 + 1
        |ORDER BY term""".stripMargin,
    "text_url_parse" ->
      """SELECT doc_id,
        |  source || '.example.org' AS host,
        |  '/' || lang || '/' || CAST(doc_id AS VARCHAR) AS path,
        |  'ref=' || lang AS "query"
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_len_trim" ->
      """WITH r AS (
        |  SELECT doc_id, lang, n_chars,
        |    percent_rank() OVER (PARTITION BY lang ORDER BY n_chars) AS pr
        |  FROM documents
        |)
        |SELECT doc_id, lang, n_chars FROM r
        |WHERE pr >= 0.05 AND pr <= 0.95
        |ORDER BY doc_id""".stripMargin,
    "text_langid" -> {
      val scoreSql = profiles.map { case (lang, words) =>
        val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
        s"{'score': len(list_intersect(list_distinct(string_split(text, ' ')), $arr)), 'lang': '$lang'}"
      }.mkString(", ")
      s"""WITH scored AS (
         |  SELECT doc_id,
         |    list_reverse_sort([$scoreSql]) AS ranked
         |  FROM documents)
         |SELECT doc_id, ranked[1].lang AS pred_lang,
         |  ranked[1].score AS score
         |FROM scored ORDER BY doc_id""".stripMargin
    },
    // same argmax profile scoring, same integer confusion marginals,
    // one IEEE division
    "text_langid_kappa" -> {
      val scoreSql = profiles.map { case (lang, words) =>
        val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
        s"{'score': len(list_intersect(list_distinct(string_split(text, ' ')), $arr)), 'lang': '$lang'}"
      }.mkString(", ")
      s"""WITH scored AS (
         |  SELECT lang AS truth,
         |    list_reverse_sort([$scoreSql])[1].lang AS pred
         |  FROM documents
         |), cm AS (
         |  SELECT truth, pred, count(*) AS c FROM scored GROUP BY 1, 2
         |), a AS (
         |  SELECT CAST(sum(c) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN truth = pred THEN c ELSE 0 END)
         |      AS BIGINT) AS diag
         |  FROM cm
         |), r AS (SELECT truth, CAST(sum(c) AS BIGINT) AS r FROM cm GROUP BY truth),
         |p AS (SELECT pred, CAST(sum(c) AS BIGINT) AS p FROM cm GROUP BY pred),
         |e AS (
         |  SELECT CAST(coalesce(sum(r.r * p.p), 0) AS BIGINT) AS rp
         |  FROM r JOIN p ON r.truth = p.pred
         |)
         |SELECT n, diag,
         |  CAST(round((CAST(n AS DOUBLE) * CAST(diag AS DOUBLE) -
         |    CAST(rp AS DOUBLE)) /
         |    (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) -
         |    CAST(rp AS DOUBLE)) * 1e6) AS BIGINT) AS kappa_micro
         |FROM a, e""".stripMargin
    },
    "text_quality_score" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), c AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS tok_cnt,
        |    CAST(list_sum(list_transform(toks, t -> len(t))) AS BIGINT) AS char_cnt,
        |    CAST(len(list_filter(toks, t -> list_contains(['the','a','and','of','to'], t))) AS BIGINT) AS stop_cnt,
        |    CAST(len(list_filter(toks, t -> len(t) <= 2)) AS BIGINT) AS short_cnt
        |  FROM t)
        |SELECT doc_id, tok_cnt,
        |  char_cnt * 100 // tok_cnt AS mean_tok_len_c,
        |  stop_cnt * 10000 // tok_cnt AS stop_bp,
        |  short_cnt * 10000 // tok_cnt AS short_bp,
        |  tok_cnt >= 20 AND stop_cnt * 10000 // tok_cnt < 4000 AS passes_gate
        |FROM c ORDER BY doc_id""".stripMargin,
    // per-source top-30% by integer score; total rank order and exact
    // integer ceil keep the row-level output engine-identical
    "text_quality_topfrac" ->
      """WITH t AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
        |), c AS (
        |  SELECT doc_id, source,
        |    CAST(len(toks) AS BIGINT) AS tok_cnt,
        |    CAST(len(list_filter(toks, t -> list_contains(['the','a','and','of','to'], t))) AS BIGINT) AS stop_cnt,
        |    CAST(len(list_filter(toks, t -> len(t) <= 2)) AS BIGINT) AS short_cnt
        |  FROM t
        |), sc AS (
        |  SELECT doc_id, source,
        |    20000 - stop_cnt * 10000 // tok_cnt - short_cnt * 10000 // tok_cnt AS score
        |  FROM c
        |), r AS (
        |  SELECT doc_id, source, score,
        |    row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id ASC) AS rk,
        |    count(*) OVER (PARTITION BY source) AS n_src
        |  FROM sc)
        |SELECT doc_id, source, score, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= (3 * n_src + 9) // 10
        |ORDER BY source, rk""".stripMargin,
    // same integer score, same 25% sample, same disc-quantile 0.7
    // threshold applied as a plain filter
    "text_topfrac_sampled" ->
      """WITH t AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS toks,
        |    substr(md5(text), 1, 1) AS hx
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, source, hx,
        |    CAST(len(toks) AS BIGINT) AS tok_cnt,
        |    CAST(len(list_filter(toks, t -> list_contains(['the','a','and','of','to'], t))) AS BIGINT) AS stop_cnt,
        |    CAST(len(list_filter(toks, t -> len(t) <= 2)) AS BIGINT) AS short_cnt
        |  FROM t
        |), sc AS (
        |  SELECT doc_id, source, hx,
        |    20000 - stop_cnt * 10000 // tok_cnt - short_cnt * 10000 // tok_cnt AS score
        |  FROM c
        |), cuts AS (
        |  SELECT source, quantile_disc(score, 0.7) AS thr
        |  FROM sc WHERE hx < '4' GROUP BY source
        |)
        |SELECT doc_id, sc.source, score
        |FROM sc JOIN cuts USING (source)
        |WHERE score >= thr
        |ORDER BY source, doc_id""".stripMargin,
    "text_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS distinct_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    // same integer word-length band and padded-substring stopword
    // containment; the conjunctive gate mirrors column-for-column
    "text_gopher_rules" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(len(text) - len(string_split(text, ' ')) + 1 AS BIGINT)
        |      AS sum_wchars,
        |    CAST((CASE WHEN contains(' ' || text || ' ', ' the ') THEN 1 ELSE 0 END)
        |      + (CASE WHEN contains(' ' || text || ' ', ' a ') THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_stopwords
        |  FROM documents
        |)
        |SELECT doc_id, n_words, n_stopwords,
        |  n_words BETWEEN 20 AND 1000 AS r_wordcount,
        |  sum_wchars >= n_words * 3 AND sum_wchars <= n_words * 10 AS r_wordlen,
        |  n_stopwords >= 2 AS r_stopwords,
        |  (n_words BETWEEN 20 AND 1000) AND
        |    (sum_wchars >= n_words * 3 AND sum_wchars <= n_words * 10) AND
        |    n_stopwords >= 2 AS gopher_pass
        |FROM d ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(generate_series(1, len(text)),
        |        i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    // string grams where the engine uses digests (count-derived
    // outputs, the hashed-shingle collision stance); same 2% gate
    "text_boilerplate_frac" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(1, greatest(len(toks) - 2, 0)),
        |    i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))) AS gram
        |  FROM t
        |), df AS (
        |  SELECT gram, count(DISTINCT doc_id) AS df FROM g GROUP BY gram
        |), nd AS (SELECT count(*) AS n_docs FROM documents),
        |bp AS (SELECT gram FROM df, nd WHERE df * 50 >= n_docs),
        |occ AS (
        |  SELECT g.doc_id, count(*) AS bp_occ
        |  FROM g JOIN bp ON g.gram = bp.gram GROUP BY g.doc_id
        |), base AS (
        |  SELECT doc_id,
        |    CAST(greatest(len(string_split(text, ' ')) - 2, 0) AS BIGINT)
        |      AS n_grams
        |  FROM documents
        |)
        |SELECT b.doc_id, b.n_grams,
        |  CAST(coalesce(o.bp_occ, 0) AS BIGINT) AS bp_occ,
        |  CAST(CASE WHEN b.n_grams > 0
        |    THEN coalesce(o.bp_occ, 0) * 10000 // b.n_grams
        |    ELSE 0 END AS BIGINT) AS boiler_bp
        |FROM base b LEFT JOIN occ o USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,
    // same gram hash, same combined (hash, -pos) window-min key, same
    // rightmost-tie decode; the ROWS frame is the Spark frame verbatim
    "text_winnowing" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    CAST(greatest(len(text) - 4, 0) AS BIGINT) AS n_grams
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, n_grams, text,
        |    unnest(generate_series(1, CAST(n_grams AS INT))) AS pos
        |  FROM d WHERE n_grams >= 1
        |), hh AS (
        |  SELECT doc_id, n_grams, pos,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(generate_series(pos, pos + 4),
        |        j -> CAST(ascii(substring(text, j, 1)) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM g
        |), m AS (
        |  SELECT doc_id, n_grams, pos,
        |    min(h * 1048576 + (1048576 - pos)) OVER (
        |      PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mn
        |  FROM hh
        |), s AS (
        |  SELECT DISTINCT doc_id, mn // 1048576 AS h
        |  FROM m WHERE pos <= n_grams - 3
        |), a AS (
        |  SELECT doc_id, count(*) AS n_fingerprints,
        |    CAST(sum(h) AS BIGINT) AS fp_digest
        |  FROM s GROUP BY doc_id
        |)
        |SELECT d.doc_id, d.n_grams,
        |  coalesce(a.n_fingerprints, 0) AS n_fingerprints,
        |  coalesce(a.fp_digest, 0) AS fp_digest
        |FROM d LEFT JOIN a USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    "text_edit_distance" ->
      """WITH t AS (
        |  SELECT doc_id, n_chars // 8 AS len_bkt, string_split(text, ' ') AS toks,
        |    substr(regexp_replace(text, '[^ -~]', '', 'g'), 1, 200) AS head
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, len_bkt, head, list_distinct(list_transform(
        |    generate_series(1, greatest(len(toks) - 1, 1)),
        |    i -> concat_ws(' ', toks[i], toks[i + 1]))) AS grams FROM t)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.head, b.head) AS BIGINT) AS lev,
        |  levenshtein(a.head, b.head) = 0 AS head_exact
        |FROM g a JOIN g b
        |  ON a.len_bkt = b.len_bkt AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.grams, b.grams)) * 5 >=
        |      len(list_distinct(list_concat(a.grams, b.grams))) * 2
        |ORDER BY doc_a, doc_b""".stripMargin,
    "text_quality_gate" ->
      """SELECT doc_id, n_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        |  CASE WHEN n_chars < 50 THEN 'too_short'
        |       WHEN n_chars > 5000 THEN 'too_long'
        |       WHEN len(string_split(text, ' ')) < 10 THEN 'too_few_tokens'
        |       WHEN n_chars > len(string_split(text, ' ')) * 15 THEN 'gibberish'
        |       ELSE 'pass' END AS gate
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_pii_scrub" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com or +1-555-' ||
        |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS contact
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(contact, '[a-z0-9]+@[a-z0-9.]+\.[a-z]+')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(contact, '\+1-555-[0-9]{4}')) AS BIGINT) AS n_phones,
        |  md5(regexp_replace(regexp_replace(contact,
        |    '[a-z0-9]+@[a-z0-9.]+\.[a-z]+', '<EMAIL>', 'g'),
        |    '\+1-555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
        |FROM c ORDER BY doc_id""".stripMargin,
    "text_repetition_filter" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents
        |), tc AS (
        |  SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2
        |), ts AS (
        |  SELECT doc_id, max(c) AS max_tok,
        |    CAST(sum(c) AS BIGINT) AS n_tok
        |  FROM tc GROUP BY 1
        |), g0 AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(1, greatest(len(toks) - 1, 1)),
        |    i -> concat_ws(' ', toks[i], toks[i + 1]))) AS gram
        |  FROM g0
        |), gc AS (
        |  SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2
        |), gs AS (
        |  SELECT doc_id, max(c) AS max_gram,
        |    CAST(sum(c) AS BIGINT) AS n_gram
        |  FROM gc GROUP BY 1
        |)
        |SELECT ts.doc_id AS doc_id,
        |  max_tok * 10000 // n_tok AS top_tok_bp,
        |  max_gram * 10000 // n_gram AS top_gram_bp,
        |  (max_tok * 10000 // n_tok < 2000
        |    AND max_gram * 10000 // n_gram < 1800) AS keep
        |FROM ts JOIN gs ON ts.doc_id = gs.doc_id
        |ORDER BY ts.doc_id""".stripMargin,
    // Same rolling-hash/bucket/weight integer algebra; wsum is
    // non-negative so // and Spark's div agree.
    "text_classifier_score" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |), g AS (
        |  SELECT doc_id, list_concat(ws,
        |    list_transform(generate_series(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i + 1])) AS grams
        |  FROM t
        |), sc AS (
        |  SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_feats,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(grams, gr ->
        |        ((list_reduce(list_prepend(CAST(0 AS BIGINT),
        |            list_transform(generate_series(1, len(gr)),
        |              i -> CAST(ascii(substring(gr, i, 1)) AS BIGINT))),
        |          (h, c) -> (h * 31 + c) % 1000000007) % 4096)
        |         * 2654435761) % 2001)),
        |      (a, b) -> a + b) AS wsum
        |  FROM g
        |)
        |SELECT doc_id, n_feats, wsum // n_feats AS score_milli,
        |  wsum // n_feats >= 1000 AS keep
        |FROM sc ORDER BY doc_id""".stripMargin,
    // Same host synthesis + the same suffix explosion (list_slice is
    // end-inclusive where Spark's slice takes a length — both yield
    // labels i..n).
    "text_url_blocklist" ->
      """WITH t AS (
        |  SELECT doc_id, lang || '.' || source || '.example.org' AS host
        |  FROM documents
        |), sfx AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(string_split(host, '.'))),
        |    i -> array_to_string(list_slice(string_split(host, '.'), i,
        |      len(string_split(host, '.'))), '.'))) AS s
        |  FROM t
        |), b AS (
        |  SELECT DISTINCT doc_id FROM sfx
        |  WHERE s IN ('src3.example.org', 'src7.example.org',
        |    'de.src11.example.org', 'ads.example.net', 'tracker.invalid')
        |)
        |SELECT t.doc_id, t.host, b.doc_id IS NOT NULL AS blocked
        |FROM t LEFT JOIN b ON t.doc_id = b.doc_id
        |ORDER BY t.doc_id""".stripMargin
  )
}
