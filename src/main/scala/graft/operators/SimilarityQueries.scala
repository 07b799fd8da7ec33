package graft.operators

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Near-duplicate detection and similarity search beyond MinHash
  * (north-star mandate, BASELINE.json): SimHash, word-n-gram Jaccard,
  * embedding-cosine near-dup via sign-random-projection LSH, and ANN
  * top-k with LSH and IVF candidate stages. The reference
  * (`/root/reference/README.md:1-2`) contains no code; this surface is
  * derived per SURVEY.md §0/§2.K.
  *
  * Scale notes (100 TB):
  *  - SimHash/ngram/embedding dedup all follow the same shape as
  *    `dedup_minhash`: narrow per-row signature, candidate discovery by
  *    bucket join on compact keys, exact verification only on bucket
  *    cohabitants — never all pairs.
  *  - The n-gram blocking key (lang, length bucket) is a stand-in for
  *    whatever cheap blocking a corpus affords; the candidate join is
  *    payload-light either way.
  *  - ANN: brute force stays the correctness baseline (bounded query
  *    side, broadcast); the LSH variant is the scale path — candidates
  *    per query are a small fraction of the corpus and the per-bucket
  *    join parallelizes on the bucket key.
  */
object SimilarityQueries {

  // --- sign-random-projection LSH for embeddings -------------------

  /** 64 deterministic random hyperplanes in R^64 (fixed seed — part of
    * the operator definition, like MinHash's permutation constants),
    * shipped as ONE nested-array literal so the signature is a single
    * compact expression instead of 64 unrolled dot-product columns
    * (keeps analysis/codegen time flat as the signature widens).
    */
  private lazy val hyperplanes: Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(64)(Seq.fill(64)(rnd.nextGaussian()))
  }

  /** 8 x 8-bit sign-random-projection band values. 8-bit bands keep the
    * bucket collision rate at 1/256 per band for unrelated vectors (the
    * knob that keeps candidate volume ~linear at corpus scale), while
    * true near-dups (cos >= 0.9, per-bit agreement ~0.86) still land in
    * a shared bucket with probability ~0.93 across the 8 bands.
    * Computed by the codegen'd SignProjectionExpr — one fused loop nest
    * per row instead of 64 interpreted higher-order-function dot
    * products (the round-2 bench's dominant cost for this family).
    */
  private val bandCols: Column =
    graft.functions.SignProjectionExpr.bands(col("embedding"), hyperplanes, 8)

  /** (vec_id, emb_n) with the embedding pre-normalized: per-pair
    * cosine is then a single dot product. Candidate join-backs join it
    * UNHINTED on vec_id — at fixture scale AQE elects a runtime
    * broadcast from the observed size; at corpus scale (where this
    * table is corpus-sized and could never be a build side) the same
    * plan degrades gracefully to a shuffled equi join on vec_id.
    */
  private[operators] def embN(s: org.apache.spark.sql.SparkSession,
                   d: String): DataFrame = {
    // codegen'd self-dot for the norm (same left-to-right summation as
    // the interpreted fold it replaces)
    val embD = col("embedding").cast(ArrayType(DoubleType))
    embeddings(s, d)
      .withColumn("nrm",
        sqrt(graft.functions.DotProductExpr.dot(embD, embD)))
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType) / col("nrm"))
          .as("emb_n"))
  }

  /** (vec_id, band, band_val), one row per LSH band — ids only, so the
    * bucket self-join shuffles no vector payload at all.
    */
  private def lshBands(s: org.apache.spark.sql.SparkSession,
                       d: String): DataFrame =
    embeddings(s, d)
      .withColumn("bands", bandCols)
      .select(col("vec_id"),
        posexplode(col("bands")).as(Seq("band", "band_val")))

  /** Dot product of two pre-normalized vectors (= cosine), via the
    * codegen'd custom expression (graft.functions.DotProductExpr) —
    * left-to-right summation, bit-identical to the interpreted fold.
    */
  private def dotN(a: Column, b: Column): Column =
    graft.functions.DotProductExpr.dot(a, b)

  /** Every vector's centroids ranked by (cos DESC, cent_id ASC): THE
    * nearest-centroid assignment pass, shared by ivfTopk,
    * dedup_semantic, and IvfIndexBuilder's Lloyd/objective steps so a
    * tie-break tweak can never desynchronize the four call sites the
    * oracles and IvfIndexBuilderSpec prove bit-identical (r7 review).
    * `rn = 1` is the assignment; callers add their own slices.
    * Broadcast hinting of `cents` is the caller's decision.
    */
  private[operators] def centRanked(vecs: DataFrame,
                                    cents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("cent_id").asc)
    // r14 (guide §2.3 "project before the exchange"): the rank window
    // repartitions the (vector × centroid) product by vec_id, and the
    // old spelling carried the 64-double emb_n payload through that
    // exchange — N·nlist rows × ~520 B, an N^1.5-byte shuffle at IVF's
    // √N centroid sizing. The dot product only needs the payload
    // BEFORE the exchange, so compute cos map-side and shuffle the
    // 24 B (vec_id, cent_id, cos) triple instead; callers that need
    // the vectors join them back on vec_id AFTER their rn slice (the
    // id-only-then-join-back shape dedup_embedding_cosine already
    // uses). Ranking inputs are bit-identical, so the assignment —
    // and every oracle pairing built on it — is unchanged.
    vecs.crossJoin(cents)
      .select(col("vec_id"), col("cent_id"),
        graft.functions.DotProductExpr.dot(col("emb_n"), col("cent_vec"))
          .as("cos"))
      .withColumn("rn", row_number().over(w))
  }

  /** Exact cosine between two embedding columns (same summation order
    * as the DuckDB oracle formulation — bit-identical results).
    */
  private def cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      graft.functions.DotProductExpr.dot(
        x.cast(ArrayType(DoubleType)), y.cast(ArrayType(DoubleType)))
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Word-bigram Jaccard >= 0.4 near-dup pairs (the word-n-gram flavor
    * of n-gram dedup — char-n-gram sets are ~10x larger per doc for the
    * same corpus and the same candidate pairs, with no extra signal
    * here). Grams are 64-bit-hashed before the pair join: set sizes and
    * intersections over longs are identical to the string-set counts up
    * to negligible collision probability, the pair join shuffles far
    * fewer bytes, and union size is derived as |A| + |B| - |A∩B| so
    * only ONE set operation runs per pair. Shared by
    * `dedup_ngram_jaccard` and the `dedup_cc_clusters` pair graph
    * (LlmQueries).
    *
    * Blocking: length bucket (near-dups have near-identical length) +
    * size-ratio pruning in the join condition (j >= 0.4 implies
    * 5*min(|A|,|B|) >= 2*max — prunes before any array work); metadata
    * keys like `lang` are deliberately NOT blocking keys — true
    * duplicates can differ there (the fixture's cross-lang exact dups
    * prove it). The verify stage is the codegen'd
    * SortedIntersectCountExpr merge walk over hash-sorted gram arrays
    * — no per-pair hash-set allocation.
    *
    * The EXACT AllPairs/PPJoin prefix filter (df-ascending canonical
    * order, prefix length n - ceil(0.4 n) + 1, id-only equi-join on
    * exploded prefix grams) SHIPS as `ngramPrefixCandidatePairs` /
    * `dedup_ngram_prefix` below (r4), proven pair-identical to this
    * path. Since r6 the headline `ngramCandidatePairs` picks BETWEEN
    * the two stages by corpus size (see `BucketStageMaxDocs`): the
    * bucket join wins below a few thousand docs, where fixed
    * per-stage overhead dominates and the fixture's synthetic
    * 931-bigram vocabulary blunts rarest-first prefixes (135k prefix
    * candidates vs 197k bucket all-pairs at sf0.01 — 1.4x, not the
    * >= 5x a natural vocabulary gives); above it, bucket occupancy
    * grows linearly with the corpus and the all-pairs join grows
    * QUADRATICALLY — the r6 sf1 sweep measured 15.5 s vs the prefix
    * stage's 1.95 s at 50k docs (13x vs 2.3x per-decade slope), the
    * predicted crossover arriving on schedule. A probabilistic
    * MinHash-band prefilter was rejected outright: a borderline
    * j = 0.4 pair shares a 4x4 band with probability ~0.10, which
    * breaks the exact oracle pairing and the dedup_cc_clusters
    * component structure.
    */
  /** (doc_id, len_bkt, grams hash-sorted ascending, n_grams) — the
    * shared signature table of both word-bigram near-dup paths,
    * materialized once per (JVM, input dir): the bucket path reads it
    * twice (self-join sides) and the prefix path FOUR times (df
    * build, prefix ranking, both verify join-backs), and Spark does
    * no cross-branch common-subplan reuse — without the artifact the
    * corpus-wide tokenize+explode+sort would run once per reference.
    * Same rationale (and 100 TB story) as LlmQueries' gram tables:
    * a signature table is a corpus artifact, rebuilt when the corpus
    * changes, not per query. Values are deterministic and the
    * array<long> parquet roundtrip is exact, so results are
    * unchanged.
    */
  private[graft] def hashedGramTable(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    artifact(s, "gram_sigs", d) {
      documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        // sorted ascending for the merge-walk intersect
        .withColumn("grams", array_sort(array_distinct(expr(
          // try_element_at for the second token: a single-token doc
          // makes i reach one past the end, and ANSI mode (Spark 4
          // default) turns toks[i] out-of-bounds into a hard error
          // while the DuckDB oracle's concat_ws just skips the NULL —
          // try_element_at restores the skip on the Spark side too
          "transform(sequence(1, greatest(size(toks) - 1, 1)), i -> xxhash64(concat_ws(' ', toks[i - 1], try_element_at(toks, i + 1))))"))))
        .select(col("doc_id"),
          expr("n_chars div 8").as("len_bkt"), col("grams"),
          size(col("grams")).cast("long").as("n_grams"))
    }

  /** Exact verification of candidate (doc_a, doc_b) pairs: join back
    * both hash-sorted gram arrays, ONE codegen'd merge-walk intersect
    * per pair, derive the union as |A| + |B| - |A∩B|, keep j >= 0.4.
    */
  private def verifyJaccard(cands: DataFrame, grams: DataFrame): DataFrame =
    cands
      .join(grams.select(col("doc_id").as("doc_a"), col("grams").as("ga"),
        col("n_grams").as("na")), "doc_a")
      .join(grams.select(col("doc_id").as("doc_b"), col("grams").as("gb"),
        col("n_grams").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.functions.SortedIntersectCountExpr
          .count(col("ga"), col("gb")).as("inter_sz"),
        (col("na") + col("nb")).as("sz_sum"))
      .select(col("doc_a"), col("doc_b"), col("inter_sz"),
        (col("sz_sum") - col("inter_sz")).as("union_sz"))
      .filter(col("inter_sz") * 5 >= col("union_sz") * 2) // jaccard >= 0.4

  /** Bucket all-pairs candidate stage + inline verify over a gram
    * signature table: O(Σ bucket²) pairs — cheapest while buckets stay
    * small, quadratic once bucket occupancy grows with the corpus.
    */
  private def bucketPairs(grams: DataFrame): DataFrame =
    grams.as("a")
      .join(grams.as("b"),
        col("a.len_bkt") === col("b.len_bkt") &&
          col("a.doc_id") < col("b.doc_id") &&
          // size-ratio pruning: j >= 0.4 forces min/max >= 0.4
          least(col("a.n_grams"), col("b.n_grams")) * 5 >=
            greatest(col("a.n_grams"), col("b.n_grams")) * 2)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        graft.functions.SortedIntersectCountExpr
          .count(col("a.grams"), col("b.grams")).as("inter_sz"),
        (col("a.n_grams") + col("b.n_grams")).as("sz_sum"))
      .select(col("doc_a"), col("doc_b"), col("inter_sz"),
        (col("sz_sum") - col("inter_sz")).as("union_sz"))
      .filter(col("inter_sz") * 5 >= col("union_sz") * 2) // jaccard >= 0.4

  /** Skew-split (capped-bucket) variant of `bucketPairs` (r8): SURVEY
    * §8's "hot buckets capped at 100 TB, same playbook" made concrete
    * and RESULT-PRESERVING. Each length bucket's members are ranked by
    * doc_id and cut into chunks of `cap`; the self-join then runs
    * block-wise over chunk pairs (i, j), i <= j — the left side
    * explodes each doc to every target chunk j >= its own, the right
    * side to every source chunk i <= its own, and the equi-key becomes
    * (len_bkt, i, j). Every qualifying pair (a < b by doc_id, hence
    * chunk(a) <= chunk(b)) matches EXACTLY once at key (bkt, chunk(a),
    * chunk(b)), so the verified pair set is identical to the uncapped
    * join (CappedBucketSpec proves set equality on the fixture, and
    * `dedup_ngram_capped` pairs with the same DuckDB oracle) — while
    * no single join task ever holds more than cap² candidate pairs: a
    * hot bucket of size k spreads across (k/cap)² bounded tasks
    * instead of concentrating k² pairs on one key. Replication cost is
    * the per-doc chunk fan-out (k/cap rows per side) — linear, the
    * standard salted-self-join trade.
    */
  private[graft] def cappedBucketPairs(grams: DataFrame,
      cap: Int): DataFrame = {
    require(cap >= 1, s"chunk cap must be >= 1, got $cap")
    val w = Window.partitionBy(col("len_bkt")).orderBy(col("doc_id"))
    val chunked = grams.withColumn("ck",
      ((row_number().over(w) - 1) / cap).cast("int"))
    val nchunks = chunked.groupBy(col("len_bkt"))
      .agg(max(col("ck")).as("mx"))
    val left = chunked.join(broadcast(nchunks), "len_bkt")
      .withColumn("j", explode(expr("sequence(ck, mx)")))
    val right = chunked.withColumn("i", explode(expr("sequence(0, ck)")))
    left.as("a")
      .join(right.as("b"),
        col("a.len_bkt") === col("b.len_bkt") &&
          col("a.ck") === col("b.i") && col("a.j") === col("b.ck") &&
          col("a.doc_id") < col("b.doc_id") &&
          least(col("a.n_grams"), col("b.n_grams")) * 5 >=
            greatest(col("a.n_grams"), col("b.n_grams")) * 2)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        graft.functions.SortedIntersectCountExpr
          .count(col("a.grams"), col("b.grams")).as("inter_sz"),
        (col("a.n_grams") + col("b.n_grams")).as("sz_sum"))
      .select(col("doc_a"), col("doc_b"), col("inter_sz"),
        (col("sz_sum") - col("inter_sz")).as("union_sz"))
      .filter(col("inter_sz") * 5 >= col("union_sz") * 2) // jaccard >= 0.4
  }

  /** Corpus-size threshold of the cost-based candidate-stage pick in
    * `ngramCandidatePairs`. Measured (r6 sf1 sweep, same binary):
    * bucket all-pairs wins below a few thousand docs where fixed
    * per-stage overhead dominates (sf0.01: 0.21 s vs the prefix
    * path's extra df/rank shuffles), the prefix filter wins above it
    * and the gap grows with the square of bucket occupancy (sf0.1 =
    * 5 k docs: 1.03 vs 0.83 s; sf1 = 50 k docs: 15.5 vs 1.95 s — 8×,
    * and the 13×-per-decade bucket slope vs ~2.3× for prefix). Both
    * stages produce the PROVEN-identical verified pair set
    * (PrefixFilterSpec + the shared DuckDB oracle), so the pick is
    * semantics-free.
    */
  private[operators] val BucketStageMaxDocs = 2048L

  /** Near-dup candidate pairs with COST-BASED stage selection — the
    * engine's own mini-optimizer move, mirroring what Catalyst does
    * for join strategies: the corpus size (one parquet-metadata count
    * of the signature artifact) picks bucket all-pairs below
    * `BucketStageMaxDocs` and the AllPairs/PPJoin prefix filter above
    * it. Shared by `dedup_ngram_jaccard`, `text_edit_distance`, and
    * the `dedup_cc_clusters` pair graph, so the r6 fix bounds every
    * consumer of the pair stage at once.
    */
  /** Corpus size for the stage pick, read from the signature
    * artifact's parquet FOOTERS on every invocation (see ParquetMeta),
    * not cached: a data-derived value stays tied to the artifact it
    * was read from. The artifact is built by `hashedGramTable` before
    * this reads it, so the count is always of the current artifact.
    */
  private[operators] def ngramCandidatePairs(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val grams = hashedGramTable(s, d)
    val nDocs = graft.ParquetMeta.rowCount(
      graft.TempDirs.scoped("gram_sigs", d))
    if (nDocs <= BucketStageMaxDocs) bucketPairs(grams)
    else prefixPairs(grams)
  }

  /** The EXACT AllPairs/PPJoin prefix-filter candidate stage
    * (Chaudhuri/Bayardo): each doc keeps only the first
    * n - ceil(0.4 n) + 1 of its grams in a GLOBAL canonical order
    * (document frequency ascending, gram hash as tie-break — rarest
    * first), and candidates are doc pairs sharing >= 1 PREFIX gram.
    * Exactness: J(A,B) >= t implies |A∩B| >= t * max(|A|,|B|), so a
    * qualifying pair cannot confine its common grams to either doc's
    * canonical suffix of length ceil(t*n) - 1 — no false negatives.
    *
    * This is the 100 TB candidate stage for natural (Zipfian)
    * vocabularies, where rare-gram prefixes shrink candidate volume by
    * orders of magnitude; the fixture's synthetic 931-bigram
    * vocabulary is the measured exception (see the
    * `ngramCandidatePairs` scaladoc), which is why the headline
    * `dedup_ngram_jaccard` ships the (len_bkt, ratio) blocking and
    * this path is the declared alternative. The same (len_bkt, size
    * ratio) predicates apply post-join, so both paths define — and
    * provably produce (PrefixFilterSpec, plus the shared DuckDB
    * oracle) — the SAME pair set.
    *
    * Cost shape at scale: the df build and the rank window shuffle the
    * (doc, gram) pair table twice — both ∝ corpus gram volume, both
    * keyed on high-cardinality keys (gram, doc) — and the candidate
    * join explodes only prefix grams, whose per-gram fan-out the df
    * ordering deliberately minimizes.
    */
  private[operators] def ngramPrefixCandidatePairs(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    prefixPairs(hashedGramTable(s, d))

  private def prefixPairs(grams: DataFrame): DataFrame = {
    val gramRows = grams.select(col("doc_id"), col("len_bkt"),
      col("n_grams"), explode(col("grams")).as("gram"))
    val dfTable = gramRows.groupBy(col("gram"))
      .agg(count(lit(1)).as("df"))
    val wCanon = Window.partitionBy(col("doc_id"))
      .orderBy(col("df").asc, col("gram").asc)
    val prefixRows = gramRows
      .join(dfTable, "gram")
      .withColumn("pos", row_number().over(wCanon))
      // prefix length n - ceil(0.4 n) + 1; ceil(0.4 n) = (2n + 4) div 5
      .filter(col("pos") <= col("n_grams") -
        expr("(2 * n_grams + 4) div 5") + 1)
      // df = 1 grams can never match in the self-join (they exist in
      // ONE doc), so they are dead weight in the candidate exchange —
      // dropping them here is exact and, on a natural Zipfian
      // vocabulary, removes the long hapax tail before the join (r15;
      // no-op on the fixture's 931-gram synthetic vocabulary)
      .filter(col("df") >= 2)
      .select(col("gram"), col("doc_id"), col("len_bkt"), col("n_grams"))
      // r14 probe (guide §1.2): localCheckpoint here — the self-join
      // consumes this subtree twice — measured NO gain (anchored A/B:
      // jaccard 1.09-1.18 s plain vs 1.19-1.44 s checkpointed, prefix
      // flat). AQE exchange reuse dedups the two probe sides only up
      // to the LAST exchange, which sits below the rank window — the
      // sort + window + prefix filter DO run twice, once per join
      // side. REVERTED.
      // r15 probe (guide §2.4): an explicit gram-keyed repartition
      // here would move the reuse point ABOVE the window (both join
      // sides read one materialized shuffle, window computes once —
      // verified in TaskProbe: the duplicate window stage disappeared
      // and per-stage task time dropped 1.41 -> 1.22 s). Measured
      // SLOWER wall both ways it can be spelled (anchored A/B):
      // keyless-count repartition gets AQE-coalesced to ONE partition
      // (1.9 MB << the 64 MB advisory) and serializes the whole
      // downstream join+verify (jaccard 1.37-1.58 -> 1.88-1.99 s);
      // pinning shuffle-partitions-count explicitly restores
      // parallelism but still loses ~0.2-0.3 s/consumer to the extra
      // exchange + 32-task stage scheduling. At bench scale the
      // duplicated 3-task window recompute costs ~0.15 s wall — less
      // than one more shuffle boundary. REVERTED both; at cluster
      // scale the self-join's own gram exchanges make the same
      // subtree shareable without any extra hop.
    val cands = prefixRows.as("a")
      .join(prefixRows.as("b"),
        col("a.gram") === col("b.gram") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.len_bkt") === col("b.len_bkt") &&
          least(col("a.n_grams"), col("b.n_grams")) * 5 >=
            greatest(col("a.n_grams"), col("b.n_grams")) * 2)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(cands, grams)
  }

  /** IVF lookup over a (cent_id, cent_vec) centroid table: nearest-
    * centroid assignment builds the inverted lists, queries (vec_id <
    * 10) probe their nprobe=2 nearest lists, exact top-1 within the
    * probed candidates.
    *
    * ONE crossJoin + window pass ranks every vector's centroids; the
    * rn = 1 slice is the inverted-list assignment and the (vec_id <
    * 10, rn <= 2) slice is the probe set — both branches hang off the
    * identical vec_id exchange, which ReuseExchange materializes once.
    * (r3 computed the probe slice as a second crossJoin + window
    * wrapped in broadcast(): the broadcast subplan contained a
    * shuffle, so its materialization ran as a separate job racing the
    * 5-minute broadcast timeout — the 84 s driver-box spike in
    * BENCH_r03. No broadcast hint on the probe join here: AQE sees the
    * ~20-row probe side at runtime and converts the cent_id join to a
    * broadcast from the already-materialized shuffle output, no
    * separate racing job. At production scale nlist is thousands of
    * centroids, so even the static sort-merge fallback on cent_id is a
    * well-spread shuffle.)
    */
  private def ivfTopk(nrm: DataFrame, cents: DataFrame): DataFrame = {
    val ranked = centRanked(nrm, cents)
    // centRanked is id-only since r14 — join the normalized vectors
    // back AFTER the rn slices (bounded rows), not through the window
    val assigned = ranked.filter(col("rn") === 1)
      .join(nrm, "vec_id")
      .select(col("cent_id"), col("vec_id").as("c_id"),
        col("emb_n").as("c_n"))
    val probes = ranked.filter(col("vec_id") < 10 && col("rn") <= 2)
      .join(nrm, "vec_id")
      .select(col("vec_id").as("q_id"), col("emb_n").as("q_n"),
        col("cent_id"))
    val wTop = Window.partitionBy(col("q_id"))
      .orderBy(col("qc_cos").desc, col("c_id").asc)
    probes
      .join(assigned, "cent_id")
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("qc_cos", dotN(col("q_n"), col("c_n")))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("c_id").as("neighbor_id"))
      .orderBy(col("q_id"))
  }

  // --- product quantization -----------------------------------------

  /** PQ codebook: 8 subspaces x 4 centroids x 8 dims of deterministic
    * literal doubles (integer lattice scaled by 1/9 — part of the
    * operator definition, like the LSH hyperplanes; a real pipeline
    * trains these per-corpus and ships them as literals the same way).
    */
  private lazy val pqCentroids: Seq[Double] =
    for {
      m <- 0 until 8; k <- 0 until 4; j <- 0 until 8
    } yield (((m * 131 + k * 47 + j * 13) % 19) - 9) / 9.0

  /** Deterministic PQ probe vector (integer lattice scaled by 1/8). */
  private lazy val pqQuery: Seq[Double] =
    (0 until 64).map(i => (((i * 31) % 17) - 8) / 8.0)

  /** The query's 8x4 ADC distance table, precomputed ONCE driver-side
    * with the same ascending-dim `acc + diff * diff` fold the oracle's
    * qdt CTE runs — bit-identical doubles, shipped as a literal.
    */
  private lazy val pqQueryTable: Seq[Seq[Double]] =
    (0 until 8).map { m =>
      (0 until 4).map { k =>
        var s = 0.0
        var j = 0
        while (j < 8) {
          val diff = pqQuery(m * 8 + j) - pqCentroids((m * 4 + k) * 8 + j)
          s += diff * diff
          j += 1
        }
        s
      }
    }

  private def sqlArr(xs: Seq[Double]): String =
    xs.mkString("[", ", ", "]")

  val queries: Map[String, Q] = Map(
    // Product-quantization ADC top-k (r6): the memory-compression arm
    // of the ANN family (IVF partitions the corpus, LSH buckets it,
    // PQ shrinks each vector to M*log2(K) bits). Encode: each
    // vector's 8
    // 8-dim subvectors map to their nearest of 4 literal centroids
    // (argmin by ordered-fold squared distance, first-minimum
    // tie-break); search: asymmetric distance — the query's 8x4
    // distance table is built ONCE and each vector's approximate
    // distance is 8 table lookups summed in subspace order. Scale
    // shape: codes are 16 bits/vector (vs 256 float bytes), the scan
    // is map-only, and the top-10 is TakeOrderedAndProject — at
    // 100 TB the code table is the build-once index artifact and ADC
    // never touches the raw vectors. Oracle-exact: centroids/query
    // are shared literals (Double.toString round-trips), every float
    // fold is ordered, min/equality on doubles is exact, and the
    // emitted distance rounds to micro-units.
    // Embedding-table diagnostics (r8): per-label vector counts and
    // squared-norm extremes — the first sanity panel of an embedding
    // corpus (a broken encoder or un-normalized batch shows up as a
    // norm-range outlier before any similarity query runs). Squared
    // norms via the codegen'd ordered-fold self-dot (bit-identical to
    // the DuckDB mirror); min/max are exact value PICKS, so the
    // double outputs hash cleanly where a mean's summation order
    // would not. One narrow scan + map-combined aggregate.
    // Embedding-diversity audit (r12): histogram of pairwise cosines
    // over a deterministic hash sample — the corpus-level "are my
    // embeddings collapsing onto a few directions?" check run before
    // choosing dedup/similarity thresholds (a distribution massed near
    // 1.0 says the encoder or the dedup threshold is wrong). Sample =
    // vec_ids whose md5 first hex digit is '0' (1/16 — the
    // ts_outlier_sampled hash-sample trick, so the pair volume is
    // SAMPLE-bounded, not corpus-bounded; at 100 TB the rate becomes a
    // fixed-size reservoir and the all-pairs stage stays ~10⁴ rows).
    // Both engines compute the identical IEEE cosine (ordered-fold dot
    // over identically normalized lists — the proven ann_ivf mirror),
    // so floor-of-cos×10 bucket membership is exact; the top bucket
    // clamps cos = 1.0 into [0.9, 1.0].
    "emb_diversity_histogram" -> ((s, d) => {
      val samp = embN(s, d).filter(
        substring(md5(col("vec_id").cast("string")), 1, 1) === "0")
      samp.as("a").crossJoin(samp.as("b"))
        .filter(col("a.vec_id") < col("b.vec_id"))
        .select(dotN(col("a.emb_n"), col("b.emb_n")).as("cos"))
        .select(greatest(lit(-10),
          least(lit(9), floor(col("cos") * 10).cast("int"))).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    }),

    "emb_norm_stats" -> ((s, d) => {
      val selfDot = graft.functions.DotProductExpr.dot(
        col("embedding").cast(ArrayType(DoubleType)),
        col("embedding").cast(ArrayType(DoubleType)))
      embeddings(s, d)
        .withColumn("sq", selfDot)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          min(col("sq")).as("min_sq"),
          max(col("sq")).as("max_sq"))
        .orderBy(col("label"))
    }),

    // Exact embedding covariance (r9): the d×d second-moment table —
    // the whitening/PCA-prep statistic every embedding pipeline
    // computes before dimensionality work. Components quantize to
    // milli-units (part of the operator contract, deterministic), so
    // the upper-triangle covariance NUMERATOR n·ΣXᵢXⱼ − ΣXᵢ·ΣXⱼ is
    // exact BIGINT arithmetic — associative, partitioning-invariant,
    // byte-identical cross-engine where a double accumulation would
    // hash-diverge. Shape (r10, replacing the posexplode self-join
    // that materialized N·d² rows — 82 M at sf1): ONE scan feeding the
    // mergeable GramCovAgg sufficient-stats aggregate — per-partition
    // partial Gram buffers (~17 KB each at d=64), a single tiny merge,
    // and a 2080-struct explode. Corpus size enters only the scan.
    "emb_covariance" -> ((s, d) =>
      graft.api.GraftOps.covarianceNumerators(embeddings(s, d),
          "embedding", "vec_id")
        .orderBy(col("i"), col("j"))),

    // Per-label centroids (r12): the class-mean vector table —
    // the primitive behind IVF coarse quantizers, contrastive
    // negative mining and embedding-drift monitors (compare a
    // snapshot's centroids against the blessed ones). Components
    // quantized to exact integer MILLI units first (the
    // emb_covariance playbook), so the per-(label, dim) sums are
    // associative integer arithmetic — partitioning/order-invariant
    // where a float fold would hash-diverge — then ONE IEEE division
    // to micro-units per output row (sum·1000 < 2^53, exact in
    // double; `div` is avoided: Spark truncates toward zero while
    // DuckDB floors, which diverges on negative sums). Scale: one
    // narrow posexplode map + one map-combined (label, dim) agg —
    // shuffled bytes ∝ labels × d, never ∝ corpus.
    "emb_label_centroids" -> ((s, d) =>
      embeddings(s, d)
        .select(col("label"),
          posexplode(expr(
            "transform(embedding, x -> cast(round(cast(x as double) * 1000.0) as bigint))")))
        .groupBy(col("label"), col("pos"))
        .agg(count(lit(1)).as("n"), sum(col("col")).as("sum_milli"))
        .select(col("label"), col("pos").cast("long").as("dim"), col("n"),
          expr("cast(round(cast(sum_milli as double) * 1000.0d / " +
            "cast(n as double)) as bigint)").as("centroid_micro"))
        .orderBy(col("label"), col("dim"))),

    // Distance-to-centroid outliers (r12): the 20 vectors farthest
    // from their own label's centroid — the mislabeled-embedding /
    // corrupt-encode audit run after every batch embed job (a vector
    // far from its class mean is a label error, a truncated decode,
    // or genuine tail data — all worth a look before training).
    // EXACT integer: milli-quantized components ×1000 minus the
    // micro centroid give integer deviations (|dv| ≤ 2·10⁶, Σ of 64
    // squares ≤ 2.6·10¹⁴ — comfortably int64), so dist² hash-matches
    // and the (dist² DESC, vec_id) order is total. Scale: the
    // centroid table (labels × d rows) BROADCASTS onto one narrow
    // posexplode pass; per-vector sum is a map-combined vec_id agg;
    // global top-20 is TakeOrderedAndProject, never a full sort.
    "emb_outlier_distance" -> ((s, d) => {
      val q = embeddings(s, d)
        .select(col("vec_id"), col("label"),
          posexplode(expr(
            "transform(embedding, x -> cast(round(cast(x as double) * 1000.0) as bigint))")))
        .select(col("vec_id"), col("label"), col("pos").as("dim"),
          col("col").as("qm"))
      val cent = q.groupBy(col("label"), col("dim"))
        .agg(count(lit(1)).as("n"), sum(col("qm")).as("sm"))
        .select(col("label"), col("dim"),
          expr("cast(round(cast(sm as double) * 1000.0d / " +
            "cast(n as double)) as bigint)").as("cm"))
      q.join(broadcast(cent), Seq("label", "dim"))
        .select(col("vec_id"), col("label"),
          (col("qm") * 1000L - col("cm")).as("dv"))
        .groupBy(col("vec_id"), col("label"))
        .agg(sum(col("dv") * col("dv")).as("dist2"))
        .orderBy(col("dist2").desc, col("vec_id"))
        .limit(20)
    }),

    // Dominant principal component via POWER ITERATION (r9): five
    // matrix-vector products against the exact integer covariance
    // numerator (the emb_covariance algebra — every entry < 2^53, so
    // the DOUBLE image is exact), max-norm normalization between
    // rounds (five rounds: the spec's eigenvector-parallelism check
    // needs cos(Mv, v) > 0.99 on this spectrum), sign pinned by the
    // first component — the PCA primitive
    // embedding pipelines run for whitening/drift. Cross-engine
    // determinism: each matvec row is an ORDERED fold over the 64
    // j-terms (sorted struct list), normalization and sign are IEEE
    // ops on identical doubles, so five rounds stay bit-identical
    // and the micro-unit output hashes. Scale shape: the d×d matrix
    // (d=64) is a broadcast-sized artifact from ONE fact pass; every
    // iteration is arithmetic over 64² rows — corpus size only enters
    // pass one (the covariance aggregate).
    "emb_pca_power" -> ((s, d) => {
      // The d×d matrix is a build-once parquet artifact (the gram
      // table / IVF centroid pattern): a pure plan re-executes the
      // covariance pass once per lineage reference — the union doubles
      // it and each of the five matvec rounds re-expands it (measured
      // 12.3 s at sf1 in a join formulation; 10× the single
      // pass). Materialized, the fact table is touched exactly once
      // and every round is a 4096-row scan.
      val m = artifact(s, "pca_cov", d) {
        // pass one = the emb_covariance GramCovAgg scan: one
        // fact pass, mergeable per-partition sufficient stats, no
        // N·d² join; the DOUBLE image of the < 2^53 numerators is
        // exact, so the matvec algebra is unchanged
        val upper = embeddings(s, d)
          .select(expr(
            "transform(embedding, x -> cast(round(cast(x as double) * 1000.0) as bigint))")
            .as("q"))
          .agg(graft.functions.GramCovAgg.gram(col("q")).as("st"))
          .select(explode(col("st")).as("e"))
          .select(col("e.i").as("i"), col("e.j").as("j"),
            col("e.cov_num").cast("double").as("mv"))
        upper.unionByName(
          upper.filter(col("i") < col("j"))
            .select(col("j").as("i"), col("i").as("j"), col("mv")))
      }
      // Five power-iteration rounds on ONE bounded task (r10): the
      // matrix is d² rows BY CONSTRUCTION (corpus-independent), and
      // the previous dataframe spelling launched ~15 tiny shuffle
      // stages (join + fold-agg + norm cross per round) whose launch
      // latency dominated the warm time (~1.2 s of 1.5 s). The local
      // loop replicates the old expression tree bit-for-bit: the
      // matvec is the same j-ascending left-to-right IEEE fold the
      // sort_array(collect_list(struct)) aggregate performed, max-norm
      // and sign are the same IEEE ops, and the micro rounding is the
      // same Double.toString-exact HALF_UP BigDecimal Spark's round()
      // uses — the DuckDB oracle is untouched and stays hash-green.
      val ss = s
      import ss.implicits._
      m.select(col("i").cast("int"), col("j").cast("int"), col("mv"))
        .as[(Int, Int, Double)]
        .coalesce(1)
        .mapPartitions { rows =>
          val entries = rows.toArray
          if (entries.isEmpty) Iterator.empty
          else {
            val dims = entries.map(_._1).distinct.sorted
            val idx = dims.zipWithIndex.toMap
            val n = dims.length
            val mat = Array.fill(n, n)(0.0)
            entries.foreach { case (i, j, mv) => mat(idx(i))(idx(j)) = mv }
            var v = Array.fill(n)(1.0)
            var r = 0
            while (r < 5) {
              val u = new Array[Double](n)
              var a = 0
              while (a < n) {
                var acc = 0.0
                var b = 0
                while (b < n) { acc += mat(a)(b) * v(b); b += 1 }
                u(a) = acc
                a += 1
              }
              var nrm = 0.0
              a = 0
              while (a < n) {
                val x = math.abs(u(a)); if (x > nrm) nrm = x; a += 1
              }
              a = 0
              while (a < n) { u(a) = u(a) / nrm; a += 1 }
              v = u
              r += 1
            }
            val sgn =
              if (idx.contains(1) && v(idx(1)) < 0) -1.0 else 1.0
            dims.iterator.zipWithIndex.map { case (dim, k) =>
              (dim.toLong,
                java.math.BigDecimal.valueOf(v(k) * sgn * 1e6)
                  .setScale(0, java.math.RoundingMode.HALF_UP)
                  .longValue())
            }
          }
        }
        .toDF("i", "eig_micro")
        .orderBy(col("i"))
    }),

    "ann_pq_topk" -> ((s, d) =>
      embeddings(s, d)
        // fused codegen'd encode (graft.functions.PqEncodeExpr): one
        // primitive loop nest per row instead of ~256 interpreted
        // lambda steps — the interpreted HOF form measured 4.1 s over
        // 2 k vectors at sf0.1 (r6 sweep), two orders over the scan
        .withColumn("codes",
          graft.functions.PqEncodeExpr.codes(col("embedding"),
            pqCentroids, 8, 4, 8))
        // the query's 8x4 distance table is a driver-side literal
        // (same ordered fold as the oracle's qdt CTE); ADC is 8
        // lookups summed in subspace order
        .withColumn("qdt", array(pqQueryTable.map(r =>
          array(r.map(lit): _*)): _*))
        .withColumn("adc", expr(
          "aggregate(sequence(0, 7), cast(0.0 as double), (a, m) -> " +
            "a + element_at(element_at(qdt, m + 1), " +
            "cast(element_at(codes, m + 1) + 1 as int)))"))
        .select(col("vec_id"),
          expr("aggregate(codes, cast(0 as bigint), (a, c) -> a * 4 + c)")
            .as("code_pack"),
          expr("cast(round(adc * 1000000) as bigint)").as("adc_u"))
        .orderBy(col("adc_u"), col("vec_id"))
        .limit(10)),

    // Symmetric int8 embedding quantization (r6): the compression
    // step ANN stores and training pipelines run over every vector —
    // q_i = round(x_i * 127 / max|x|), all of [-127, 127] reachable,
    // zero stays zero. Per-row discipline only: the max|x| fold is
    // exact (max is associative-commutative in IEEE), the per-element
    // divide-round happens elementwise with the SAME double literals
    // both engines, and all emitted aggregates (sum, L1, nonzero
    // count) are integer folds over the quantized values. Scale
    // shape: pure narrow map over the vector column — no shuffle but
    // the output sort; at 100 TB this runs fused into the scan that
    // writes the ANN index artifact.
    "emb_quantize_int8" -> ((s, d) =>
      embeddings(s, d)
        .withColumn("v", expr("transform(embedding, x -> cast(x as double))"))
        .withColumn("maxabs", expr(
          "aggregate(v, cast(0.0 as double), (a, x) -> greatest(a, abs(x)))"))
        .withColumn("q", expr(
          "transform(v, x -> case when maxabs = 0.0 then cast(0 as bigint) " +
            "else cast(round(x * 127.0 / maxabs) as bigint) end)"))
        .select(col("vec_id"),
          size(col("q")).cast("long").as("dim"),
          expr("cast(round(maxabs / 127.0 * 1000000) as bigint)")
            .as("scale_u"),
          expr("aggregate(q, cast(0 as bigint), (a, x) -> a + x)")
            .as("sum_q"),
          expr("aggregate(q, cast(0 as bigint), (a, x) -> a + abs(x))")
            .as("l1_q"),
          expr("cast(size(filter(q, x -> x != 0)) as bigint)").as("nnz_q"))
        .orderBy(col("vec_id"))),

    // Sign-bit-packed Hamming retrieval (r13): binarize each 64-dim
    // embedding to ONE long (bit i set iff dim i >= 0) and rank the
    // corpus by Hamming distance to each probe — the 32× binary-
    // embedding compression tier (256 B floats → 8 B) production
    // retrieval uses as its first-pass filter at 100 TB: the scan
    // reads 8 B/vector and distance is one xor+popcount. Packing and
    // distance are pure integer ops on the exact float signs, so the
    // ranking is oracle-paired bit-for-bit (unlike recall-
    // probabilistic ANN); ties break (hamming ASC, vec_id ASC).
    "emb_bitpack_hamming" -> ((s, d) => {
      val packed = embeddings(s, d).select(col("vec_id"), expr(
        "aggregate(transform(sequence(0, 63), " +
          "i -> case when element_at(embedding, i + 1) >= 0f " +
          "then shiftleft(cast(1 as bigint), i) else cast(0 as bigint) end), " +
          "cast(0 as bigint), (a, x) -> a + x)").as("sig"))
      val probes = packed.filter(col("vec_id") < 3)
        .select(col("vec_id").as("probe_id"), col("sig").as("psig"))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("hamming"), col("vec_id"))
      broadcast(probes).join(packed, col("probe_id") =!= col("vec_id"))
        .withColumn("hamming", expr("cast(bit_count(psig ^ sig) as bigint)"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("probe_id"), col("rank"),
          col("vec_id").as("neighbor_id"), col("hamming"))
        .orderBy(col("probe_id"), col("rank"))
    }),

    // Matryoshka (MRL) coarse-to-fine retrieval (r7): rank the corpus
    // by cosine over the FIRST 8 dims only (the truncation tier an
    // MRL-trained embedding is built for — an 8x smaller scan), keep
    // the top 16 candidates per query, then re-rank exactly that
    // sliver by full-64-dim cosine and emit the top 3. The funnel is
    // the production shape for dimension-tiered retrieval: the coarse
    // tier reads 1/8th of the vector bytes (at scale: a separate
    // narrow column / int8 artifact), the expensive full-dim cosine
    // touches 16 rows per query. Both tiers are the ordered-fold
    // cosine with total tie-orders (score desc, c_id asc), so the
    // candidate SET and the final ranking are engine-exact —
    // oracle-paired end to end, unlike recall-probabilistic ANN.
    "emb_mrl_topk" -> ((s, d) => {
      val e = embeddings(s, d).withColumn("t", slice(col("embedding"), 1, 8))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("t").as("q_t"),
          col("embedding").as("q_f"))
      val c = e.select(col("vec_id").as("c_id"), col("t").as("c_t"),
        col("embedding").as("c_f"))
      val wc = Window.partitionBy(col("q_id"))
        .orderBy(col("ccos").desc, col("c_id").asc)
      val wf = Window.partitionBy(col("q_id"))
        .orderBy(col("fcos").desc, col("c_id").asc)
      broadcast(q).join(c, col("q_id") =!= col("c_id"))
        .withColumn("ccos", cosine(col("q_t"), col("c_t")))
        .withColumn("crk", row_number().over(wc))
        .filter(col("crk") <= 16)
        .withColumn("fcos", cosine(col("q_f"), col("c_f")))
        .withColumn("rank", row_number().over(wf))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("rank"), col("c_id").as("neighbor_id"))
        .orderBy(col("q_id"), col("rank"))
    }),

    // SimHash near-dup: 4 x 16-bit band join guarantees recall of all
    // pairs with hamming distance <= 3 (pigeonhole), verified exactly
    // via bit_count(xor). ORACLE-PAIRED (r11): the per-document token
    // hash histogram (doc_id, n_chars, token-hash, count) lands as a
    // durable artifact — the SimHashAgg buffer is a pure function of
    // it — and DuckDB recomputes the 64 sign counters, the per-band
    // msb-first pack, the length-bucket blocking and the hamming <= 3
    // gate from that artifact.
    "dedup_simhash" -> ((s, d) => {
      graft.TempDirs.durableOnce("simhash_tok", d,
        graft.TempDirs.fingerprintOf(s"$d/documents.parquet")) { dir =>
        documents(s, d)
          .select(col("doc_id"), col("n_chars"),
            explode(split(col("text"), " ")).as("tok"))
          .withColumn("h", xxhash64(col("tok")))
          .groupBy(col("doc_id"), col("n_chars"), col("h"))
          .agg(count(lit(1)).as("cnt"))
          .coalesce(1).write.mode("overwrite").parquet(dir)
      }
      // Term-frequency-weighted 64-bit SimHash via the custom
      // SimHashAgg TypedImperativeAggregate: explode tokens, one
      // aggregate column per doc whose buffer is the 64 sign counters
      // and whose merge is elementwise add — map-side partial
      // aggregation applies and the shuffled state is 256 B/doc
      // regardless of document length. (r3 shipped this as a
      // 64-column sum(when(...)) hash aggregate; the generated code
      // cost ~7 s of one-time Janino compilation and collapsed to
      // 35 s under driver-box CPU contention — VERDICT r3. The
      // aggregate emits the same packed band values bit-for-bit,
      // asserted in SimilaritySpec.)
      val sigs = documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          explode(split(col("text"), " ")).as("tok"))
        .withColumn("h", xxhash64(col("tok")))
        .groupBy(col("doc_id"), col("n_chars"))
        .agg(graft.functions.SimHashAgg.bands(col("h")).as("b4"))
        // the four 16-bit bands concatenate into the two 32-bit
        // signature halves (a single 64-bit pack overflows ANSI long);
        // candidate blocking: 16-bit signature bands + a coarse length
        // bucket (near-dup documents have near-equal length; the
        // bucket keeps shared-vocabulary corpora from flooding the
        // bucket join)
        .select(col("doc_id"),
          (element_at(col("b4"), 1) * 65536 + element_at(col("b4"), 2))
            .as("sim_lo"),
          (element_at(col("b4"), 3) * 65536 + element_at(col("b4"), 4))
            .as("sim_hi"),
          expr("n_chars div 32").as("len_bkt"),
          posexplode(col("b4")).as(Seq("band", "band_val")))
      // probe side fans out to the three adjacent length buckets, so a
      // pair is never lost to an arbitrary 32-char bucket BOUNDARY:
      // recall is guaranteed for hamming <= 3 pairs whose length
      // difference is <= 32 chars (pairs with a larger length gap are
      // out of blocking scope by design — stated in SURVEY §2.K).
      // Equi-keys stay (band, band_val, bucket); probe volume is 3x.
      val probes = sigs
        .withColumn("len_bkt_probe", explode(array(
          col("len_bkt") - 1, col("len_bkt"), col("len_bkt") + 1)))
      probes.as("a")
        .join(sigs.as("b"),
          col("a.band") === col("b.band") &&
            col("a.band_val") === col("b.band_val") &&
            col("a.len_bkt_probe") === col("b.len_bkt") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          (bit_count(col("a.sim_lo").bitwiseXOR(col("b.sim_lo"))) +
            bit_count(col("a.sim_hi").bitwiseXOR(col("b.sim_hi"))))
            .as("hamming"))
        .filter(col("hamming") <= 3)
        .select(col("doc_a"), col("doc_b"))
        .distinct()
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Word-bigram Jaccard near-dup; candidate stage is COST-PICKED by
    // corpus size (bucket all-pairs small, AllPairs prefix filter at
    // scale — both proven pair-identical, see ngramCandidatePairs).
    "dedup_ngram_jaccard" -> ((s, d) =>
      ngramCandidatePairs(s, d).orderBy(col("doc_a"), col("doc_b"))),

    // The SAME near-dup pair set via the exact AllPairs/PPJoin
    // df-ordered prefix filter — the natural-vocabulary 100 TB
    // candidate stage (see ngramPrefixCandidatePairs). Oracle-paired
    // with the IDENTICAL SQL as dedup_ngram_jaccard: the prefix filter
    // is provably lossless, so two algorithmically different candidate
    // stages must hash to the same result — double-entry bookkeeping
    // at the operator level.
    "dedup_ngram_prefix" -> ((s, d) =>
      ngramPrefixCandidatePairs(s, d).orderBy(col("doc_a"), col("doc_b"))),

    // The SAME pair set a THIRD way (r8): the skew-split capped-bucket
    // join — every bucket block-joined in cap²-bounded chunk-pair
    // tasks (see cappedBucketPairs). cap = 64 caps any task at 4096
    // candidate pairs regardless of how hot a bucket gets; identical
    // oracle SQL, so the split must be provably result-preserving.
    // Sorted-neighborhood dedup (r9): the classic entity-resolution
    // alternative to set-similarity blocking — sort records by a
    // normalized key, compare each record only with its w−1 sort
    // neighbors. Spelled as lead() on the rank window, NOT a ranked
    // self-join: a self-join on (block, rank offset) hands the merge
    // join every same-block pair — Σ block² condition evaluations
    // (43 M at sf1, where one task spent 20+ min inside the
    // levenshtein conjunct before this spelling replaced it) — while
    // lead() hands each row exactly its two neighbors, so the
    // expensive gate runs ≤ 2·N times BY CONSTRUCTION, the linear
    // guarantee that is SNM's entire point. Gate: byte-exact
    // levenshtein over the 48-char key head (ASCII fixture — both
    // engines count the same edits). Blocks cap the window sort
    // (vocabulary-bounded here; prefix length is the standard
    // per-corpus SNM knob).
    "dedup_sorted_neighbors" -> ((s, d) => {
      val w = Window.partitionBy(col("blk")).orderBy(col("k"), col("doc_id"))
      val ranked = documents(s, d).select(col("doc_id"),
          lower(substring(col("text"), 1, 32)).as("k"),
          lower(substring(col("text"), 1, 6)).as("blk"),
          lower(substring(col("text"), 1, 48)).as("k48"))
        .select(col("doc_id"), col("k48"),
          lead(col("doc_id"), 1).over(w).as("n1_id"),
          lead(col("k48"), 1).over(w).as("n1_k"),
          lead(col("doc_id"), 2).over(w).as("n2_id"),
          lead(col("k48"), 2).over(w).as("n2_k"))
      val pairs = ranked
        .filter(col("n1_id").isNotNull)
        .select(col("doc_id").as("doc_a"), col("n1_id").as("doc_b"),
          col("k48").as("ka"), col("n1_k").as("kb"))
        .unionByName(ranked.filter(col("n2_id").isNotNull)
          .select(col("doc_id").as("doc_a"), col("n2_id").as("doc_b"),
            col("k48").as("ka"), col("n2_k").as("kb")))
      pairs.filter(levenshtein(col("ka"), col("kb")) <= 12)
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("ka"), col("kb")).cast("long").as("lev"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    "dedup_ngram_capped" -> ((s, d) =>
      cappedBucketPairs(hashedGramTable(s, d), 64)
        .orderBy(col("doc_a"), col("doc_b"))),

    // Embedding near-dup: LSH buckets -> exact cosine >= 0.45 on
    // cohabitants. Id-only output (floats never leave the plan).
    // Oracle-paired: the sign projections are literal-hyperplane
    // ordered-fold dots and the cosine gate is the same left-to-right
    // double summation — both DuckDB-expressible (lshSignatureSql).
    // Recall remains probabilistic by construction (stated in SURVEY
    // §2.K); the oracle mirrors the SAME bucket structure, so the
    // comparison is exact, not recall-dependent.
    "dedup_embedding_cosine" -> ((s, d) => {
      val bands = lshBands(s, d)
      val nrm = embN(s, d)
      // id-only bucket join -> distinct pairs -> UNHINTED join-back of
      // the normalized vectors on vec_id (AQE elects broadcast at
      // fixture scale; shuffled equi join at corpus scale — the
      // corpus-sized vector table is never a forced build side) ->
      // ONE dot product per unique pair
      bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") &&
            col("a.band_val") === col("b.band_val") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
        .distinct()
        .join(nrm.select(col("vec_id").as("vec_a"),
          col("emb_n").as("na")), "vec_a")
        .join(nrm.select(col("vec_id").as("vec_b"),
          col("emb_n").as("nb")), "vec_b")
        .filter(dotN(col("na"), col("nb")) >= 0.45)
        .select(col("vec_a"), col("vec_b"))
        .orderBy(col("vec_a"), col("vec_b"))
    }),

    // Embedding-space benchmark decontamination (r7): drop training
    // vectors semantically too close to any EVAL-SET item — the
    // embedding arm of decontamination (contamination_ngram is the
    // lexical arm; modern pipelines run both, since paraphrased
    // benchmark leakage defeats n-gram checks). The benchmark side is
    // BOUNDED by definition (an eval set, here the first 20 corpus
    // vectors — the fixture carries no separate benchmark table), so
    // it broadcasts and the corpus-side check is MAP-SIDE: a
    // broadcast-nested-loop LEFT SEMI with the cosine >= 0.45 gate,
    // no corpus shuffle anywhere but the output sort; only matched
    // ids (bounded by the hit rate) deduplicate for the flag
    // join-back. Oracle-paired bit-exactly via the ordered-fold dot.
    "contamination_embedding" -> ((s, d) => {
      val nrm = embN(s, d)
      val bench = broadcast(nrm.filter(col("vec_id") < 20)
        .select(col("vec_id").as("b_id"), col("emb_n").as("b_n")))
      val hit = nrm.join(bench,
          col("vec_id") =!= col("b_id") &&
            dotN(col("emb_n"), col("b_n")) >= 0.45,
          "left_semi")
        .select(col("vec_id"))
      nrm
        .join(hit.withColumn("contaminated", lit(true)), Seq("vec_id"),
          "left")
        .select(col("vec_id"),
          coalesce(col("contaminated"), lit(false)).as("contaminated"))
        .orderBy(col("vec_id"))
    }),

    // SemDeDup-style semantic dedup (r7): cluster-scoped embedding
    // dedup — the OTHER scale path for embedding near-dup vs the
    // LSH-bucketed `dedup_embedding_cosine` (SemDeDup, Abbas et al.
    // 2023: cluster first, compare only within clusters). Vectors are
    // assigned to their nearest of the 16 fixed deterministic coarse
    // centroids (exactly the ann_ivf_topk assignment pass — one
    // broadcast crossJoin + one vec_id-partitioned window), then ONLY
    // same-cluster pairs are compared: a vector is a semantic
    // duplicate iff some smaller-id cluster-mate has cosine >= 0.45
    // (deterministic min-id survivor in ONE parallel pass — the
    // paper's sequential greedy has no order-free scalable
    // equivalent, and min-id-wins is the same convention as
    // dedup_keep_canonical). Scale shape: candidate volume is
    // sum over clusters of |c|^2, not N^2; nlist is SIZED FROM THE
    // CORPUS as ~sqrt(N) via IvfIndexBuilder.nlistFor (r10 — the
    // sqrt(N) scaling is code, not prose: bounded ~sqrt(N) cluster
    // sizes, skew on the cent_id-keyed pair join handled by AQE). In
    // production the centroids come from the offline k-means artifact
    // (`ann_ivf_built_topk`'s build); here a deterministic id slice
    // keeps the oracle exact — DuckDB computes the SAME
    // greatest(4, ceil(sqrt(count))) in its cents CTE. The dup-id
    // join-back is unhinted id-equi (AQE broadcasts at fixture
    // scale). Oracle-paired bit-exactly: the IVF assignment mirror +
    // the embedding-cosine ordered-fold gate, combined.
    "dedup_semantic" -> ((s, d) => {
      val nrm = embN(s, d)
      // corpus count from the fixture's own parquet footers, re-read
      // per invocation (r15 — replaces the r14 TrieMap memo of a
      // count() job the verdict flagged; equals embeddings.count()
      // by the parquet spec, costs ~1 ms of footer I/O, caches
      // nothing between invocations)
      val k = IvfIndexBuilder.nlistFor(
        graft.ParquetMeta.rowCount(s"$d/embeddings.parquet"))
      val cents = broadcast(
        nrm.filter(col("vec_id") >= 100 && col("vec_id") < 100L + k)
          .select(col("vec_id").as("cent_id"), col("emb_n").as("cent_vec")))
      val assigned = centRanked(nrm, cents)
        .filter(col("rn") === 1)
        .join(nrm, "vec_id") // id-only centRanked since r14 (see its doc)
        .select(col("vec_id"), col("cent_id"), col("emb_n"))
      val dups = assigned.as("a").join(assigned.as("b"),
          col("a.cent_id") === col("b.cent_id") &&
            col("a.vec_id") < col("b.vec_id") &&
            dotN(col("a.emb_n"), col("b.emb_n")) >= 0.45)
        .select(col("b.vec_id").as("vec_id"))
        .distinct()
      assigned
        .join(dups.withColumn("is_dup", lit(true)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cent_id"),
          coalesce(col("is_dup"), lit(false)).as("is_dup"))
        .orderBy(col("vec_id"))
    }),

    // Brute-force exact top-3 cosine neighbors for a bounded query set,
    // id-only. The ordered-fold cosine is bit-identical to the DuckDB
    // formulation, so this IS oracle-paired (floats are computed, but
    // only ids are emitted and the ranking is reproducible).
    "sim_search_topk" -> ((s, d) => {
      val emb = embeddings(s, d)
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val c = emb.select(col("vec_id").as("c_id"),
        col("embedding").as("c_vec"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("c_id").asc)
      broadcast(q).join(c, col("q_id") =!= col("c_id"))
        .withColumn("cos", cosine(col("q_vec"), col("c_vec")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("rank"), col("c_id").as("neighbor_id"))
        .orderBy(col("q_id"), col("rank"))
    }),

    // IVF (inverted-file) ANN: vectors are assigned to their nearest
    // coarse centroid (one inverted list per centroid); a query probes
    // its nprobe=2 nearest centroids and ranks only those lists — the
    // classic alternative scale path to LSH. Centroids here are a
    // fixed deterministic sample of the corpus (a k-means refinement
    // would be an offline build step, not part of the query); the
    // assignment is one broadcast-nested-loop over 16 centroids + one
    // window, so the whole index build is two narrow passes.
    // Oracle-paired (the full assignment/probe/rank SQL mirror); unit
    // tests additionally recompute the IVF structure independently
    // and require exact agreement.
    "ann_ivf_topk" -> ((s, d) => {
      val nrm = embN(s, d)
      val cents = broadcast(
        nrm.filter(col("vec_id").between(100, 115))
          .select(col("vec_id").as("cent_id"), col("emb_n").as("cent_vec")))
      ivfTopk(nrm, cents)
    }),

    // ANN recall audit (r9): the evaluation harness every approximate
    // index deployment runs before trusting it — join the IVF probe
    // path's picks against the exact brute-force top-3 ground truth
    // and report, per query, whether the approximate pick landed in
    // the true top-3 (recall@3 of a top-1 ANN). Both sides are the
    // SAME pipelines as their standalone operators (fixed IVF
    // centroids, exact cosine ranking), so the audit itself is
    // oracle-paired end to end. Scale shape: ground truth over the
    // bounded 10-query probe set only (brute force on a SAMPLE is how
    // real recall audits run at corpus scale — never all queries),
    // index side stays the nprobe bucket join.
    "ann_recall_audit" -> ((s, d) => {
      val emb = embeddings(s, d)
      val nrm = embN(s, d)
      val cents = broadcast(
        nrm.filter(col("vec_id").between(100, 115))
          .select(col("vec_id").as("cent_id"), col("emb_n").as("cent_vec")))
      val ivf = ivfTopk(nrm, cents)
        .select(col("q_id"), col("neighbor_id").as("ivf_pick"))
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val c = emb.select(col("vec_id").as("c_id"),
        col("embedding").as("c_vec"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("c_id").asc)
      val exact = broadcast(q).join(c, col("q_id") =!= col("c_id"))
        .withColumn("cos", cosine(col("q_vec"), col("c_vec")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("c_id").as("true_id"))
      ivf.join(exact, Seq("q_id"), "left")
        .groupBy(col("q_id"), col("ivf_pick"))
        .agg(bool_or(col("true_id") === col("ivf_pick"))
          .as("in_exact_top3"))
        .orderBy(col("q_id"))
    }),

    // Same IVF query shape, but the centroids come from the OFFLINE
    // k-means build (IvfIndexBuilder's Lloyd refinement) materialized
    // once per (JVM, input dir) as a DURABLE parquet artifact — the
    // production-shaped end-to-end ANN path (train index offline,
    // serve lookups against the artifact). ORACLE-PAIRED (r11): the
    // refined centroid means are float-summation-order dependent, so
    // the oracle does NOT re-derive them — it reads the SAME centroid
    // artifact as an input table and mirrors the serve path (the
    // ann_ivf_topk assignment/probe/rank SQL, already proven
    // bit-identical with literal centroids). IvfIndexBuilderSpec
    // additionally recomputes the lookup independently.
    "ann_ivf_built_topk" -> ((s, d) => {
      // fingerprint-guarded cross-JVM once (r11 review): the centroid
      // means are float-summation-order sensitive, so a rebuild by any
      // later JVM (a bench run between Verify and its oracle compare)
      // must NOT overwrite the artifact the dumped results were
      // computed from — the first build per fixture generation wins
      val centDir = graft.TempDirs.durableOnce("ivf_centroids", d,
        graft.TempDirs.fingerprintOf(s"$d/embeddings.parquet")) { dir =>
        val (vecs, cents0) = IvfIndexBuilder.prepare(s, d, 8)
        var cents = cents0
        // two Lloyd rounds; localCheckpoint cuts the per-round lineage
        for (_ <- 1 to 2)
          cents = IvfIndexBuilder.lloydRound(vecs, cents).localCheckpoint()
        cents.coalesce(1).write.mode("overwrite").parquet(dir)
      }
      // schema-explicit artifact read: a degenerate corpus with no
      // seed vectors builds an empty index, and the contract is an
      // empty result, not a schema-inference error
      ivfTopk(embN(s, d), broadcast(
        s.read.schema("cent_id BIGINT, cent_vec ARRAY<DOUBLE>")
          .parquet(centDir)))
    }),

    // The probe band set (10 query vectors x 8 bands) is bounded by
    // the operator definition, so ITS broadcast hint is scale-safe;
    // the corpus-sized normalized-vector join-backs are unhinted equi
    // joins on the id (AQE decides at runtime — same rationale as
    // dedup_embedding_cosine). Oracle-paired via lshSignatureSql.
    "ann_lsh_topk" -> ((s, d) => {
      val bands = lshBands(s, d)
      val nrm = embN(s, d)
      val cands = broadcast(bands.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("band"), col("band_val")))
        .join(bands.select(col("vec_id").as("c_id"),
          col("band"), col("band_val")),
          Seq("band", "band_val"))
        .filter(col("q_id") =!= col("c_id"))
        .select(col("q_id"), col("c_id"))
        .distinct()
        .join(nrm.select(col("vec_id").as("q_id"),
          col("emb_n").as("q_n")), "q_id")
        .join(nrm.select(col("vec_id").as("c_id"),
          col("emb_n").as("c_n")), "c_id")
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("c_id").asc)
      cands
        .withColumn("cos", dotN(col("q_n"), col("c_n")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("q_id"), col("c_id").as("neighbor_id"))
        .orderBy(col("q_id"))
    })
  )

  /** DuckDB ordered-fold dot product over zipped lists — the same
    * left-to-right double summation Spark's `aggregate` performs, so
    * cosine ranks match bit-for-bit.
    */
  private[operators] def duckDot(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |  list_transform(generate_series(1, len($a)),
       |    i -> CAST($a[i] AS DOUBLE) * $b[i])), (x, y) -> x + y)""".stripMargin

  private[operators] def duckCos(a: String, b: String): String =
    s"(${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)})))"

  /** The one DuckDB normalization CTE body every vector oracle shares
    * (mirrors embN exactly) — hoisted so an edit cannot reach one
    * oracle and miss the others (r7 review found it pasted 3x).
    */
  private lazy val normSqlCte: String =
    s"""SELECT vec_id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) / sqrt(${duckDot("embedding", "embedding")})) AS emb_n
       |  FROM embeddings""".stripMargin

  /** DuckDB literal for the 64x64 hyperplane matrix. Java's
    * Double.toString emits the shortest decimal that round-trips, and
    * DuckDB parses decimal/scientific literals to nearest-double, so
    * the SQL planes are bit-identical to the Scala matrix the
    * SignProjectionExpr reference object carries.
    */
  private lazy val planesSqlLit: String =
    hyperplanes.map(_.mkString("[", ", ", "]"))
      .mkString("[", ",\n      ", "]")

  /** Shared CTE prefix mirroring the LSH signature structure exactly:
    * `bands` is SignProjectionExpr's per-band msb-first fold
    * `acc * 2 + (dot >= 0)` with each dot summed left-to-right over
    * the common prefix of vector and plane (`SignProjectionExpr
    * .nullSafeEval`), and `nrm` is the same ordered-fold normalization
    * the `ann_ivf_topk` oracle already proves bit-identical. Both
    * engines compute the same IEEE doubles, so bucket membership and
    * the cosine gates agree exactly — the oracle mirrors the bucket
    * STRUCTURE rather than depending on LSH recall.
    */
  private lazy val lshSignatureSql: String =
    s"""planes AS (SELECT $planesSqlLit AS pl),
       |bands AS (
       |  SELECT e.vec_id, t.band,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(generate_series(1, 8), j -> CASE WHEN
       |        list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(generate_series(1, least(len(e.embedding), 64)),
       |            k -> CAST(e.embedding[k] AS DOUBLE) * pl[t.band * 8 + j][k])),
       |          (s0, v0) -> s0 + v0) >= 0
       |        THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
       |      (acc, bit) -> acc * 2 + bit) AS band_val
       |  FROM embeddings e CROSS JOIN planes
       |    CROSS JOIN generate_series(0, 7) t(band)
       |), nrm AS (
       |  SELECT vec_id, list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) / sqrt(${duckDot("embedding", "embedding")})) AS emb_n
       |    FROM embeddings
       |)""".stripMargin

  /** Shared by `dedup_ngram_jaccard` and `dedup_ngram_prefix`: both
    * candidate stages are exact, so both pair with this one SQL.
    */
  private val ngramJaccardSql: String =
    """WITH t AS (
      |  SELECT doc_id, n_chars // 8 AS len_bkt,
      |    string_split(text, ' ') AS toks
      |  FROM documents
      |), g AS (
      |  SELECT doc_id, len_bkt,
      |    list_distinct(list_transform(
      |      generate_series(1, greatest(len(toks) - 1, 1)),
      |      i -> concat_ws(' ', toks[i], toks[i + 1]))) AS grams
      |  FROM t)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS inter_sz,
      |  CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS BIGINT) AS union_sz
      |FROM g a JOIN g b
      |  ON a.len_bkt = b.len_bkt AND a.doc_id < b.doc_id
      |WHERE len(list_intersect(a.grams, b.grams)) * 5 >=
      |      len(list_distinct(list_concat(a.grams, b.grams))) * 2
      |ORDER BY doc_a, doc_b""".stripMargin

  /** A `def`, not a `val`: the simhash / built-IVF oracles splice in
    * durable artifact paths scoped to `OracleDir.current`.
    */
  def oracle: Map[String, String] = Map(
    // Token-hash-histogram artifact in, then the SimHashAgg semantics
    // replayed in SQL: 64 sign counters (count-weighted ±1 per hash
    // bit), msb-first 16-bit band packs, (band, band_val, ±1 length
    // bucket) blocking, hamming <= 3 via bit_count(xor) — the
    // len-bucket probe fan-out collapses to abs(diff) <= 1.
    "dedup_simhash" -> {
      import OracleXxh64._
      val dir = graft.TempDirs.durable("simhash_tok", graft.OracleDir.current)
      s"""WITH RECURSIVE pw AS (
         |  SELECT 0 AS b, 1::HUGEINT AS po
         |  UNION ALL SELECT b + 1, po * 2 FROM pw WHERE b < 63
         |), art AS MATERIALIZED (
         |  SELECT doc_id, n_chars, h, cnt FROM read_parquet('$dir/*.parquet')
         |), bits AS (
         |  SELECT doc_id, b,
         |    sum(CASE WHEN (${toUnsigned("h")}) // po % 2 = 1
         |        THEN cnt ELSE -cnt END) AS c
         |  FROM art CROSS JOIN pw GROUP BY doc_id, b
         |), bands AS MATERIALIZED (
         |  SELECT doc_id, b // 16 AS band,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list(CASE WHEN c >= 0 THEN CAST(1 AS BIGINT)
         |           ELSE CAST(0 AS BIGINT) END ORDER BY b)),
         |      (acc, x) -> acc * 2 + x) AS band_val
         |  FROM bits GROUP BY doc_id, b // 16
         |), sig AS MATERIALIZED (
         |  SELECT doc_id,
         |    max(CASE WHEN band = 0 THEN band_val END) * 65536 +
         |      max(CASE WHEN band = 1 THEN band_val END) AS sim_lo,
         |    max(CASE WHEN band = 2 THEN band_val END) * 65536 +
         |      max(CASE WHEN band = 3 THEN band_val END) AS sim_hi
         |  FROM bands GROUP BY doc_id
         |), lb AS (
         |  SELECT DISTINCT doc_id, n_chars // 32 AS len_bkt FROM art
         |), fl AS MATERIALIZED (
         |  SELECT bands.doc_id, band, band_val, len_bkt
         |  FROM bands JOIN lb USING (doc_id)
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM fl a JOIN fl b
         |    ON a.band = b.band AND a.band_val = b.band_val
         |    AND abs(a.len_bkt - b.len_bkt) <= 1 AND a.doc_id < b.doc_id
         |)
         |SELECT doc_a, doc_b FROM cand
         |JOIN sig sa ON sa.doc_id = cand.doc_a
         |JOIN sig sb ON sb.doc_id = cand.doc_b
         |WHERE bit_count(xor(sa.sim_lo, sb.sim_lo)) +
         |      bit_count(xor(sa.sim_hi, sb.sim_hi)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    // The ann_ivf_topk serve-path SQL verbatim, with the cents CTE
    // swapped from the literal vec_id slice to the SAME durable
    // k-means centroid artifact the engine query reads.
    "ann_ivf_built_topk" -> {
      val dir = graft.TempDirs.durable("ivf_centroids", graft.OracleDir.current)
      s"""WITH nrm AS (
         |  $normSqlCte
         |), cents AS (
         |  SELECT cent_id, cent_vec FROM read_parquet('$dir/*.parquet')
         |), ac AS (
         |  SELECT c.cent_id, n.vec_id, n.emb_n,
         |    ${duckDot("n.emb_n", "c.cent_vec")} AS cos
         |  FROM nrm n CROSS JOIN cents c
         |), assigned AS (
         |  SELECT cent_id, vec_id AS c_id, emb_n AS c_n FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos DESC, cent_id ASC) AS rn FROM ac) t
         |  WHERE rn = 1
         |), pq AS (
         |  SELECT n.vec_id AS q_id, n.emb_n AS q_n, c.cent_id,
         |    ${duckDot("n.emb_n", "c.cent_vec")} AS cos
         |  FROM nrm n CROSS JOIN cents c WHERE n.vec_id < 10
         |), probes AS (
         |  SELECT q_id, q_n, cent_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, cent_id ASC) AS rn FROM pq) t
         |  WHERE rn <= 2
         |), cand AS (
         |  SELECT p.q_id, a.c_id, ${duckDot("p.q_n", "a.c_n")} AS qc_cos
         |  FROM probes p JOIN assigned a USING (cent_id)
         |  WHERE p.q_id <> a.c_id
         |)
         |SELECT q_id, c_id AS neighbor_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY qc_cos DESC, c_id ASC) AS rn FROM cand) t
         |WHERE rn = 1 ORDER BY q_id""".stripMargin
    },
    // same hash sample, same ordered-fold normalized dot, same
    // clamped floor bucketing — bucket membership is exact IEEE both
    // sides
    "emb_diversity_histogram" ->
      s"""WITH nrm AS (
         |$normSqlCte
         |), samp AS (
         |  SELECT vec_id, emb_n FROM nrm
         |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) = '0'
         |), p AS (
         |  SELECT greatest(-10, least(9,
         |    CAST(floor(${duckDot("a.emb_n", "b.emb_n")} * 10) AS INTEGER)))
         |    AS bucket
         |  FROM samp a JOIN samp b ON a.vec_id < b.vec_id
         |)
         |SELECT bucket, count(*) AS n
         |FROM p GROUP BY bucket ORDER BY bucket""".stripMargin,
    // same ordered-fold self-dot; min/max are exact picks
    "emb_norm_stats" ->
      s"""WITH s AS (
         |  SELECT label, ${duckDot("embedding", "embedding")} AS sq
         |  FROM embeddings
         |)
         |SELECT label, count(*) AS n_vecs,
         |  min(sq) AS min_sq, max(sq) AS max_sq
         |FROM s GROUP BY label ORDER BY label""".stripMargin,
    // same milli quantization, same exact integer numerator; the CTE
    // is consumed twice (self-join) so it must be MATERIALIZED, and
    // the hugeint sums cast back to BIGINT for schema parity
    "emb_covariance" ->
      """WITH q AS MATERIALIZED (
        |  SELECT vec_id, i,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000.0) AS BIGINT) AS qv
        |  FROM embeddings,
        |    unnest(generate_series(1, len(embedding))) AS u(i)
        |)
        |SELECT CAST(a.i AS BIGINT) AS i, CAST(b.i AS BIGINT) AS j,
        |  CAST(count(*) * sum(a.qv * b.qv) - sum(a.qv) * sum(b.qv)
        |    AS BIGINT) AS cov_num,
        |  count(*) AS n
        |FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
        |GROUP BY a.i, b.i ORDER BY i, j""".stripMargin,
    // same milli quantization, same exact integer sums, same single
    // IEEE division to micro-units (no integer div: floor-vs-truncate
    // diverges on negative sums)
    "emb_label_centroids" ->
      """WITH g AS (
        |  SELECT label, CAST(i - 1 AS BIGINT) AS dim,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000.0) AS BIGINT) AS q
        |  FROM embeddings,
        |    unnest(generate_series(1, len(embedding))) AS u(i)
        |)
        |SELECT label, dim, count(*) AS n,
        |  CAST(round(CAST(CAST(sum(q) AS BIGINT) AS DOUBLE) * 1000.0 /
        |    CAST(count(*) AS DOUBLE)) AS BIGINT) AS centroid_micro
        |FROM g GROUP BY label, dim ORDER BY label, dim""".stripMargin,
    // same quantization and centroid division, same exact integer
    // deviations — (dist2 DESC, vec_id) is a total order
    "emb_outlier_distance" ->
      """WITH g AS MATERIALIZED (
        |  SELECT vec_id, label, CAST(i - 1 AS BIGINT) AS dim,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000.0) AS BIGINT) AS qm
        |  FROM embeddings,
        |    unnest(generate_series(1, len(embedding))) AS u(i)
        |), cent AS (
        |  SELECT label, dim,
        |    CAST(round(CAST(CAST(sum(qm) AS BIGINT) AS DOUBLE) * 1000.0 /
        |      CAST(count(*) AS DOUBLE)) AS BIGINT) AS cm
        |  FROM g GROUP BY label, dim
        |)
        |SELECT g.vec_id, g.label,
        |  CAST(sum((g.qm * 1000 - c.cm) * (g.qm * 1000 - c.cm))
        |    AS BIGINT) AS dist2
        |FROM g JOIN cent c ON g.label = c.label AND g.dim = c.dim
        |GROUP BY g.vec_id, g.label
        |ORDER BY dist2 DESC, vec_id LIMIT 20""".stripMargin,
    // same exact-integer matrix, same ordered j-folds, same max-norm
    // and sign algebra, unrolled five rounds
    "emb_pca_power" ->
      """WITH q AS MATERIALIZED (
        |  SELECT vec_id, i,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000.0) AS BIGINT) AS qv
        |  FROM embeddings,
        |    unnest(generate_series(1, len(embedding))) AS u(i)
        |), up AS MATERIALIZED (
        |  SELECT a.i AS i, b.i AS j,
        |    CAST(count(*) * sum(a.qv * b.qv) - sum(a.qv) * sum(b.qv)
        |      AS DOUBLE) AS mv
        |  FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
        |  GROUP BY a.i, b.i
        |), m AS MATERIALIZED (
        |  SELECT i, j, mv FROM up
        |  UNION ALL SELECT j, i, mv FROM up WHERE i < j
        |), u1 AS (
        |  SELECT i, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(mv * 1.0 ORDER BY j)), (a, x) -> a + x) AS u
        |  FROM m GROUP BY i
        |), n1 AS (SELECT max(abs(u)) AS nrm FROM u1),
        |v1 AS (SELECT i AS j, u / nrm AS v FROM u1, n1),
        |u2 AS (
        |  SELECT m.i, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(m.mv * v1.v ORDER BY m.j)), (a, x) -> a + x) AS u
        |  FROM m JOIN v1 ON m.j = v1.j GROUP BY m.i
        |), n2 AS (SELECT max(abs(u)) AS nrm FROM u2),
        |v2 AS (SELECT i AS j, u / nrm AS v FROM u2, n2),
        |u3 AS (
        |  SELECT m.i, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(m.mv * v2.v ORDER BY m.j)), (a, x) -> a + x) AS u
        |  FROM m JOIN v2 ON m.j = v2.j GROUP BY m.i
        |), n3 AS (SELECT max(abs(u)) AS nrm FROM u3),
        |v3i AS (SELECT i AS j, u / nrm AS v FROM u3, n3),
        |u4 AS (
        |  SELECT m.i, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(m.mv * v3i.v ORDER BY m.j)), (a, x) -> a + x) AS u
        |  FROM m JOIN v3i ON m.j = v3i.j GROUP BY m.i
        |), n4 AS (SELECT max(abs(u)) AS nrm FROM u4),
        |v4 AS (SELECT i AS j, u / nrm AS v FROM u4, n4),
        |u5 AS (
        |  SELECT m.i, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(m.mv * v4.v ORDER BY m.j)), (a, x) -> a + x) AS u
        |  FROM m JOIN v4 ON m.j = v4.j GROUP BY m.i
        |), n5 AS (SELECT max(abs(u)) AS nrm FROM u5),
        |v3 AS MATERIALIZED (SELECT i AS j, u / nrm AS v FROM u5, n5),
        |sg AS (SELECT CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS sgn
        |       FROM v3 WHERE j = 1)
        |SELECT CAST(v3.j AS BIGINT) AS i,
        |  CAST(round(v * sgn * 1e6) AS BIGINT) AS eig_micro
        |FROM v3, sg ORDER BY i""".stripMargin,
    // Same literal codebook/query (Double.toString round-trips), same
    // ordered-fold subspace distances, same first-minimum argmin, same
    // m-ordered ADC sum — bit-identical before the micro-unit round.
    "ann_pq_topk" ->
      s"""WITH cent AS (SELECT ${sqlArr(pqCentroids)} AS c),
         |qv AS (SELECT ${sqlArr(pqQuery)} AS q),
         |enc AS (
         |  SELECT vec_id,
         |    list_transform(generate_series(0, 7), m ->
         |      list_transform(generate_series(0, 3), k ->
         |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |          list_transform(generate_series(0, 7), j ->
         |            (CAST(embedding[m*8 + j + 1] AS DOUBLE) -
         |              c[(m*4 + k)*8 + j + 1]) *
         |            (CAST(embedding[m*8 + j + 1] AS DOUBLE) -
         |              c[(m*4 + k)*8 + j + 1]))),
         |          (a, x) -> a + x))) AS dls
         |  FROM embeddings CROSS JOIN cent
         |), codes AS (
         |  SELECT vec_id,
         |    list_transform(dls, dl ->
         |      list_position(dl, list_aggregate(dl, 'min')) - 1) AS codes
         |  FROM enc
         |), qdt AS (
         |  SELECT list_transform(generate_series(0, 7), m ->
         |    list_transform(generate_series(0, 3), k ->
         |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |        list_transform(generate_series(0, 7), j ->
         |          (q[m*8 + j + 1] - c[(m*4 + k)*8 + j + 1]) *
         |          (q[m*8 + j + 1] - c[(m*4 + k)*8 + j + 1]))),
         |        (a, x) -> a + x))) AS t
         |  FROM qv CROSS JOIN cent
         |)
         |SELECT vec_id,
         |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
         |    (a, cd) -> a * 4 + cd) AS BIGINT) AS code_pack,
         |  CAST(round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform(generate_series(0, 7), m ->
         |      t[m + 1][CAST(codes[m + 1] + 1 AS INT)])),
         |    (a, x) -> a + x) * 1000000) AS BIGINT) AS adc_u
         |FROM codes CROSS JOIN qdt
         |ORDER BY adc_u, vec_id LIMIT 10""".stripMargin,
    // Same sign convention (>= 0 sets the bit), signatures summed as
    // HUGEINT then viewed signed like Spark's long; xor+bit_count on
    // UBIGINT; same (hamming, vec_id) tie order.
    "emb_bitpack_hamming" -> {
      import graft.operators.OracleXxh64.{toSigned, toUnsigned}
      s"""WITH packed AS MATERIALIZED (
         |  SELECT vec_id, ${toSigned("sum(CAST(CASE WHEN x >= 0 " +
             "THEN 1::UBIGINT << (i - 1)::INT ELSE 0::UBIGINT END AS HUGEINT))")} AS sig
         |  FROM (SELECT vec_id, unnest(embedding) AS x,
         |          unnest(generate_series(1, len(embedding))) AS i
         |        FROM embeddings) t
         |  GROUP BY vec_id
         |), probes AS (
         |  SELECT vec_id AS probe_id, sig AS psig FROM packed WHERE vec_id < 3
         |), dist AS (
         |  SELECT probe_id, vec_id,
         |    CAST(bit_count(xor(CAST(${toUnsigned("psig")} AS UBIGINT),
         |      CAST(${toUnsigned("sig")} AS UBIGINT))) AS BIGINT) AS hamming
         |  FROM probes JOIN packed ON probe_id != vec_id
         |), ranked AS (
         |  SELECT probe_id, vec_id, hamming,
         |    row_number() OVER (PARTITION BY probe_id
         |      ORDER BY hamming, vec_id) AS rank
         |  FROM dist
         |)
         |SELECT probe_id, rank, vec_id AS neighbor_id, hamming
         |FROM ranked WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin
    },
    // Same elementwise round(x * 127 / max|x|) with the same double
    // literals; every emitted aggregate is an integer fold.
    "emb_quantize_int8" ->
      """WITH v AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), m AS (
        |  SELECT vec_id, v,
        |    list_aggregate(list_transform(v, x -> abs(x)), 'max') AS maxabs
        |  FROM v
        |), q AS (
        |  SELECT vec_id, maxabs,
        |    list_transform(v, x -> CASE WHEN maxabs = 0.0
        |      THEN CAST(0 AS BIGINT)
        |      ELSE CAST(round(x * 127.0 / maxabs) AS BIGINT) END) AS q
        |  FROM m
        |)
        |SELECT vec_id,
        |  CAST(len(q) AS BIGINT) AS dim,
        |  CAST(round(maxabs / 127.0 * 1000000) AS BIGINT) AS scale_u,
        |  CAST(list_sum(q) AS BIGINT) AS sum_q,
        |  CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS l1_q,
        |  CAST(len(list_filter(q, x -> x != 0)) AS BIGINT) AS nnz_q
        |FROM q ORDER BY vec_id""".stripMargin,
    "dedup_ngram_prefix" -> ngramJaccardSql,
    "dedup_ngram_jaccard" -> ngramJaccardSql,
    "dedup_ngram_capped" -> ngramJaccardSql,
    // same lead()-neighbors algebra — linear pair volume, no self-join
    "dedup_sorted_neighbors" ->
      """WITH k AS (
        |  SELECT doc_id, lower(substring(text, 1, 32)) AS k,
        |    lower(substring(text, 1, 6)) AS blk,
        |    lower(substring(text, 1, 48)) AS k48
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, k48,
        |    lead(doc_id, 1) OVER w AS n1_id, lead(k48, 1) OVER w AS n1_k,
        |    lead(doc_id, 2) OVER w AS n2_id, lead(k48, 2) OVER w AS n2_k
        |  FROM k WINDOW w AS (PARTITION BY blk ORDER BY k, doc_id)
        |), p AS (
        |  SELECT doc_id AS doc_a, n1_id AS doc_b, k48 AS ka, n1_k AS kb
        |  FROM r WHERE n1_id IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id, n2_id, k48, n2_k FROM r WHERE n2_id IS NOT NULL
        |)
        |SELECT doc_a, doc_b, CAST(levenshtein(ka, kb) AS BIGINT) AS lev
        |FROM p WHERE levenshtein(ka, kb) <= 12
        |ORDER BY doc_a, doc_b""".stripMargin,
    // Full SQL mirror of the sign-random-projection structure: same
    // literal hyperplanes, same msb-first band fold, same bucket
    // self-join, same ordered-fold cosine gate (lshSignatureSql).
    "dedup_embedding_cosine" ->
      s"""WITH $lshSignatureSql,
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.band_val = b.band_val
         |      AND a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b
         |FROM cand
         |JOIN nrm na ON na.vec_id = cand.vec_a
         |JOIN nrm nb ON nb.vec_id = cand.vec_b
         |WHERE ${duckDot("na.emb_n", "nb.emb_n")} >= 0.45
         |ORDER BY vec_a, vec_b""".stripMargin,
    "ann_lsh_topk" ->
      s"""WITH $lshSignatureSql,
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS c_id
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.band_val = b.band_val
         |  WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id),
         |scored AS (
         |  SELECT cand.q_id, cand.c_id,
         |    ${duckDot("nq.emb_n", "nc.emb_n")} AS cos
         |  FROM cand
         |  JOIN nrm nq ON nq.vec_id = cand.q_id
         |  JOIN nrm nc ON nc.vec_id = cand.c_id)
         |SELECT q_id, c_id AS neighbor_id FROM (
         |  SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, c_id ASC) AS rn FROM scored) t
         |WHERE rn = 1 ORDER BY q_id""".stripMargin,
    // Full SQL mirror of the IVF structure (fixed deterministic
    // centroids make every stage expressible): normalize -> nearest-
    // centroid assignment -> top-2 probe -> top-1 within probed lists.
    // Every cosine is the ordered-fold dot over normalized lists,
    // bit-identical across engines (same proof as sim_search_topk).
    "ann_ivf_topk" -> {
      val normSql = normSqlCte
      s"""WITH nrm AS (
         |  $normSql
         |), cents AS (
         |  SELECT vec_id AS cent_id, emb_n AS cent_vec FROM nrm
         |  WHERE vec_id BETWEEN 100 AND 115
         |), ac AS (
         |  SELECT c.cent_id, n.vec_id, n.emb_n,
         |    ${duckDot("n.emb_n", "c.cent_vec")} AS cos
         |  FROM nrm n CROSS JOIN cents c
         |), assigned AS (
         |  SELECT cent_id, vec_id AS c_id, emb_n AS c_n FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos DESC, cent_id ASC) AS rn FROM ac) t
         |  WHERE rn = 1
         |), pq AS (
         |  SELECT n.vec_id AS q_id, n.emb_n AS q_n, c.cent_id,
         |    ${duckDot("n.emb_n", "c.cent_vec")} AS cos
         |  FROM nrm n CROSS JOIN cents c WHERE n.vec_id < 10
         |), probes AS (
         |  SELECT q_id, q_n, cent_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, cent_id ASC) AS rn FROM pq) t
         |  WHERE rn <= 2
         |), cand AS (
         |  SELECT p.q_id, a.c_id, ${duckDot("p.q_n", "a.c_n")} AS qc_cos
         |  FROM probes p JOIN assigned a USING (cent_id)
         |  WHERE p.q_id <> a.c_id
         |)
         |SELECT q_id, c_id AS neighbor_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY qc_cos DESC, c_id ASC) AS rn FROM cand) t
         |WHERE rn = 1 ORDER BY q_id""".stripMargin
    },
    // the IVF chain and the exact-top-3 chain verbatim, joined:
    // recall@3 of the top-1 ANN pick per probe query
    "ann_recall_audit" -> {
      val normSql = normSqlCte
      s"""WITH nrm AS (
         |  $normSql
         |), cents AS (
         |  SELECT vec_id AS cent_id, emb_n AS cent_vec FROM nrm
         |  WHERE vec_id BETWEEN 100 AND 115
         |), ac AS (
         |  SELECT c.cent_id, n.vec_id, n.emb_n,
         |    ${duckDot("n.emb_n", "c.cent_vec")} AS cos
         |  FROM nrm n CROSS JOIN cents c
         |), assigned AS (
         |  SELECT cent_id, vec_id AS c_id, emb_n AS c_n FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos DESC, cent_id ASC) AS rn FROM ac) t
         |  WHERE rn = 1
         |), pq AS (
         |  SELECT n.vec_id AS q_id, n.emb_n AS q_n, c.cent_id,
         |    ${duckDot("n.emb_n", "c.cent_vec")} AS cos
         |  FROM nrm n CROSS JOIN cents c WHERE n.vec_id < 10
         |), probes AS (
         |  SELECT q_id, q_n, cent_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, cent_id ASC) AS rn FROM pq) t
         |  WHERE rn <= 2
         |), cand AS (
         |  SELECT p.q_id, a.c_id, ${duckDot("p.q_n", "a.c_n")} AS qc_cos
         |  FROM probes p JOIN assigned a USING (cent_id)
         |  WHERE p.q_id <> a.c_id
         |), ivf AS (
         |  SELECT q_id, c_id AS ivf_pick FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY qc_cos DESC, c_id ASC) AS rn FROM cand) t
         |  WHERE rn = 1
         |), eq AS (
         |  SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
         |  WHERE vec_id < 10
         |), escored AS (
         |  SELECT eq.q_id, c.vec_id AS c_id,
         |    ${duckCos("eq.q_vec", "c.embedding")} AS cos
         |  FROM eq JOIN embeddings c ON c.vec_id <> eq.q_id
         |), exact AS (
         |  SELECT q_id, c_id AS true_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, c_id ASC) AS rn FROM escored) t
         |  WHERE rn <= 3
         |)
         |SELECT i.q_id, i.ivf_pick,
         |  bool_or(e.true_id = i.ivf_pick) AS in_exact_top3
         |FROM ivf i LEFT JOIN exact e ON e.q_id = i.q_id
         |GROUP BY i.q_id, i.ivf_pick
         |ORDER BY i.q_id""".stripMargin
    },
    "sim_search_topk" ->
      s"""WITH q AS (
         |  SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10
         |), scored AS (
         |  SELECT q.q_id, c.vec_id AS c_id,
         |    ${duckCos("q.q_vec", "c.embedding")} AS cos
         |  FROM q JOIN embeddings c ON c.vec_id <> q.q_id
         |), ranked AS (
         |  SELECT q_id, c_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rank
         |  FROM scored)
         |SELECT q_id, rank, c_id AS neighbor_id FROM ranked
         |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,

    // two-tier MRL funnel: coarse top-16 on the 8-dim prefix, exact
    // full-dim re-rank — same ordered-fold cosine both tiers, total
    // tie-orders make the candidate set and final ranking engine-exact
    "emb_mrl_topk" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding, embedding[1:8] AS t FROM embeddings
         |), q AS (
         |  SELECT vec_id AS q_id, t AS q_t, embedding AS q_f FROM e WHERE vec_id < 10
         |), coarse AS (
         |  SELECT q.q_id, c.vec_id AS c_id, q.q_f, c.embedding AS c_f,
         |    ${duckCos("q.q_t", "c.t")} AS ccos
         |  FROM q JOIN e c ON c.vec_id <> q.q_id
         |), cand AS (
         |  SELECT q_id, c_id, q_f, c_f FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY ccos DESC, c_id ASC) AS crk FROM coarse) t
         |  WHERE crk <= 16
         |), ranked AS (
         |  SELECT q_id, c_id,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY ${duckCos("q_f", "c_f")} DESC, c_id ASC) AS rank
         |  FROM cand)
         |SELECT q_id, rank, c_id AS neighbor_id FROM ranked
         |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,

    // Same bounded-benchmark structure: bench CTE + ordered-fold
    // cosine gate + DISTINCT hit set + flag left join.
    "contamination_embedding" -> {
      val normSql = normSqlCte
      s"""WITH nrm AS (
         |  $normSql
         |), bench AS (
         |  SELECT vec_id AS b_id, emb_n AS b_n FROM nrm WHERE vec_id < 20
         |), hit AS (
         |  SELECT DISTINCT n.vec_id
         |  FROM nrm n JOIN bench b
         |    ON n.vec_id <> b.b_id
         |  WHERE ${duckDot("n.emb_n", "b.b_n")} >= 0.45
         |)
         |SELECT n.vec_id, h.vec_id IS NOT NULL AS contaminated
         |FROM nrm n LEFT JOIN hit h ON n.vec_id = h.vec_id
         |ORDER BY n.vec_id""".stripMargin
    },

    // Full SQL mirror of the SemDeDup structure: the ann_ivf_topk
    // assignment CTE (bit-identical ordered-fold cosines + the same
    // row_number tie-break) feeding the dedup_embedding_cosine-style
    // >= 0.45 gate, restricted to same-cluster pairs.
    "dedup_semantic" -> {
      val normSql = normSqlCte
      s"""WITH nrm AS (
         |  $normSql
         |), cents AS (
         |  SELECT vec_id AS cent_id, emb_n AS cent_vec FROM nrm
         |  WHERE vec_id >= 100 AND vec_id < 100 + (
         |    SELECT least(65536, greatest(4,
         |      CAST(ceil(sqrt(count(*))) AS BIGINT)))
         |    FROM embeddings)
         |), ac AS (
         |  SELECT c.cent_id, n.vec_id, n.emb_n,
         |    ${duckDot("n.emb_n", "c.cent_vec")} AS cos
         |  FROM nrm n CROSS JOIN cents c
         |), assigned AS (
         |  SELECT cent_id, vec_id, emb_n FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos DESC, cent_id ASC) AS rn FROM ac) t
         |  WHERE rn = 1
         |), dups AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM assigned a JOIN assigned b
         |    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
         |  WHERE ${duckDot("a.emb_n", "b.emb_n")} >= 0.45
         |)
         |SELECT v.vec_id, v.cent_id,
         |  d.vec_id IS NOT NULL AS is_dup
         |FROM assigned v LEFT JOIN dups d ON v.vec_id = d.vec_id
         |ORDER BY v.vec_id""".stripMargin
    }
  )
}
