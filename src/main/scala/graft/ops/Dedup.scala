package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.io.TableLog
import graft.ops.Materialize.MaterializeOps

/** Deduplication operators for large-scale text corpora — the
  * training-data-pipeline family (builder brief): exact, MinHash+LSH,
  * n-gram Jaccard, SimHash. All candidate generation is bucket-join
  * shaped (shuffle on band/bucket keys) — there is NO pairwise cross
  * join anywhere, so every operator scales linearly in corpus size plus
  * candidate volume at 100 TB; exact verification runs only on bucket
  * collisions.
  *
  * ANSI-safety note: hash mixing uses rotate/xor only — `h1 + j*h2`
  * double-hashing would overflow LongType and *throw* under Spark 4's
  * default ANSI mode.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup on a content hash: keeps the minimum id per distinct
    * content. One hash-shuffle; at scale this is the cheapest possible
    * full-corpus dedup (map-side partial min per group).
    */
  def exactDedup(df: DataFrame, contentCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(contentCol)).as("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  // ------------------------------------------------------------- shingles

  /** Distinct word n-grams from an already-split words ARRAY COLUMN.
    * Callers must bind the split to a real column first: expression
    * subtrees inside lambda bodies get NO common-subexpression
    * elimination, so passing `split(text)` directly re-tokenizes the
    * document once per gram per word (measured 19 s vs 2 s on 260k
    * grams). */
  def wordNGramsFromWords(words: Column, n: Int): Column = {
    val count = size(words) - (n - 1)
    val grams = transform(sequence(lit(0), greatest(count, lit(0)) - 1),
      i => concat_ws(" ", (0 until n).map(o => element_at(words, i + o + 1)): _*))
    array_distinct(grams)
  }

  /** Convenience form — fine for single-use contexts; hot paths should
    * two-step through [[wordNGramsFromWords]] (see its scaladoc). */
  def wordNGrams(text: Column, n: Int): Column =
    wordNGramsFromWords(split(text, "\\s+"), n)

  // -------------------------------------------------------- MinHash + LSH

  private def rotl(c: Column, s: Int): Column =
    if (s % 64 == 0) c
    else shiftleft(c, s).bitwiseOR(shiftrightunsigned(c, 64 - s))

  /** j-th hash from two base hashes via rotate/xor mixing (overflow-free
    * stand-in for Kirsch–Mitzenmacher double hashing). */
  private def mixHash(h1: Column, h2: Column, j: Int): Column =
    if (j < 64) rotl(h1, j).bitwiseXOR(h2)
    else rotl(h2, j - 64).bitwiseXOR(h1)

  /** MinHash signature (array<long> of length numHashes ≤ 128) over a
    * shingle array. Single pass over the shingles: each shingle is hashed
    * twice (xxhash64 + salted xxhash64), expanded to numHashes mixed
    * values, and element-wise min-folded.
    */
  def minhashSignature(grams: Column, numHashes: Int): Column = {
    require(numHashes <= 128, "mixing scheme provides 128 positions")
    val hs = transform(grams, g => struct(
      xxhash64(g).as("h1"), xxhash64(concat(g, lit("#2"))).as("h2")))
    val init = array_repeat(lit(Long.MaxValue), numHashes)
    aggregate(hs, init, (acc, s) => zip_with(acc,
      array((0 until numHashes).map(j =>
        mixHash(s.getField("h1"), s.getField("h2"), j)): _*),
      (a, b) => least(a, b)))
  }

  /** LSH banding: candidate pairs (idA < idB) sharing at least one band
    * of `bandRows` consecutive signature positions. P(candidate | J=j) =
    * 1-(1-j^r)^b; with r=2, b=64 recall at j≥0.5 is 1-1e-8.
    *
    * Signature computation is EXPLODE → groupBy(id) with one min()
    * aggregate per position: pure codegen'd hash aggregation with
    * map-side partial min — ~4× faster than the per-row array-lambda
    * fold and the shape that scales (shuffle carries |docs| × numHashes
    * longs, combiners do the heavy lifting).
    */
  /** Per-doc MinHash signature table: (id, __sig array<long>). The
    * native sketch expression (graft.functions.HashSketches) computes
    * the whole signature in one loop per document — no explode, no
    * aggregation shuffle; at 100 TB the sketch stage is a pure map. */
  private def signatureTable(df: DataFrame, idCol: String, gramsCol: String,
      numHashes: Int): DataFrame =
    df.select(col(idCol),
      graft.functions.HashSketches
        .minhashSignature(col(gramsCol), numHashes).as("__sig"))

  /** Per-doc band buckets (id, band, h0..h{r-1}) — the LSH join keys. */
  private def bandBuckets(sig: DataFrame, idCol: String, numHashes: Int,
      bandRows: Int): DataFrame = {
    val numBands = numHashes / bandRows
    val bands = array((0 until numBands).map { b =>
      struct(lit(b).as("band") +: (0 until bandRows).map(i =>
        element_at(col("__sig"), b * bandRows + i + 1).as(s"h$i")): _*)
    }: _*)
    sig.select(col(idCol), explode(bands).as("bk"))
      .select(col(idCol), col("bk.*"))
  }

  private def bandKeys(bandRows: Int): Seq[String] =
    "band" +: (0 until bandRows).map(i => s"h$i")

  private def candidatesFromSig(sig: DataFrame, idCol: String,
      numHashes: Int, bandRows: Int): DataFrame = {
    val buckets = bandBuckets(sig, idCol, numHashes, bandRows)
    val a = buckets.alias("a")
    val b = buckets.alias("b")
    a.join(b, bandKeys(bandRows).map(k => col(s"a.$k") === col(s"b.$k"))
        .reduce(_ && _) && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
  }

  /** Signature-agreement estimate filter: matching positions / numHashes
    * is an unbiased Jaccard estimator, so a loose cut at 0.6·tau kills
    * essentially every false candidate (background J≈0.02 estimating
    * ≥0.3 needs a +5σ Binomial(128) excursion) while losing true J≥tau
    * pairs with probability ~1e-6 — exact verification then touches only
    * dozens of pairs instead of 2-3% of all pairs.
    *
    * Join strategy is deliberately unhinted: the signature frame is
    * |docs| rows × numHashes longs — forcing a broadcast would ship the
    * whole corpus signature to every executor (a ~1 TB broadcast at 1 B
    * docs). An id-keyed shuffle join scales linearly, and AQE still
    * broadcasts when the frame is genuinely small. (Carrying signatures
    * through the banding explode instead would multiply shuffle volume
    * by numBands — strictly worse.) */
  private def estimateFilter(cands: DataFrame, sigLeft: DataFrame,
      sigRight: DataFrame, idCol: String,
      numHashes: Int, minEst: Double): DataFrame = {
    val sigA = sigLeft.select(col(idCol).as("id_a"), col("__sig").as("__sa"))
    val sigB = sigRight.select(col(idCol).as("id_b"), col("__sig").as("__sb"))
    // matching positions / numHashes — zip_with over two bound array
    // columns (no recompute hazard: both are plain attributes)
    val matches = aggregate(
      zip_with(col("__sa"), col("__sb"),
        (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)
    cands.join(sigA, "id_a").join(sigB, "id_b")
      .filter((matches.cast("double") / numHashes) >= minEst)
      .select(col("id_a"), col("id_b"))
  }

  /** Near-duplicate pairs by exact word-n-gram Jaccard ≥ tau, with
    * MinHash-LSH candidate generation (no cross join) and exact
    * verification on the candidate set only.
    *
    * Runs Spark jobs eagerly at call time and ties intermediate blocks
    * to executor liveness by default — see [[Materialize]] for the
    * cluster-deployment strategy conf.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, tau: Double = 0.5,
      numHashes: Int = 128, bandRows: Int = 2): DataFrame =
    ngramJaccardPairsWithGrams(df, idCol, textCol, n, tau,
      numHashes, bandRows)._1

  /** [[ngramJaccardPairs]] plus its MATERIALIZED per-doc gram frame
    * (idCol, grams, __gh) — for callers that need the gram sets again
    * downstream ([[clusterMedoids]]' pairwise distances): re-deriving
    * them re-runs the whole split + n-gram + hash projection over the
    * corpus when the frame is already computed and checkpointed here. */
  private[ops] def ngramJaccardPairsWithGrams(df: DataFrame, idCol: String,
      textCol: String, n: Int, tau: Double,
      numHashes: Int, bandRows: Int): (DataFrame, DataFrame) = {
    // grams feed the signature AND both verification sides; the signature
    // table feeds banding AND both estimate sides — materialize both
    // (small: |docs| rows) instead of recomputing the explode/agg subtree
    // 3×. Materialize, not persist: blocks free when the frames go
    // unreachable, where a CacheManager entry would pin them for the
    // session (library callers never see the frames to unpersist them).
    // `__gh` rides along as the 64-bit gram hashes: exact verification
    // compares LONG arrays, not gram strings — set Jaccard is invariant
    // under an (in-practice) injective hash, and the string compare was
    // the suite's one GC-dominated stage (allocating UTF8String grams
    // per candidate pair faster than the collector drains them).
    // Signatures still derive from the gram STRINGS, so LSH candidate
    // generation is byte-identical to the pre-hash construction.
    // trim BEFORE split: the house gram convention (matches the DuckDB
    // oracles' string_split(trim(text)) and prefixFilterJaccardPairs —
    // untrimmed, whitespace-padded text grows a leading "" token and
    // the two differentially-tested candidate paths could diverge).
    // widened: the sketch map is CPU-heavy per doc and a narrow input
    // (one small parquet file → one scan partition) would run it
    // serial (see Materialize.widened — no-op on wide inputs).
    val grams = Materialize.widened(df)
      .select(col(idCol), split(trim(col(textCol)), "\\s+").as("__w"))
      .select(col(idCol), wordNGramsFromWords(col("__w"), n).as("grams"))
      .withColumn("__gh", transform(col("grams"), g => xxhash64(g)))
      .materialized
    val sig = signatureTable(grams, idCol, "grams", numHashes).materialized
    val cands = estimateFilter(
      candidatesFromSig(sig, idCol, numHashes, bandRows),
      sig, sig, idCol, numHashes, minEst = tau * 0.6)
    val pairs = cands
      .join(grams.select(col(idCol).as("id_a"), col("__gh").as("ga")), "id_a")
      .join(grams.select(col(idCol).as("id_b"), col("__gh").as("gb")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("ga"), col("gb"))) /
          size(array_union(col("ga"), col("gb"))))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    (pairs, grams)
  }

  /** Near-duplicate pairs by exact word-n-gram Jaccard ≥ tau with
    * PREFIX-FILTER candidate generation (Bayardo, Ma & Srikant 2007,
    * "Scaling Up All Pairs Similarity Search", WWW; Xiao et al. 2008)
    * — the RECALL-EXACT alternative to [[ngramJaccardPairs]]' MinHash
    * banding: order every document's distinct n-grams by ascending
    * document frequency (rare first, ties by gram text), keep the
    * first |t| − ceil(τ·|t|) + 1 as its PREFIX, and generate
    * candidates only from documents sharing a prefix gram. Lossless at
    * τ: J(A,B) ≥ τ ⇒ |A∩B| ≥ ceil(τ·max(|A|,|B|)), so a qualifying
    * pair sharing nothing in A's prefix would confine its whole
    * intersection to A's last ceil(τ·|A|) − 1 grams — a contradiction.
    * Same output contract as [[ngramJaccardPairs]] (id_a < id_b,
    * exact jaccard) — the two paths are differentially tested equal,
    * and q329/q22 check both against one DuckDB restatement. Choose
    * this one when candidate recall must be PROVABLY 1.0 (dedup
    * audits, legal/compliance sweeps); the banding path when the
    * 1−(1−τʳ)ᵇ envelope is acceptable and gram df skew is unknown.
    *
    * Scale shape: two hash aggregations (per-doc distinct grams →
    * gram document frequencies), one per-doc sorted-collect (state =
    * the doc's own gram list — the parse-op bound), an equality join
    * on PREFIX grams, and exact verification on the candidate set
    * only. Candidate volume is driven by co-occurrence of RARE grams
    * (the df-ascending order exists precisely to keep frequent grams
    * out of prefixes), so the classic LSH degenerate-bucket hazard
    * (every doc sharing one hot band value) cannot arise from corpus-
    * common grams; a gram shared by m docs inside prefixes still
    * costs m² candidate rows — that only happens when the gram is
    * globally rare, which bounds m. AQE skew-join covers the
    * residual. Runs Spark jobs eagerly at call time (the gram table
    * feeds df counts, prefixes, and both verify sides — see
    * [[Materialize]] for the cluster strategy conf).
    *
    * Candidate pruning beyond the bare prefix filter — the LENGTH and
    * POSITIONAL filters from the same Xiao et al. 2008 (ppjoin),
    * applied per matched prefix row with ANY-ROW-PASSES semantics so
    * losslessness survives hash collisions (below):
    *
    *  - length: J(A,B) ≥ τ ⇒ τ·max(|A|,|B|) ≤ min(|A|,|B|) — a
    *    pair-level set-size property, checked on the lengths each
    *    prefix row carries.
    *  - positional: J ≥ τ forces |A∩B| ≥ ceil(τ/(1+τ)·(|A|+|B|))
    *    (from J = ∩/(|A|+|B|−∩)). The FIRST common gram of a
    *    qualifying pair sits inside BOTH prefixes (were it past A's
    *    prefix, the whole intersection would fit in A's last
    *    ceil(τ·|A|)−1 grams — too few), and nothing of A∩B precedes
    *    it, so at its 1-based sorted positions (i, j):
    *    |A∩B| ≤ 1 + min(|A|−i, |B|−j). Filtering each matched row on
    *    that bound with ANY-ROW-PASSES semantics is therefore
    *    lossless — the first-common-gram row always passes for a
    *    qualifying pair — while rows for LATER common grams may fail
    *    it, which is exactly the pruning (a pair whose earliest
    *    shared prefix gram sits late cannot reach the required
    *    overlap). A spurious hash-collision row (two different grams,
    *    one 64-bit hash) can only ADD a survivor, never veto one (a
    *    min-over-rows aggregation would lose that guarantee: one
    *    collision row could bury a real pair).
    *    Both cutoffs relax by 1e-9 before the compare so float
    *    rounding at exact-threshold boundaries can only under-prune.
    *
    * Cost is DF-DISTRIBUTION-DEPENDENT (measured, sf0.1): the
    * synthetic corpus has only ~27k distinct trigrams at avg df ≈ 88
    * — adversarially dense for prefix pruning — so the bare prefix
    * filter left ~409k candidates (3.3% of all-pairs; brute force
    * would verify 12.5M); the r12 length+positional filters cut the
    * verify set to ~125k (1.0% of all-pairs), and the twin went 8.4 s
    * → ~2.2 s (the larger shares: removing a pushed-down size(t)>0
    * filter that re-evaluated the gram projection per row, and
    * explicit repartitions where AQE byte-coalescing serialized the
    * CPU-bound sort/verify stages — see SCALING.md r12).
    * On natural corpora gram dfs are heavy-tailed and prefixes prune
    * far harder. The trade is the point: this path buys PROVABLE
    * recall; [[ngramJaccardPairs]] buys speed with a known
    * 1−(1−τʳ)ᵇ envelope.
    */
  def prefixFilterJaccardPairs(df: DataFrame, idCol: String,
      textCol: String, n: Int = 3, tau: Double = 0.5): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1], got $tau")
    val grams = prefixGramFrame(df, idCol, textCol, n)
    val tk = prefixTokenStream(grams, idCol)
    val ranked = rankedGramVocab(tk)
    val par = df.sparkSession.sparkContext.defaultParallelism
    val pre = prefixFrame(tk, ranked, idCol, tau, par)
    val cands = ppjoinCandidates(
        pre.select(col(idCol).as("id_a"), col("__len").as("__la"),
          col("__i").as("__ia"), col("__th")),
        pre.select(col(idCol).as("id_b"), col("__len").as("__lb"),
          col("__i").as("__ib"), col("__th")),
        tau, selfJoin = true)
    verifyJaccard(cands, grams, grams, idCol, tau, par)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** CROSS-CORPUS recall-exact near-dup pairs — the lossless sibling of
    * [[crossCorpusJaccardPairs]], exactly as [[prefixFilterJaccardPairs]]
    * is the lossless sibling of [[ngramJaccardPairs]]: every (new, old)
    * pair with exact word-n-gram Jaccard ≥ tau, candidates generated by
    * the two-frame Bayardo/Xiao prefix filter instead of MinHash
    * banding. Document frequencies are computed over the UNION of both
    * sides (any single consistent global gram order preserves the
    * losslessness argument — the same convention the DuckDB
    * [[graft.queries.OracleSql.crossPrefixPairCtes]] restates); the
    * ppjoin length+positional filters apply unchanged (the first-
    * common-gram argument is about ONE pair of gram sets and never
    * cared which corpus each came from). No id ordering constraint:
    * the sides themselves distinguish the pair, and ids may exist in
    * both corpora. Output: (id_new, id_old, jaccard).
    *
    * Scale shape: [[prefixFilterJaccardPairs]]' per side, with the
    * candidate join ACROSS the two prefix tables. Choose it when the
    * incremental dedup must be PROVABLY recall-1.0;
    * [[crossCorpusJaccardPairs]] when the banding envelope is
    * acceptable (and when the old side should be indexed once — the
    * union-df requirement here re-reads the old corpus's grams per
    * batch, the price of exactness).
    */
  def crossCorpusPrefixFilterPairs(dfNew: DataFrame, dfOld: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      tau: Double = 0.5): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1], got $tau")
    val gramsNew = prefixGramFrame(dfNew, idCol, textCol, n)
    val gramsOld = prefixGramFrame(dfOld, idCol, textCol, n)
    val tkNew = prefixTokenStream(gramsNew, idCol)
    val tkOld = prefixTokenStream(gramsOld, idCol)
    // materialized: BOTH sides' prefix builds read the vocab — left
    // lazy, the union-df aggregation (corpus-sized input) runs twice
    val ranked = rankedGramVocab(tkNew.unionByName(tkOld)).materialized
    val par = dfNew.sparkSession.sparkContext.defaultParallelism
    val preNew = prefixFrame(tkNew, ranked, idCol, tau, par)
    val preOld = prefixFrame(tkOld, ranked, idCol, tau, par)
    val cands = ppjoinCandidates(
        preNew.select(col(idCol).as("id_a"), col("__len").as("__la"),
          col("__i").as("__ia"), col("__th")),
        preOld.select(col(idCol).as("id_b"), col("__len").as("__lb"),
          col("__i").as("__ib"), col("__th")),
        tau, selfJoin = false)
    verifyJaccard(cands, gramsNew, gramsOld, idCol, tau, par)
      .select(col("id_a").as("id_new"), col("id_b").as("id_old"),
        col("jaccard"))
  }

  /** PERSISTED prefix-filter index over a trained corpus (r12 verdict
    * #3) — the artifacts [[crossCorpusPrefixFilterPairsIndexed]] reads
    * so the recall-exact cross-corpus path AMORTIZES like
    * [[indexCorpus]] instead of re-paying the old side per batch:
    *
    *  - `vocab`: the old corpus's gram vocabulary with each gram's
    *    FROZEN document frequency (`__dfc`) — frozen because the
    *    global gram order the prefix filter needs must never reorder
    *    once prefixes are persisted (see the order argument below).
    *  - `grams`: the old side's per-doc distinct gram-hash arrays —
    *    the exact-verify side.
    *  - `prefixes`: the old side's prefix rows, precomputed at `tau`.
    *
    * All three are materialized flat frames a deployment writes to
    * parquet once and merges per batch ([[mergePrefixIndex]]). On disk
    * the index is one [[graft.io.TableLog]] artifact: the three tables
    * plus a log entry carrying `idCol`, `n` and `tau`
    * ([[writePrefixIndex]], [[dedupAndMergePrefixIndexDir]],
    * [[readPrefixIndex]]).
    *
    * WHY A FROZEN ORDER IS STILL LOSSLESS: the Bayardo/Xiao prefix
    * filter (and the ppjoin positional filter) are exact under ANY
    * single total order over grams applied consistently to both sides
    * — document frequency is only the pruning HEURISTIC. The order
    * here is (frozen df at first sight, gram hash, gram text within
    * collision groups): an old gram keeps the df it entered with
    * forever; a gram first seen in a later batch enters at df = 0
    * (novel grams are genuinely rare — the heuristic stays sharp).
    * Stored prefixes remain prefixes across merges because a doc's
    * sort order depends only on the frozen keys of grams the doc
    * CONTAINS, and those never change; appending new grams can only
    * interleave AROUND them. */
  case class PrefixIndex(vocab: DataFrame, grams: DataFrame,
      prefixes: DataFrame, idCol: String, n: Int, tau: Double)

  /** Build the [[PrefixIndex]] for `dfOld` (the trained corpus). One
    * pass: gram frames, document frequencies, prefix rows — the same
    * stages [[crossCorpusPrefixFilterPairs]] runs on its old side
    * every batch, here run ONCE and kept. */
  def indexCorpusPrefix(dfOld: DataFrame, idCol: String, textCol: String,
      n: Int = 3, tau: Double = 0.5): PrefixIndex = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1], got $tau")
    val grams = prefixGramFrame(dfOld, idCol, textCol, n)
    val tk = prefixTokenStream(grams, idCol)
    val vocab = rankedGramVocab(tk).materialized
    val par = dfOld.sparkSession.sparkContext.defaultParallelism
    val prefixes = prefixFrame(tk, vocab, idCol, tau, par)
    PrefixIndex(vocab, grams, prefixes, idCol, n, tau)
  }

  /** Fold a new batch INTO the index after it has been deduped — the
    * mergeable per-batch update. Novel grams enter the vocabulary at
    * frozen df = 0; existing grams keep their frozen (df, collision
    * rank) untouched, so every previously persisted prefix row stays
    * valid (the frozen-order argument on [[PrefixIndex]]). The batch's
    * own gram/prefix rows are computed under the merged order and
    * appended. Vocab-sized work plus one batch-sized prefix build —
    * never an old-corpus rescan. */
  def mergePrefixIndex(index: PrefixIndex, dfBatch: DataFrame,
      textCol: String): PrefixIndex = {
    val gramsB = prefixGramFrame(dfBatch, index.idCol, textCol, index.n)
    val tkB = prefixTokenStream(gramsB, index.idCol)
    val vocab = frozenAugmentedVocab(index.vocab, tkB).materialized
    val par = dfBatch.sparkSession.sparkContext.defaultParallelism
    val preB = prefixFrame(tkB, vocab, index.idCol, index.tau, par)
    PrefixIndex(vocab, index.grams.unionByName(gramsB),
      index.prefixes.unionByName(preB), index.idCol, index.n, index.tau)
  }

  /** The RECALL-EXACT cross-corpus near-dup pairs of
    * [[crossCorpusPrefixFilterPairs]], reading the old side from a
    * [[PrefixIndex]] instead of recomputing it — the r12 "what's
    * wrong #3" enhancement: per batch this touches only batch-sized
    * frames plus one vocab-sized order extension (novel grams at
    * frozen df = 0), where the fresh path re-aggregated the UNION's
    * document frequencies and re-sorted the old corpus every call.
    * Output is IDENTICAL to the fresh path (both are recall-exact and
    * the verify is the same exact Jaccard) — differentially pinned in
    * Round13PropertySpec. */
  def crossCorpusPrefixFilterPairsIndexed(dfNew: DataFrame,
      index: PrefixIndex, textCol: String): DataFrame = {
    val gramsNew = prefixGramFrame(dfNew, index.idCol, textCol, index.n)
    val tkNew = prefixTokenStream(gramsNew, index.idCol)
    val ranked = frozenAugmentedVocab(index.vocab, tkNew)
    val par = dfNew.sparkSession.sparkContext.defaultParallelism
    val preNew = prefixFrame(tkNew, ranked, index.idCol, index.tau, par)
    val idCol = index.idCol
    val cands = ppjoinCandidates(
        preNew.select(col(idCol).as("id_a"), col("__len").as("__la"),
          col("__i").as("__ia"), col("__th")),
        index.prefixes.select(col(idCol).as("id_b"),
          col("__len").as("__lb"), col("__i").as("__ib"), col("__th")),
        index.tau, selfJoin = false)
    // pinned width here (r14 A/B): this entry point serves CORPUS-
    // sized batches too (q335 queries a whole slice — derived width
    // regressed it 2.9 -> 4.9 s, the q329 lesson), so only the
    // per-micro-batch fused steps below derive the spread
    verifyJaccard(cands, gramsNew, index.grams, idCol, index.tau, par)
      .select(col("id_a").as("id_new"), col("id_b").as("id_old"),
        col("jaccard"))
  }

  /** One-pass per-batch step for the streaming deployment loop (r14
    * optimization): dedup the batch against the index AND fold it in,
    * SHARING the batch gram frame, the frozen-order vocab extension,
    * and the batch prefix build. Calling
    * [[crossCorpusPrefixFilterPairsIndexed]] then [[mergePrefixIndex]]
    * separately computes all three twice per batch — q338 measured
    * 11.2 s at sf0.1 with the duplicate work, and a real per-batch
    * deployment always wants both outputs. Pair set and merged index
    * are IDENTICAL to the two separate calls (the shared frames are
    * value-equal by construction: same batch, same frozen vocab
    * extension — differentially pinned in Round14PerfSpec).
    *
    * @return (pairs (id_new, id_old, jaccard), merged index) */
  def dedupAndMergePrefixIndex(dfNew: DataFrame, index: PrefixIndex,
      textCol: String): (DataFrame, PrefixIndex) = {
    val idCol = index.idCol
    val gramsNew = prefixGramFrame(dfNew, idCol, textCol, index.n)
    val tkNew = prefixTokenStream(gramsNew, idCol)
    // materialized: read by the batch prefix build here AND carried
    // into the merged index (mergePrefixIndex materializes it too)
    val vocab = frozenAugmentedVocab(index.vocab, tkNew).materialized
    val par = dfNew.sparkSession.sparkContext.defaultParallelism
    val preNew = prefixFrame(tkNew, vocab, idCol, index.tau, par)
    val cands = ppjoinCandidates(
        preNew.select(col(idCol).as("id_a"), col("__len").as("__la"),
          col("__i").as("__ia"), col("__th")),
        index.prefixes.select(col(idCol).as("id_b"),
          col("__len").as("__lb"), col("__i").as("__ib"), col("__th")),
        index.tau, selfJoin = false)
    val pairs = verifyJaccard(cands, gramsNew, index.grams, idCol,
        index.tau, par, derivedWidth = true)
      .select(col("id_a").as("id_new"), col("id_b").as("id_old"),
        col("jaccard"))
    val merged = PrefixIndex(vocab, index.grams.unionByName(gramsNew),
      index.prefixes.unionByName(preNew), idCol, index.n, index.tau)
    (pairs, merged)
  }

  /** [[dedupAndMergePrefixIndex]] against a PERSISTED index directory,
    * with an APPEND-STRUCTURED publish: one [[graft.io.TableLog]] commit
    * appends only the batch's gram and prefix rows to `grams` and
    * `prefixes` and replaces `vocab` (vocab-sized — the frozen-order
    * extension re-ranks only its df-0 collision groups, see
    * [[frozenAugmentedVocab]]). The previous version's part-files stay
    * where they are, so per-batch publish I/O is O(batch), never a
    * rewrite of the corpus-sized tables. Readers see the old or the new
    * index; a crash leaves the old one readable.
    *
    * Returned pairs are MATERIALIZED before the commit (they read the
    * pre-merge index). Directory contents after the call are
    * row-identical to `writePrefixIndex(mergePrefixIndex(read, batch))`
    * — only the part-file layout differs (Round14PerfSpec pins both
    * the row sets and next-batch dedup equality).
    *
    * @return the batch-vs-index pairs (id_new, id_old, jaccard) */
  def dedupAndMergePrefixIndexDir(spark: org.apache.spark.sql.SparkSession,
      dir: String, dfBatch: DataFrame, textCol: String): DataFrame = {
    val index = readPrefixIndex(spark, dir)
    val idCol = index.idCol
    val gramsNew = prefixGramFrame(dfBatch, idCol, textCol, index.n)
    val tkNew = prefixTokenStream(gramsNew, idCol)
    val vocab = frozenAugmentedVocab(index.vocab, tkNew).materialized
    val par = dfBatch.sparkSession.sparkContext.defaultParallelism
    val preNew = prefixFrame(tkNew, vocab, idCol, index.tau, par)
    val cands = ppjoinCandidates(
        preNew.select(col(idCol).as("id_a"), col("__len").as("__la"),
          col("__i").as("__ia"), col("__th")),
        index.prefixes.select(col(idCol).as("id_b"),
          col("__len").as("__lb"), col("__i").as("__ib"), col("__th")),
        index.tau, selfJoin = false)
    val pairs = Materialize(
      verifyJaccard(cands, gramsNew, index.grams, idCol, index.tau, par,
          derivedWidth = true)
        .select(col("id_a").as("id_new"), col("id_b").as("id_old"),
          col("jaccard")))
    TableLog.commit(spark, dir, indexParams(index),
      TableLog.replace("vocab", vocab), TableLog.append("grams", gramsNew),
      TableLog.append("prefixes", preNew))
    pairs
  }

  private def indexParams(index: PrefixIndex): Map[String, String] =
    Map("id_col" -> index.idCol, "n" -> index.n.toString,
      "tau" -> index.tau.toString)

  /** Write a [[PrefixIndex]] to `dir` as one [[graft.io.TableLog]]
    * commit that replaces its three tables (`vocab`, `grams`,
    * `prefixes`) and records `idCol`, `n` and `tau` in the log entry.
    * The new files land beside the old ones and the old ones are
    * deleted only after the entry is published, so the read →
    * [[mergePrefixIndex]] → write-back-to-the-same-dir cycle is safe:
    * the merged frames read the old files lazily while the new ones
    * are written. Readers see the old or the new index, never a mixed
    * one.
    *
    * Scale shape: three distributed parquet writes (no coalesce — the
    * frames are corpus-sized); a 100 TB deployment additionally
    * buckets `prefixes` and `vocab` by `__th` so the per-batch merge
    * join is co-partitioned. Round-trip identity (schema and output,
    * including a merge ON the reloaded index and a crash before the
    * log entry lands) is pinned in Round14PropertySpec and
    * driver-checked by q335. */
  def writePrefixIndex(index: PrefixIndex, dir: String): Unit =
    TableLog.commit(index.vocab.sparkSession, dir, indexParams(index),
      TableLog.replace("vocab", index.vocab),
      TableLog.replace("grams", index.grams),
      TableLog.replace("prefixes", index.prefixes))

  /** Reload the latest version of a [[writePrefixIndex]] directory. The
    * frames are parquet scans of the files the log entry lists, under
    * the schemas it stores, and the scalar parameters come from the
    * entry — so building the index runs no Spark job, and a reader can
    * never run the index under a different n/tau than it was built at
    * (the same mistake-class guard [[SpanGramState]] gets from carrying
    * `l`). */
  def readPrefixIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): PrefixIndex = {
    val e = logEntry(spark, dir)
    PrefixIndex(
      TableLog.read(spark, dir, e, "vocab"),
      TableLog.read(spark, dir, e, "grams"),
      TableLog.read(spark, dir, e, "prefixes"),
      e.params("id_col"), e.params("n").toInt, e.params("tau").toDouble)
  }

  private def logEntry(spark: org.apache.spark.sql.SparkSession,
      dir: String): TableLog.Entry =
    TableLog.latest(spark, dir).getOrElse(sys.error(s"no table log under $dir"))

  /** The index vocabulary EXTENDED with a batch's novel grams at
    * frozen df = 0. Novel grams ONLY ever enter at df = 0, so a
    * (df > 0, hash) collision group can never gain members after it is
    * first ranked — those rows keep their STORED `__cx` verbatim, and
    * only the df-0 slice (old df-0 rows ∪ the batch's novel grams) is
    * re-ranked, with a window sized by the df-0 slice instead of the
    * whole vocabulary (r15; prototyped and differentially verified in
    * r14, where the vocab-wide `row_number` window was a vocab-sized
    * shuffle + sort PER MERGE — the dominant per-tick vocab cost at
    * corpus scale). Output is bit-identical to the vocab-wide
    * recompute (Round15PerfSpec): for df > 0 rows the stored rank IS
    * the recomputed rank (same group membership since first ranked,
    * inductively across merges), and for df-0 rows partitioning by
    * (__dfc = 0, __th) equals partitioning by __th on the slice.
    * Within a (df, hash) collision group the rank orders by gram TEXT,
    * so existing members' RELATIVE order — the only thing the
    * persisted prefixes depend on — never changes when new members
    * interleave. */
  private def frozenAugmentedVocab(vocab: DataFrame,
      tkNew: DataFrame): DataFrame = {
    val novel = tkNew.select(col("__tok"), col("__th")).distinct()
      .join(vocab.select(col("__tok"), col("__th")),
        Seq("__tok", "__th"), "left_anti")
      .select(col("__tok"), col("__th"), lit(0L).as("__dfc"))
    val zero = vocab.filter(col("__dfc") === 0L)
      .select(col("__tok"), col("__th"),
        col("__dfc").cast("long").as("__dfc"))
      .unionByName(novel)
    val collisionW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__th")).orderBy(col("__tok"))
    zero.withColumn("__cx", row_number().over(collisionW).cast("long"))
      .unionByName(vocab.filter(col("__dfc") > 0L)
        .select(col("__tok"), col("__th"),
          col("__dfc").cast("long").as("__dfc"),
          col("__cx").cast("long").as("__cx")))
  }

  /** The per-corpus distinct-gram frame the prefix-filter family runs
    * on. NO size(t)>0 filter: it would be REDUNDANT (a gram-less doc
    * emits no token rows, so no prefixes, candidates, or pairs) and it
    * is expensive — the predicate pushes below the gram projection and
    * re-evaluates the whole n-gram expression per row (measured 0.3 s
    * → 6.5 s on this frame at sf0.1). */
  private def prefixGramFrame(df: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    Materialize.widened(df)
      .select(col(idCol), split(trim(col(textCol)), "\\s+").as("__w"))
      .select(col(idCol), wordNGramsFromWords(col("__w"), n).as("t"))
      .withColumn("__gh", transform(col("t"), g => xxhash64(g)))
      .materialized // feeds df counts, prefixes, and the verify side

  /** One (id, gram string, gram hash) row per distinct gram per doc. */
  private def prefixTokenStream(grams: DataFrame, idCol: String): DataFrame =
    grams
      .select(col(idCol), explode(arrays_zip(col("t"), col("__gh"))).as("z"))
      .select(col(idCol), col("z.t").as("__tok"), col("z.__gh").as("__th"))

  /** Gram vocabulary with document frequency and a collision index.
    *
    * The blocking order is internal: the OUTPUT (exact-verified pairs)
    * is identical under ANY consistent global gram order, so the hot
    * path runs on 64-bit gram hashes — df counts keyed on the gram
    * (this vocab table), the per-doc sort keyed
    * (df, hash, collision-index), and the candidate join on the hash
    * (a collision can only ADD a spurious candidate that exact
    * verification discards). The collision index replaces the r11
    * gram-STRING tiebreak: ranking gram text inside each (df, hash)
    * group keeps the global order TOTAL even if two grams share a hash
    * (the losslessness argument needs exactly that) while the
    * CORPUS-sized collect/sort in [[prefixFrame]] carries only longs —
    * strings stay confined to this VOCAB-sized frame, and the window's
    * partitions are collision groups, i.e. singletons at any corpus
    * size (never a single-partition window hazard). */
  private def rankedGramVocab(tk: DataFrame): DataFrame = {
    val vocab = tk.groupBy(col("__tok"), col("__th"))
      .agg(count(lit(1)).as("__dfc"))
    val collisionW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__dfc"), col("__th")).orderBy(col("__tok"))
    vocab.withColumn("__cx", row_number().over(collisionW).cast("long"))
  }

  /** Per-doc grams in ascending-(df, hash, collision-index) order, cut
    * to the prefix, carrying the doc's distinct-gram-set size and each
    * prefix gram's 1-based sorted position for the ppjoin filters.
    * Materialized: both sides of the candidate join read it —
    * unmaterialized, the whole two-shuffle subtree computes twice.
    * The explicit hash repartition pins the per-doc sort's width: the
    * collect+sort is CPU-bound on byte-small rows, so AQE's byte-based
    * coalescing would squeeze it onto a handful of partitions (the
    * q172 lesson at [[containmentPairs]]); groupBy reuses the id-hash
    * partitioning, so this adds no extra exchange. */
  private def prefixFrame(tk: DataFrame, ranked: DataFrame, idCol: String,
      tau: Double, par: Int): DataFrame =
    tk.join(ranked, Seq("__tok", "__th"))
      .repartition(par, col(idCol))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(
        struct(col("__dfc"), col("__th"), col("__cx")))).as("__ot"))
      .select(col(idCol), size(col("__ot")).cast("long").as("__len"),
        posexplode(expr(
          s"""slice(transform(__ot, s -> s.__th), 1,
             |  CAST(size(__ot) - ceil($tau * size(__ot)) + 1 AS INT))"""
            .stripMargin)))
      .select(col(idCol), col("__len"), (col("pos") + 1).as("__i"),
        col("col").as("__th"))
      .materialized

  /** Prefix-hash equality join + the ppjoin length and positional
    * filters (see [[prefixFilterJaccardPairs]]' scaladoc for the
    * losslessness argument; ANY-ROW-PASSES semantics throughout). */
  private def ppjoinCandidates(a: DataFrame, b: DataFrame, tau: Double,
      selfJoin: Boolean): DataFrame = {
    val joined0 = a.join(b, "__th")
    val joined = if (selfJoin) joined0.filter(col("id_a") < col("id_b"))
      else joined0
    joined
      .filter(least(col("__la"), col("__lb")).cast("double") >=
        lit(tau) * greatest(col("__la"), col("__lb")) - lit(1e-9))
      .filter((lit(1) +
          least(col("__la") - col("__ia"), col("__lb") - col("__ib")))
            .cast("double") >=
        lit(tau / (1.0 + tau)) * (col("__la") + col("__lb")) - lit(1e-9))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Exact set-Jaccard verification over the candidate pairs. The
    * repartition spreads the candidates BEFORE the verify joins (the
    * [[containmentPairs]] pattern): exact set-Jaccard over two ~|doc|
    * long arrays is CPU-bound on byte-small rows — left to AQE the
    * pair frame coalesces to a couple of partitions and the verify
    * runs serial. */
  /** @param derivedWidth size the verify spread from the EXACT
    *        candidate count (one cheap materialize+count of the
    *        (id, id) pair frame; ≥256 pairs/task, floor 1, cap the
    *        pinned 4·par) instead of pinning 4·par. Measured r14
    *        (min-of-3 at sf0.1): the BATCH-vs-index paths win — their
    *        per-batch candidate sets are small and the pinned 128-task
    *        stage was pure spread overhead (q338 10.8 → 8.7 s) — while
    *        the corpus self/cross paths LOSE (q329 2.7 → 2.9 s,
    *        q331 3.3 → 3.7 s: candidate sets big enough that the width
    *        stays 128 and the extra checkpoint+count is dead weight),
    *        so those call sites keep the pinned width. */
  private def verifyJaccard(cands: DataFrame, gramsA: DataFrame,
      gramsB: DataFrame, idCol: String, tau: Double, par: Int,
      derivedWidth: Boolean = false): DataFrame = {
    val (c, width) =
      if (!derivedWidth) (cands, 4 * par)
      else {
        // pinned-width rationale (the containmentPairs lesson): exact
        // set-Jaccard is CPU-bound on byte-small rows, so AQE's
        // byte-coalescing must never serialize a LARGE verify — hence
        // an explicit repartition, here sized by the true pair count
        val m = Materialize(cands)
        (m, math.min(4L * par,
          math.max(1L, (m.count() + 255L) / 256L)).toInt)
      }
    c.repartition(width)
      .join(gramsA.select(col(idCol).as("id_a"), col("__gh").as("ga")),
        "id_a")
      .join(gramsB.select(col(idCol).as("id_b"), col("__gh").as("gb")),
        "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("ga"), col("gb"))) /
          size(array_union(col("ga"), col("gb"))))
      .filter(col("jaccard") >= tau)
  }

  /** CROSS-CORPUS near-duplicate pairs: every (new, old) pair with
    * exact word-n-gram Jaccard ≥ tau — "dedup the incoming crawl
    * against everything already trained on", the incremental sibling of
    * [[ngramJaccardPairs]] (a full self-dedup of old ∪ new would
    * re-pay the old corpus's candidate generation on every batch; here
    * old-side signatures are computed once per batch and could be a
    * persisted table at scale).
    *
    * Same machinery end to end — MinHash signatures, banded buckets,
    * signature-agreement prefilter, exact verify on gram sets — except
    * candidates join ACROSS the two bucket tables (no id ordering
    * constraint: the sides themselves distinguish the pair, and ids may
    * exist in both corpora). Output: (id_new, id_old, jaccard).
    *
    * Runs Spark jobs eagerly at call time (see [[Materialize]] for the
    * block-liveness caveat and the cluster strategy conf).
    */
  def crossCorpusJaccardPairs(dfNew: DataFrame, dfOld: DataFrame,
      idCol: String, textCol: String, n: Int = 3, tau: Double = 0.5,
      numHashes: Int = 128, bandRows: Int = 2): DataFrame =
    crossCorpusAgainstIndex(dfNew,
      indexCorpus(dfOld, idCol, textCol, n, numHashes, bandRows),
      textCol, tau)

  /** The old-corpus side of [[crossCorpusJaccardPairs]], prepared once:
    * gram sets, MinHash signatures, and banded buckets. Build it one
    * time and run every incoming batch against it — the amortization
    * the scaladoc above promises ("old-side signatures computed once
    * per batch and could be a persisted table at scale"), and the unit
    * the STREAMING dedup holds across micro-batches
    * ([[graft.streaming.StreamOps.nearDupAgainstCorpusStream]]). At
    * scale, persist `grams`/`sig`/`buckets` next to the corpus and
    * rehydrate instead of rebuilding. Eager (materializes all three
    * frames at call time — see [[Materialize]]). */
  case class CorpusIndex(idCol: String, n: Int,
      numHashes: Int, bandRows: Int, grams: DataFrame, sig: DataFrame,
      buckets: DataFrame)

  def indexCorpus(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 128, bandRows: Int = 2): CorpusIndex = {
    // `__gh` = 64-bit gram hashes for the verify compare (see
    // ngramJaccardPairs — Jaccard is hash-invariant, longs don't
    // GC-storm); trim-before-split is the house gram convention;
    // widened so a one-file corpus doesn't sketch serially
    val grams = Materialize.widened(df)
      .select(col(idCol), split(trim(col(textCol)), "\\s+").as("__w"))
      .select(col(idCol), wordNGramsFromWords(col("__w"), n).as("grams"))
      .withColumn("__gh", transform(col("grams"), g => xxhash64(g)))
      .materialized
    val sig = signatureTable(grams, idCol, "grams", numHashes).materialized
    CorpusIndex(idCol, n, numHashes, bandRows, grams, sig,
      bandBuckets(sig, idCol, numHashes, bandRows).materialized)
  }

  /** [[crossCorpusJaccardPairs]] against a prepared [[CorpusIndex]]:
    * only the NEW side's grams/signatures/buckets are computed per
    * call — the per-micro-batch cost of the streaming dedup. */
  def crossCorpusAgainstIndex(dfNew: DataFrame, index: CorpusIndex,
      textCol: String, tau: Double): DataFrame = {
    val idCol = index.idCol
    val gramsNew = Materialize.widened(dfNew)
      .select(col(idCol), split(trim(col(textCol)), "\\s+").as("__w"))
      .select(col(idCol),
        wordNGramsFromWords(col("__w"), index.n).as("grams"))
      .withColumn("__gh", transform(col("grams"), g => xxhash64(g)))
      .materialized
    val sigNew = signatureTable(gramsNew, idCol, "grams", index.numHashes)
      .materialized
    val a = bandBuckets(sigNew, idCol, index.numHashes, index.bandRows)
      .alias("a")
    val b = index.buckets.alias("b")
    val cands = a.join(b,
        bandKeys(index.bandRows).map(k => col(s"a.$k") === col(s"b.$k"))
          .reduce(_ && _))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    estimateFilter(cands, sigNew, index.sig, idCol, index.numHashes,
        minEst = tau * 0.6)
      .join(gramsNew.select(col(idCol).as("id_a"), col("__gh").as("ga")),
        "id_a")
      .join(index.grams.select(col(idCol).as("id_b"), col("__gh").as("gb")),
        "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("ga"), col("gb"))) /
          size(array_union(col("ga"), col("gb"))))
      .filter(col("jaccard") >= tau)
      .select(col("id_a").as("id_new"), col("id_b").as("id_old"),
        col("jaccard"))
  }

  /** Cross-SOURCE n-gram overlap ESTIMATES from MinHash UNION sketches —
    * the dataset-card "how much do my slices share" matrix (crawl snapshots
    * overlapping month-to-month, a vendor corpus double-counting a crawl):
    * exact pairwise Jaccard between sources needs a distinct-gram join per
    * pair (quadratic in sources, a full gram shuffle each), where MinHash
    * is distributive over union — min(sig(A ∪ B)) = min(sig A, sig B) —
    * so ONE pass computes per-doc signatures, one position-wise min-agg
    * folds them into a per-SOURCE signature (numHashes longs per source:
    * model-sized), and every pairwise estimate is a zip-compare of two
    * tiny arrays. Estimator: matching positions / numHashes (the
    * [[estimateFilter]] statistics). The q104 gate runs the exact
    * computation next to it at test scale and pins |est − exact| ≤ tol —
    * the q56/q69 approximate-operator pattern.
    *
    * Runs Spark jobs eagerly at call time (the per-source signature
    * materializes — see [[Materialize]] and the note below).
    *
    * @return (src_a, src_b, est_jaccard) for every unordered source pair,
    *         src_a < src_b */
  def sourceOverlapSketch(df: DataFrame, groupCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 128): DataFrame = {
    // two-step through a bound __w column (wordNGramsFromWords scaladoc:
    // an element_at over the raw split expression re-splits per element)
    val grams = df
      .select(col(groupCol).cast("string").as("__src"),
        split(trim(col(textCol)), "\\s+").as("__w"))
      .select(col("__src"), wordNGramsFromWords(col("__w"), n).as("grams"))
    // materialized: |sources| rows × numHashes longs — a model-sized
    // artifact. Without this the pairwise self-join below re-executes
    // the per-doc sketch pass for EACH join side (2 full corpus scans),
    // and AQE's local-read on the broadcast build side additionally
    // collapses that copy to the map-side task count (measured: the
    // whole sketch serialized onto 1 task behind a 1-split parquet).
    val unionSig = signatureTable(grams, "__src", "grams", numHashes)
      .select(col("__src"), posexplode(col("__sig")).as(Seq("__p", "__v")))
      .groupBy(col("__src"), col("__p")).agg(min(col("__v")).as("__m"))
      .groupBy(col("__src"))
      .agg(transform(
        array_sort(collect_list(struct(col("__p"), col("__m")))),
        x => x.getField("__m")).as("__usig"))
      .materialized
    val a = unionSig.select(col("__src").as("src_a"), col("__usig").as("__sa"))
    val b = unionSig.select(col("__src").as("src_b"), col("__usig").as("__sb"))
    val matches = aggregate(
      zip_with(col("__sa"), col("__sb"),
        (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)
    a.join(b, col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        (matches.cast("double") / numHashes).as("est_jaccard"))
  }

  /** Corpus SNAPSHOT DIFF — the versioning CDC between two corpus
    * builds (crawl N vs crawl N+1, pre- vs post-curation): every id
    * classified added / removed / changed / unchanged by full-outer
    * join on the id and md5 comparison on the content. The audit table
    * a corpus release publishes next to its data card — and the input
    * to incremental reprocessing (only `added`/`changed` re-enter the
    * pipeline; [[crossCorpusJaccardPairs]] then dedups exactly that
    * slice against the index).
    *
    * Shape: one full-outer equality join on the id; content compares
    * as md5 hex (computed map-side, 32-byte shuffle payload instead of
    * document bodies when inputs are pre-projected). No windows, no
    * skew surface beyond the id join itself.
    *
    * @return (idCol, status, old_hash, new_hash) — hashes null on the
    *         absent side; null text hashes like empty text */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    def hashed(df: DataFrame, h: String) = df.select(col(idCol),
      md5(coalesce(col(textCol), lit(""))).as(h))
    hashed(oldDf, "old_hash")
      .join(hashed(newDf, "new_hash"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("old_hash").isNull, lit("added"))
          .when(col("new_hash").isNull, lit("removed"))
          .when(col("old_hash") === col("new_hash"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        col("old_hash"), col("new_hash"))
  }

  // ------------------------------------------------------------ clustering

  /** Edge-count cap under which connected components run as a
    * DRIVER-LOCAL union-find instead of the iterative distributed
    * loops: 2M edges = two longs each ≈ 32 MB collected — the same
    * driver-size budget as the IVF training sample and the MMR id
    * gate. Precedent and reason are the IVF k-means finding: per-round
    * JOB LAUNCH dominates iterative fits at small sizes (measured
    * here: 6 star rounds ≈ 0.7 s each for 2,929 edges, where
    * union-find is microseconds). Near-dup pair lists are almost
    * always tiny relative to the corpus; a boilerplate storm that
    * exceeds the cap falls back to the distributed loop unchanged.
    * Since r14 the gate logic itself (type guard + count + collect)
    * lives once in [[DriverGate]]. */
  private[ops] val DriverUnionFindCap = DriverGate.EdgeCap

  /** Driver-local min-label connected components: union-by-smaller-
    * root (so every root IS its component's minimum id — the exact
    * [[duplicateClusters]] contract) plus path compression. One
    * (node, min-of-component) row per distinct node, first-seen
    * order. */
  private[ops] def unionFindMinLabels(
      es: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val n = parent(c); parent(c) = r; c = n
      }
      r
    }
    var i = 0
    while (i < es.length) {
      val (a, b) = es(i)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      i += 1
    }
    val nodes = scala.collection.mutable.LinkedHashSet.empty[Long]
    es.foreach { case (a, b) => nodes += a; nodes += b }
    nodes.iterator.map(n => n -> find(n)).toSeq
  }

  /** Connected components over a near-dup pair list → duplicate
    * clusters (cluster id = min member id): the "keep one survivor per
    * duplicate group" step a training pipeline runs after pair
    * generation. Iterative min-label propagation: each round one
    * join + groupBy with lineage cut per round (localCheckpoint), so
    * the plan stays O(1) across rounds; converges in O(component
    * diameter) rounds — near-dup components are shallow in practice.
    * At extreme scale (deep components) use [[duplicateClustersStar]]:
    * the alternating large-star/small-star scheme converges in O(log n)
    * rounds with the same per-round plan shape. Below `driverCap`
    * DOUBLED edges (and for BIGINT ids), both forms short-circuit to
    * one driver-local union-find — see [[DriverUnionFindCap]].
    *
    * @return (id, cluster_id) for every id present in `pairs`.
    */
  def duplicateClusters(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 25,
      driverCap: Long = DriverUnionFindCap): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .unionByName(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct().persist()
    DriverGate.edges(edges, "src", "dst", driverCap).edges match {
      case Some(es) =>
        val labels = unionFindMinLabels(es)
        edges.unpersist()
        return spark.createDataset(labels).toDF("id", "cluster_id")
      case None => ()
    }
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster_id", col("id")).materialized

    def round(): Boolean = { // propagate once; true when nothing changed
      val nbr = edges.join(labels.select(col("id").as("dst"),
          col("cluster_id").as("__dl")), "dst")
        .groupBy(col("src")).agg(min(col("__dl")).as("__nl"))
      // stability is read off a __changed flag computed IN the propagate
      // select — the historical join-back against the previous labels
      // frame doubled the per-round shuffle work; the flag check below
      // only rescans the already-checkpointed partitions
      val newLabel =
        least(col("cluster_id"), coalesce(col("__nl"), col("cluster_id")))
      val next = labels.join(nbr, col("id") === col("src"), "left")
        .select(col("id"), newLabel.as("cluster_id"),
          (newLabel =!= col("cluster_id")).as("__changed"))
        .materialized
      val stable = next.filter(col("__changed")).isEmpty
      labels = next.drop("__changed")
      stable
    }

    var i = 0
    var done = false
    while (i < maxIter && !done) { done = round(); i += 1 }
    // a run whose LAST permitted round still changed labels may in fact
    // have just converged — confirm with one extra (cheap) round before
    // deciding; wrong cluster ids are worse than a loud failure, so a
    // genuinely unconverged component (diameter > maxIter) throws
    if (!done) done = round()
    edges.unpersist()
    if (!done) throw new IllegalStateException(
      s"duplicateClusters did not converge in $maxIter rounds — " +
        "raise maxIter (component diameter exceeds it)")
    labels
  }

  /** Connected components by ALTERNATING STAR OPERATIONS — the
    * extreme-scale drop-in for [[duplicateClusters]] (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014). Where
    * min-label propagation needs O(component diameter) rounds (a 10^6-node
    * path graph = 10^6 rounds), the large-star/small-star alternation
    * restructures the EDGE SET itself and provably converges in
    * O(log² n) rounds (O(log n) in practice) regardless of diameter,
    * with the same per-round plan shape: one groupBy-min + one join.
    *
    *  - large-star(u): every neighbor v > u re-attaches to
    *    m = min(Γ(u) ∪ u) — long tails collapse toward small ids;
    *  - small-star(u): u and its smaller neighbors all attach to their
    *    minimum — stars flatten one level.
    *
    * Both steps preserve connectivity; the fixed point is a forest of
    * depth-1 stars rooted at each component's minimum id. Per-round
    * lineage is cut with localCheckpoint (same O(1)-plan discipline as
    * the propagation form), and non-convergence throws loudly rather
    * than returning wrong clusters.
    *
    * Parity with [[duplicateClusters]] is asserted in CorpusOpsSpec on
    * paths, cycles, stars and random graphs; the driver-visible q57
    * checks it against a recursive-CTE transitive closure.
    *
    * @return (id, cluster_id) for every id present in `pairs` — same
    *         contract as [[duplicateClusters]].
    */
  def duplicateClustersStar(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 25,
      driverCap: Long = DriverUnionFindCap): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // canonical undirected edge list (u < v), self-loops dropped
    var edges = pairs
      .select(col(idA).as("__x"), col(idB).as("__y"))
      .filter(col("__x") =!= col("__y"))
      .select(least(col("__x"), col("__y")).as("u"),
        greatest(col("__x"), col("__y")).as("v"))
      .distinct().materialized

    def starRound(cur: DataFrame): DataFrame = {
      // large-star: per node, neighbors LARGER than it re-attach to the
      // min of its closed neighborhood. m ≤ u < v, so (m, v) stays
      // canonical without re-sorting.
      val adj = cur.select(col("u"), col("v"))
        .unionByName(cur.select(col("v").as("u"), col("u").as("v")))
      val mins = adj.groupBy(col("u"))
        .agg(min(col("v")).as("__mn"))
        .select(col("u"), least(col("u"), col("__mn")).as("m"))
      val ls = adj.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("m").as("u"), col("v")).distinct()
      // small-star: group by the LARGER endpoint; it and all its smaller
      // neighbors attach to their collective minimum. mn < v' for every
      // emitted neighbor v' and mn < u, so edges stay canonical.
      val sAdj = ls.select(col("v").as("big"), col("u").as("small"))
      val sMin = sAdj.groupBy(col("big")).agg(min(col("small")).as("__mn"))
      val ss = sAdj.join(sMin, "big")
        .select(col("__mn").as("u"),
          explode(array(col("small"), col("big"))).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      ss.materialized
    }

    var i = 0
    var done = false
    // the gate probe counts the frame ONCE; the count is carried to
    // the first round's equality check — recounting the
    // (checkpointed) previous frame would add a redundant job
    val probe = DriverGate.edges(edges, "u", "v", driverCap)
    // probe.count is None only when the type guard excluded the gate
    // (then probe.edges is None too) — count here, once, for the
    // convergence check
    var edgeCount = probe.count.getOrElse(edges.count())
    val labels: DataFrame = probe.edges match {
      case Some(es) =>
        // driver-local short-circuit (see DriverUnionFindCap): the edge
        // frame is already materialized, so the collect re-reads
        // checkpointed blocks, and union-by-smaller-root yields exactly
        // the min-id fixed point the star loop converges to
        spark.createDataset(unionFindMinLabels(es))
          .toDF("id", "cluster_id")
      case None => {
      while (i < maxIter && !done) {
        val next = starRound(edges)
        val nextCount = next.count()
        // set equality via count + one-sided except (both over
        // already-checkpointed frames); the alternation is monotone so a
        // same-size superset cannot occur silently
        done = nextCount == edgeCount && next.exceptAll(edges).isEmpty
        edges = next
        edgeCount = nextCount
        i += 1
      }
      if (!done) throw new IllegalStateException(
        s"duplicateClustersStar did not converge in $maxIter rounds")
      // fixed point = depth-1 stars: each non-root appears as v exactly
      // once with its root as u; roots label themselves.
      edges.select(col("v").as("id"), col("u").as("cluster_id"))
        .unionByName(edges.select(col("u").as("id"),
          col("u").as("cluster_id")))
        .distinct()
      }
    }
    // Re-attach ids whose only pairs were self-loops (dropped from the
    // edge set above) as their own singleton clusters — the contract
    // promises a row for EVERY id in `pairs`, matching
    // [[duplicateClusters]].
    val allIds = pairs.select(col(idA).as("id"))
      .unionByName(pairs.select(col(idB).as("id"))).distinct()
    allIds.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
  }

  // --------------------------------------------------------------- SimHash

  /** Column-form SimHash over an arbitrary per-token hash and bit
    * width: per-bit vote of each token's hash, bit set when the vote is
    * positive. The parametric form exists so a cross-engine-portable
    * hash can replace xxhash64 where an external oracle must restate
    * the fingerprint exactly. */
  def simhashBits(tokens: Column, bits: Int,
      tokenHash: Column => Column): Column = {
    val hs = transform(tokens, t => tokenHash(t))
    val counts = aggregate(hs, array_repeat(lit(0), bits),
      (acc, h) => zip_with(acc,
        array((0 until bits).map(b =>
          when(shiftrightunsigned(h, b).bitwiseAND(lit(1L)) === 1L, 1)
            .otherwise(-1)): _*),
        (a, v) => a + v))
    (0 until bits).map(b =>
      when(element_at(counts, b + 1) > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
  }

  /** 64-bit SimHash (xxhash64 votes) — Column twin of the native sketch. */
  def simhash64(tokens: Column): Column =
    simhashBits(tokens, 64, t => xxhash64(t))

  /** Portable 60-bit token hash: top 15 hex chars of md5 — any engine
    * with md5 restates it bit-exactly (60 bits keeps the value inside a
    * signed 64-bit integer in every engine). */
  def md5Hash60(t: Column): Column =
    conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  /** Banded Hamming-neighbor join over a (id, fp) fingerprint frame:
    * 4 chunks of `chunkBits`; pigeonhole guarantees full recall for
    * maxHamming ≤ 3; verification via bit_count(xor). */
  private def hammingBandPairs(fp: DataFrame, idCol: String,
      chunkBits: Int, maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "4-band blocking guarantees recall only to 3")
    val chunks = array((0 until 4).map(c => struct(lit(c).as("chunk"),
      shiftrightunsigned(col("fp"), c * chunkBits)
        .bitwiseAND(lit((1L << chunkBits) - 1)).as("v"))): _*)
    val buckets = fp.select(col(idCol), col("fp"), explode(chunks).as("bk"))
      .select(col(idCol), col("fp"), col("bk.chunk"), col("bk.v"))
    val a = buckets.alias("a")
    val b = buckets.alias("b")
    a.join(b, col("a.chunk") === col("b.chunk") && col("a.v") === col("b.v")
        && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Banded Hamming pairs over a PRECOMPUTED 64-bit fingerprint column
    * — the public entry for fingerprints born outside this file (the
    * image aHash from [[graft.ops.Multimodal.imageAHash]], an audio
    * chromaprint, any external 64-bit sketch). Same 4×16-bit pigeonhole
    * blocking as [[simhashPairs]]: full recall for maxHamming ≤ 3, one
    * explode + one equality shuffle, exact `bit_count(xor)` verify.
    * @return (id_a, id_b, hamming) with id_a < id_b */
  def fingerprintPairs(fp: DataFrame, idCol: String, fpCol: String,
      maxHamming: Int = 3): DataFrame =
    hammingBandPairs(fp.select(col(idCol), col(fpCol).as("fp")),
      idCol, 16, maxHamming)

  /** Near-dup pairs with Hamming distance ≤ maxHamming on token SimHash
    * (production path: native 64-bit xxhash sketch — the whole
    * fingerprint in one loop per doc, no explode, no agg shuffle). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    hammingBandPairs(
      Materialize.widened(df)
        .select(col(idCol), graft.functions.HashSketches
          .simhash64(split(trim(col(textCol)), "\\s+")).as("fp")),
      idCol, 16, maxHamming)

  /** Oracle path: same operator over the portable 60-bit md5 hash
    * (4×15-bit bands) — an external engine can brute-force the exact
    * same pairs, which is what makes q23 hash-checkable. Native sketch
    * here too; `simhashBits(…, 60, md5Hash60)` is its parity twin. */
  def simhashPairsPortable(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    hammingBandPairs(
      Materialize.widened(df)
        .select(col(idCol), graft.functions.HashSketches
          .simhashMd5_60(split(trim(col(textCol)), "\\s+")).as("fp")),
      idCol, 15, maxHamming)

  /** SUBSTRING-level corpus dedup — the distributed word-granular
    * approximation of exact-substring deduplication (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better": their
    * suffix array finds byte spans repeated across the corpus and
    * excises them in place; a suffix array does not distribute). Here a
    * word n-gram whose hash appears in at least `minDf` DISTINCT
    * documents marks its n word positions as duplicated text; each
    * document's marked positions merge implicitly (overlapping grams
    * cover overlapping position ranges) and the surviving words rebuild
    * the text in order. Documents keep their row even when fully
    * excised (empty `outCol` — the [[Decontamination
    * .exciseContaminatedLines]] convention).
    *
    * Distinct-document frequency (not total occurrences) is deliberate:
    * within-document repetition is a different signal with its own
    * operator ([[TextAnalysis.repetitionSignals]]); this one removes
    * text SHARED across documents — boilerplate, licenses, templated
    * headers — which is what depresses LM memorization.
    *
    * Scale shape: the positioned-gram table (one row per corpus word,
    * 8-byte md5-60 key) is materialized ONCE and feeds both the
    * document-frequency aggregation (map-side-combined, countDistinct
    * on the doc id) and the semi-join back; coverage explodes each
    * duplicated gram to its n positions (×n only on the duplicated
    * fraction), distinct-dedups on (doc, position), and the rebuild is
    * the standard anti-join + per-doc sorted collect (per-group state =
    * one document). No windows, no self-joins; every shuffle key is a
    * hash or (doc, position) pair.
    *
    * @return (idCol, outCol, n_words_kept, n_words_excised)
    */
  /** Canonical-copy RESOLUTION for duplicate clusters — the "which
    * copy survives" policy applied after [[duplicateClusters]]: within
    * each cluster the row with the highest `scoreCol` wins (keep the
    * longest / highest-quality copy — the standard web-curation
    * policy), ties to the lowest id, so the survivor is a
    * deterministic total-order argmax any engine restates (q155).
    * Min-id canonicalization ([[duplicateClusters]]' `is_canonical`)
    * is the degenerate case scoreCol = constant.
    *
    * Scale shape: two map-side-combined aggregations on the cluster
    * key — max-score then min-id-among-max — via one packed
    * (score, -id) struct max, then a broadcast-free join back on the
    * cluster key. No windows, no per-cluster state beyond the
    * aggregate.
    *
    * @param df (idCol, clusterCol, scoreCol) — one row per member
    * @return (idCol, clusterCol, survivor_id, keep) */
  def resolveClusters(df: DataFrame, idCol: String, clusterCol: String,
      scoreCol: String): DataFrame = {
    val sc = col(scoreCol).cast("long")
    val id = col(idCol).cast("long")
    // max over (score, -id): highest score, ties to lowest id (the
    // preferencePairs packing)
    val survivors = df.groupBy(col(clusterCol))
      .agg(max(struct(sc.as("s"), (-id).as("ni"))).as("__b"))
      .select(col(clusterCol), (-col("__b.ni")).as("survivor_id"))
    df.select(col(idCol), col(clusterCol))
      .join(survivors, Seq(clusterCol))
      .select(col(idCol), col(clusterCol), col("survivor_id"),
        (col(idCol) === col("survivor_id")).as("keep"))
  }

  def exciseRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
      outCol: String = "clean_text", n: Int = 8,
      minDf: Long = 2L): DataFrame = {
    require(n >= 2, s"n must be >= 2, got $n")
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    // null text behaves like empty text (zero words kept, zero excised)
    val text = coalesce(col(textCol), lit(""))
    val words = df.select(col(idCol),
      posexplode(split(trim(text), "\\s+")).as(Seq("__pos", "__word")))
    // one positioned gram per starting word: (doc, start pos, hash).
    // Bind the words array before the lambda; positions are 0-based to
    // line up with posexplode's __pos.
    // widened (r14): the per-position md5-over-8-grams build is the
    // operator's CPU (q112: 1.25 s of task time on the scan's 4
    // splits); one materialized build, downstream consumers read
    // blocks — the prefixGramFrame shape exactly
    val grams = Materialize.widened(df)
      .select(col(idCol), split(trim(text), "\\s+").as("__w"))
      .filter(size(col("__w")) >= n)
      .select(col(idCol), posexplode(
        transform(sequence(lit(1), size(col("__w")) - (n - 1)),
          i => md5Hash60(concat_ws(" ", slice(col("__w"), i, lit(n)))))
      ).as(Seq("__start", "__g")))
      .materialized // feeds the df agg AND the coverage join
    val dup = grams.groupBy(col("__g"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDf)
      .select(col("__g"))
    val covered = grams.join(dup, "__g")
      .select(col(idCol),
        explode(sequence(col("__start"), col("__start") + (n - 1)))
          .as("__pos"))
      .distinct()
    val kept = words.join(covered, Seq(idCol, "__pos"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("__pos"), col("__word")))),
            x => x.getField("__word")),
          " ").as(outCol),
        count(lit(1)).as("n_words_kept"))
    df.select(col(idCol), size(split(trim(text), "\\s+")).as("__total"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col(outCol), lit("")).as(outCol),
        coalesce(col("n_words_kept"), lit(0L)).as("n_words_kept"),
        (col("__total") - coalesce(col("n_words_kept"), lit(0L)))
          .as("n_words_excised"))
  }

  /** EDIT-DISTANCE near-dup pairs for SHORT text (titles, instructions,
    * prompts — the Self-Instruct-style pool where a one-character
    * paraphrase is a duplicate that shingle-based MinHash can't see):
    * every unordered pair within Levenshtein distance `maxDist`,
    * exactly — no false negatives, no sampling.
    *
    * Candidate generation is the PassJoin segment filter (Li et al.
    * 2011, "PASS-JOIN: A Partition-based Method for Similarity Joins",
    * public): split each string into `maxDist + 1` even chunks — at
    * most `maxDist` edits can touch at most `maxDist` chunks, so for
    * any true pair some chunk survives VERBATIM in the other string,
    * shifted by at most `maxDist` positions (each edit shifts the
    * alignment by ≤ 1). So: probes emit their d+1 chunks keyed by
    * (own length, chunk index, chunk text); the index side emits, for
    * each probe length within ±d of its own and each chunk slot, the
    * substrings at the ±d position window — a CONSTANT
    * (2d+1)²·(d+1) emissions per string (75 at d = 2), joined by
    * exact chunk text. Quadratic cost only inside identical-chunk
    * buckets, never an all-pairs shuffle. Strings shorter than d+1
    * (where the pigeonhole has no nonempty chunks) pair through a
    * length-window bucket join instead — bounded by how many near-empty
    * strings the corpus has. Exact verification runs the capped banded
    * [[graft.functions.EditDistance]] (O(d·len) per candidate, early
    * abandon) on candidates only.
    *
    * Byte-vs-character caveat: verification distance is UTF-8 byte
    * distance (the DuckDB `levenshtein` contract — q168's independent
    * oracle); chunking runs on Spark's codepoint substrings, which is
    * only a candidate-generation choice and never affects which pairs
    * verify. Null text = empty text.
    *
    * @return (id_a, id_b, dist) with id_a < id_b and dist <= maxDist
    */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 1 && maxDist <= 8,
      s"maxDist must be in [1,8] (cost grows as (2d+1)^2(d+1)), got $maxDist")
    val d = maxDist
    val base = df.select(col(idCol).cast("long").as("id"),
        coalesce(col(textCol), lit("")).as("s"))
      .withColumn("l", length(col("s")).cast("int"))
    // probes: the d+1 even chunks of every string of length >= d+1
    val probe = base.filter(col("l") >= d + 1)
      .select(col("id"), col("s"), col("l"),
        explode(sequence(lit(0), lit(d))).as("i"))
      .withColumn("__st", floor(col("i") * col("l") / (d + 1)).cast("int"))
      .withColumn("__en",
        floor((col("i") + 1) * col("l") / (d + 1)).cast("int"))
      .select(col("id"), col("l"), col("i"),
        expr("substring(s, __st + 1, __en - __st)").as("chunk"))
    // index: for each targeted probe length (±d) and chunk slot, the
    // substrings at the ±d position window — constant emissions/string
    val idx = base
      .select(col("id").as("id2"), col("s").as("s2"), col("l").as("m"),
        explode(sequence(lit(-d), lit(d))).as("__dl"))
      .withColumn("l", (col("m") + col("__dl")).cast("int"))
      .filter(col("l") >= d + 1)
      .withColumn("i", explode(sequence(lit(0), lit(d))))
      .withColumn("__st", floor(col("i") * col("l") / (d + 1)).cast("int"))
      .withColumn("__ln",
        (floor((col("i") + 1) * col("l") / (d + 1)) - col("__st")).cast("int"))
      .withColumn("__w", explode(sequence(lit(-d), lit(d))))
      .withColumn("__p", col("__w") + col("__st"))
      .filter(col("__p") >= 0 && col("__p") + col("__ln") <= col("m"))
      .select(col("id2"), col("l"), col("i"),
        expr("substring(s2, __p + 1, __ln)").as("chunk"))
    val candLong = probe.join(idx, Seq("l", "i", "chunk"))
      .filter(col("id") =!= col("id2"))
      .select(least(col("id"), col("id2")).as("id_a"),
        greatest(col("id"), col("id2")).as("id_b"))
    // tiny strings (len <= d): the pigeonhole needs d+1 nonempty
    // chunks, so pair these through a length-window bucket instead
    // (partners are bounded by len <= 2d)
    val tinyProbe = base.filter(col("l") <= d)
      .select(col("id"), explode(sequence(
        greatest(col("l") - d, lit(0)), col("l") + d)).as("m"))
    val tinyIdx = base.filter(col("l") <= 2 * d)
      .select(col("id").as("id2"), col("l").as("m"))
    val candTiny = tinyProbe.join(tinyIdx, "m")
      .filter(col("id") =!= col("id2"))
      .select(least(col("id"), col("id2")).as("id_a"),
        greatest(col("id"), col("id2")).as("id_b"))
    val cands = candLong.union(candTiny).distinct()
    cands
      .join(base.select(col("id").as("id_a"), col("s").as("__sa")), "id_a")
      .join(base.select(col("id").as("id_b"), col("s").as("__sb")), "id_b")
      .withColumn("dist",
        graft.functions.EditDistance(col("__sa"), col("__sb"), d))
      .filter(col("dist") <= d)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** ROUGE-L near-dup pairs — the Self-Instruct dedup gate (Wang et
    * al. 2022: a generated instruction joins the pool only if its
    * ROUGE-L F₁ vs every existing instruction stays ≤ 0.7): every
    * unordered pair with `f1_permille >= minPermille`, where
    * `f1_permille = (2000·LCS) div (|A|+|B|)` — the ROUGE-L F₁ (its
    * precision/recall harmonic mean simplifies to 2L/(|A|+|B|)) in
    * exact integer per-mille, so the verify stage has no FP anywhere.
    *
    * Candidate generation is the PREFIX FILTER of set-similarity
    * joins (Chaudhuri et al. 2006 SSJoin / Bayardo et al. 2007,
    * public), made valid for LCS through the bag-overlap bound: every
    * LCS occurrence is a one-to-one token-occurrence match, so
    * `overlap_bag(A,B) >= L >= ceil(θ·(|A|+|B|)/2) >= ceil(θ·|A|/2)`.
    * Order every doc's token OCCURRENCES canonically by (global doc
    * frequency asc, token asc); a qualifying pair's matched occurrence
    * multiset is the same on both sides, so its (df, token)-smallest
    * member sits inside both docs' first `len − L_min + 1` positions
    * (the prefix-filter pigeonhole, occurrence-matched), and joining
    * prefix tokens against prefix tokens misses NO qualifying pair —
    * exactness is unit-tested against brute force. `L_min` uses the
    * PAIR-length form of the bound: any partner has at least the
    * corpus-minimum token count `minLen`, so
    * `L >= ceil(θ·(len+minLen)/2)` — strictly tighter than the
    * partner-agnostic `ceil(θ·len/2)` (which is the minLen = 0
    * degenerate case) and the difference is decisive on low-entropy
    * corpora where document frequency alone cannot shrink buckets
    * (measured 4× fewer candidate pairs on the q172 fixture). Docs
    * whose prefix length clamps to zero cannot reach the threshold
    * against any partner and drop out of candidate generation
    * entirely. At θ = 0.7 the prefix join shuffles rare-token keys
    * (frequency-ascending order puts stopwords LAST, outside most
    * prefixes), quadratic only inside same-rare-token buckets.
    *
    * Scale shape: one explode for the df table (map-side-combined
    * count), one doc-sized sort per doc (groupBy collect, no global
    * window), prefix join on single-token keys, exact [[
    * graft.functions.LcsLength]] verify (native codegen'd DP) on
    * distinct candidates only. Docs with zero tokens can never reach
    * a positive threshold and are dropped up front (also keeps the
    * F₁ division total).
    *
    * @param df        input with an ARRAY<STRING> token column
    *                  (pre-tokenized — slice/normalize upstream)
    * @param minPermille ROUGE-L F₁ threshold in per-mille (700 = the
    *                  Self-Instruct 0.7), must be >= 1
    * @return (id_a, id_b, lcs_len, f1_permille) with id_a < id_b
    */
  def rougeLPairs(df: DataFrame, idCol: String, tokensCol: String,
      minPermille: Int): DataFrame = {
    require(minPermille >= 1 && minPermille <= 1000,
      s"minPermille must be in [1,1000], got $minPermille")
    val base = df.select(col(idCol).cast("long").as("id"),
        col(tokensCol).as("__toks"))
      .filter(size(col("__toks")) >= 1)
    val occ = base.select(col("id"),
      posexplode(col("__toks")).as(Seq("__pos", "__tok")))
    val dfreq = occ.select(col("id"), col("__tok")).distinct()
      .groupBy(col("__tok")).agg(count(lit(1)).as("__df"))
    // the pair-length bound's partner floor: a one-row broadcast, so
    // the prefix computation stays a single declarative plan
    val minLen = base.agg(min(size(col("__toks"))).as("__minlen"))
    // canonical occurrence order (df asc, token asc, pos asc), then
    // keep the first len - ceil(θ·(len+minLen)/2) + 1 occurrences as
    // the prefix (clamped at zero: such docs cannot qualify at all)
    val prefix = occ.join(dfreq, "__tok")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(
        col("__df"), col("__tok"), col("__pos")))).as("__o"))
      .crossJoin(broadcast(minLen))
      .select(col("id"), expr(
        s"""transform(
           |  slice(__o, 1,
           |    greatest(0, size(__o)
           |      - (((size(__o) + __minlen) * $minPermille + 1999)
           |           div 2000)
           |      + 1)),
           |  x -> x.__tok)""".stripMargin).as("__pre"))
      .select(col("id"), explode(col("__pre")).as("__tok"))
      // pinned width on the canonicalizing distinct (r14; the q241
      // pattern — distinct() reuses the hash partitioning, so no
      // extra exchange): byte-small prefix rows let AQE coalesce the
      // self-join's probe side to ONE partition, serializing the
      // per-token pair expansion + distinct partials (measured: a
      // 1.9 s single-task stage of a 3.9 s wall at sf0.1)
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("id"), col("__tok"))
      .distinct()
    // (measured and rejected: ROUND-ROBIN-spreading the prefix frame
    // before the token self-join — unlike the hash pin above, it
    // breaks the join partitioning — halves wall at sf0.1 but costs
    // ~4× total CPU (per-task aggregate setup and a second full-pair
    // shuffle); the candidate spread below is the right knob for the
    // DP side)
    val cands = prefix
      .join(prefix.select(col("id").as("id2"), col("__tok")), "__tok")
      .filter(col("id") < col("id2"))
      .select(col("id").as("id_a"), col("id2").as("id_b")).distinct()
    // spread the candidate pairs BEFORE the verify joins: the
    // O(|A|·|B|) LCS DP is CPU-bound on byte-small rows, so AQE's
    // byte-based coalescing squeezes it onto a handful of partitions
    // (measured 12 tasks / 5.8 s serial on q172 at sf0.1). The spread
    // must sit under the joins, not over them — Catalyst pushes the
    // F₁ predicate (which embeds the DP) down into the join
    // condition, so only the pre-join partitioning controls where the
    // DP executes; when the token side broadcasts, the join inherits
    // this width, and when it shuffles instead the data is large
    // enough that AQE keeps real parallelism anyway.
    cands
      .repartition(4 * df.sparkSession.sparkContext.defaultParallelism)
      .join(base.select(col("id").as("id_a"), col("__toks").as("__ta")),
        "id_a")
      .join(base.select(col("id").as("id_b"), col("__toks").as("__tb")),
        "id_b")
      .withColumn("lcs_len",
        graft.functions.LcsLength(col("__ta"), col("__tb")))
      .withColumn("f1_permille",
        expr("(2000L * lcs_len) div (size(__ta) + size(__tb))"))
      .filter(col("f1_permille") >= minPermille)
      .select(col("id_a"), col("id_b"), col("lcs_len"), col("f1_permille"))
  }

  /** GRAM-CONTAINMENT pairs — Broder's directional containment
    * C(A,B) = |A∩B| / |A| (Broder 1997 §2, the companion metric to
    * the resemblance the MinHash family estimates): near-SUBSET
    * detection, which Jaccard structurally misses (a paragraph quoted
    * inside a 100× longer page has tiny Jaccard but containment ≈ 1
    * from the paragraph's side). The quote/excerpt gate between
    * document-level near-dup and substring-level excision.
    *
    * Exact integer output: shared distinct md5-60 gram hashes and both
    * directions' ppm, `(shared · 10⁶) div |side|`.
    *
    * Scale shape: candidate generation is the shared-gram equi-join,
    * bounded by the document-frequency prune (`maxDf`) — the SSJoin
    * discipline every pair generator here follows: a gram in d docs
    * fans out C(d,2) pairs, so boilerplate grams must not join.
    * Honesty note: `shared` counts only grams with df ≤ maxDf while
    * the denominators count ALL grams, so reported containment is a
    * LOWER BOUND under pruning; callers that need exactness at
    * fixture scale pass maxDf ≥ corpus size (the q-suite twin does,
    * so the oracle pins the exact semantics).
    *
    * @return (id_a, id_b, shared, n_a, n_b, containment_a_ppm,
    *         containment_b_ppm) for pairs where either direction
    *         reaches tauPpm */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, maxDf: Long, tauPpm: Long): DataFrame = {
    require(n >= 1 && maxDf >= 2 && tauPpm >= 0,
      s"need n >= 1, maxDf >= 2, tauPpm >= 0; got $n/$maxDf/$tauPpm")
    import graft.ops.Materialize.MaterializeOps
    // feeds the df-prune, both sizes, and both join sides — once;
    // widened so the per-gram hashing never runs on one task
    val grams = Materialize.widened(df)
      .select(col(idCol), split(trim(col(textCol)), "\\s+").as("__w"))
      .select(col(idCol),
        explode(Decontamination.gramHashesFromWords(col("__w"), n))
          .as("__g"))
      .materialized
    val sizes = grams.groupBy(col(idCol)).agg(count(lit(1)).as("__sz"))
    val keep = grams.join(
      grams.groupBy(col("__g")).agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxDf).select(col("__g")),
      "__g")
    val shared = keep.select(col(idCol).as("id_a"), col("__g"))
      .join(keep.select(col(idCol).as("id_b"), col("__g")), "__g")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col(idCol).as("id_a"), col("__sz").as("n_a")),
        "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("__sz").as("n_b")),
        "id_b")
      .withColumn("containment_a_ppm", expr("(shared * 1000000) div n_a"))
      .withColumn("containment_b_ppm", expr("(shared * 1000000) div n_b"))
      .filter(greatest(col("containment_a_ppm"),
        col("containment_b_ppm")) >= tauPpm)
      // the USING-joins above moved their keys first; pin the order
      .select(col("id_a"), col("id_b"), col("shared"), col("n_a"),
        col("n_b"), col("containment_a_ppm"), col("containment_b_ppm"))
  }

  // ------------------------------------------------------- LSH planning

  /** LSH BANDING PLANNER — chooses (bands b, rows-per-band r) for the
    * MinHash family above given a similarity threshold, instead of
    * hand-picking: with b·r = numHashes, a pair of Jaccard s collides
    * with probability p(s) = 1 − (1 − sʳ)ᵇ (Broder banding S-curve;
    * Leskovec/Rajaraman/Ullman, MMDS §3.4.2), and the datasketch-style
    * objective scores each divisor pair by
    *   error(τ) = Σ_{s ≤ τ} p(s) + Σ_{s > τ} (1 − p(s))
    * over a fixed similarity grid — false-positive mass below the
    * threshold plus false-negative mass above it; the minimizing pair
    * (ties → fewer bands) is the banding to deploy.
    *
    * Everything is integer ppm: the powers fold with truncating
    * division per step ((acc · x) div 10⁶, non-negative so Spark
    * `div` == DuckDB `//`), making the whole table a deterministic
    * integer recurrence both engines replay bit-for-bit (q221) — the
    * quantized-k-means convention applied to planner math. The frame
    * is |divisors(numHashes)| × |taus| rows of nested higher-order
    * folds: model-sized, no shuffle beyond the final per-τ rank.
    *
    * @param tausPpm target Jaccard thresholds, ppm
    * @return (tau_ppm, bands, rows_per_band, error_sum, chosen) —
    *         full table, one `chosen=true` row per τ */
  def lshPlan(spark: org.apache.spark.sql.SparkSession, numHashes: Int,
      tausPpm: Seq[Long]): DataFrame = {
    require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
    require(tausPpm.nonEmpty, "need at least one tau")
    import org.apache.spark.sql.expressions.Window
    val pairs = spark.range(1, numHashes + 1L)
      .filter(lit(numHashes) % col("id") === 0)
      .select(col("id").as("bands"),
        (lit(numHashes.toLong) / col("id")).cast("long")
          .as("rows_per_band"))
    val taus = tausPpm.map(t =>
        spark.range(1).select(lit(t).as("tau_ppm")))
      .reduce(_.unionByName(_))
    // SQL-lambda folds (the DSL has no integral `div` inside HOF
    // lambdas): s^r then (1-s^r)^b, each power a truncating-ppm fold
    def coll(sRef: String): String =
      s"(1000000L - aggregate(sequence(1L, bands), 1000000L, " +
        s"(accb, xb) -> (accb * (1000000L - " +
        s"aggregate(sequence(1L, rows_per_band), 1000000L, " +
        s"(accr, xr) -> (accr * $sRef) div 1000000L))) div 1000000L))"
    val scored = pairs.crossJoin(taus)
      .withColumn("error_sum", expr(
        "aggregate(sequence(50000L, 1000000L, 50000L), 0L, " +
          s"(acc, s) -> acc + (CASE WHEN s <= tau_ppm THEN ${coll("s")} " +
          s"ELSE 1000000L - ${coll("s")} END))"))
    val w = Window.partitionBy(col("tau_ppm"))
      .orderBy(col("error_sum").asc, col("bands").asc)
    scored
      .withColumn("chosen", row_number().over(w) === 1)
      .select(col("tau_ppm"), col("bands"), col("rows_per_band"),
        col("error_sum"), col("chosen"))
  }

  /** CANONICAL-DOCUMENT selection by Jaccard medoid: after
    * [[ngramJaccardPairs]] + [[duplicateClusters]] labels near-dup
    * groups, pick each cluster's medoid — the member minimizing the
    * sum of exact n-gram Jaccard DISTANCES (1000 − 1000·|∩| div |∪|,
    * integer per-mille) to every other member, ties by smallest id.
    * The medoid is the principled keep-one choice where min-id
    * (q49's `is_canonical`) is only the cheap one: it keeps the most
    * REPRESENTATIVE variant, not an arbitrary one.
    *
    * Scale shape: the pairwise distance join is keyed on cluster_id,
    * so its cost is Σ|cluster|² — bounded by the near-dup clusters
    * themselves (tiny by construction; a pathological mega-cluster is
    * already a data-quality signal [[resolveClusters]] surfaces), never
    * corpus². Distances ride the same 64-bit gram-hash arrays the
    * verify stage uses; set sizes are invariant under the injective
    * hash, so an engine replaying string grams matches exactly.
    *
    * @return (cluster_id, medoid_id, n_members, sum_dist_milli) —
    *         singletons (docs in no cluster) appear with themselves as
    *         medoid and sum 0 */
  def clusterMedoids(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, tau: Double = 0.5,
      numHashes: Int = 128, bandRows: Int = 2): DataFrame = {
    // the pair generator's materialized gram frame is reused for the
    // medoid distances (r14): re-deriving the gram sets here re-ran
    // the split + n-gram + xxhash projection over the whole corpus a
    // second time per call. array_distinct over the shared frame's
    // positional hashes is value-identical to hashing the distinct
    // grams (same split, same n-gram window, same hash).
    val (pairs, gramsShared) = ngramJaccardPairsWithGrams(df, idCol,
      textCol, n, tau, numHashes, bandRows)
    val clusters = duplicateClusters(pairs)
    val grams = gramsShared
      .select(col(idCol).as("id"),
        array_distinct(col("__gh")).as("__gh"))
    val members = clusters.join(grams, Seq("id")).materialized
    val a = members.select(col("cluster_id"), col("id").as("ida"),
      col("__gh").as("ga"))
    val b = members.select(col("cluster_id"), col("id").as("idb"),
      col("__gh").as("gb"))
    val dists = a.join(b, Seq("cluster_id"))
      .filter(col("ida") < col("idb"))
      .withColumn("inter",
        size(array_intersect(col("ga"), col("gb"))).cast("long"))
      .withColumn("uni",
        size(array_union(col("ga"), col("gb"))).cast("long"))
      .withColumn("d", lit(1000L) - expr("(1000 * inter) div uni"))
      .select(col("cluster_id"), col("ida"), col("idb"), col("d"))
    val contrib = dists
      .select(col("cluster_id"), col("ida").as("id"), col("d"))
      .unionByName(dists
        .select(col("cluster_id"), col("idb").as("id"), col("d")))
    val sums = contrib.groupBy(col("cluster_id"), col("id"))
      .agg(sum(col("d")).as("sum_dist_milli"))
    val medoids = sums.groupBy(col("cluster_id"))
      .agg(min(struct(col("sum_dist_milli"), col("id"))).as("__m"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), col("__m.id").as("medoid_id"),
        col("n_members"), col("__m.sum_dist_milli").as("sum_dist_milli"))
    val singles = df.select(col(idCol).as("id"))
      .join(clusters, Seq("id"), "left_anti")
      .select(col("id").as("cluster_id"), col("id").as("medoid_id"),
        lit(1L).as("n_members"), lit(0L).as("sum_dist_milli"))
    medoids.unionByName(singles)
  }
  /** EXACT-SUBSTRING duplicate spans (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", ACL — the ExactSubstr
    * operator; SlimPajama/RefinedWeb run the same idea L-gram-anchored
    * instead of suffix-array-exact, which is the form that
    * map-reduces): every token span of length >= `l` whose L-gram
    * occurs >= `minFreq` times ANYWHERE in the corpus (including twice
    * in one document) is reported as a duplicated region, with
    * overlapping/adjacent anchor windows merged into maximal spans.
    * Complements [[exactDedup]] (whole-doc), [[Decontamination]]
    * (vs a bench set), and q96's line-level dedup: this is the
    * operator that catches boilerplate and licenses REPEATED INSIDE
    * otherwise-unique documents — the duplication mode whole-doc
    * hashing cannot see.
    *
    * Shape: tokenize once, one HOF window pass emits (pos, hash-60 of
    * the space-joined L-gram), one hash aggregation counts gram
    * frequencies (map-side combinable), one equi-join keeps duplicated
    * anchors, and the interval merge is a per-document window
    * (gaps-and-islands over ascending positions — equal-length
    * intervals make `pos > lag(pos) + l` the exact merge rule). Never
    * pairwise: candidate volume is (duplicated anchors), not n².
    * Per-document window state is doc-bounded (the parse-op bound).
    * All arithmetic integer; the md5-60 grams are the [[md5Hash60]]
    * house convention, so any engine restates the exact span set.
    *
    * INPUT MUST BE DETERMINISTIC: the gram stream is deliberately
    * un-materialized (the r11 recompute adjudication below) and is
    * evaluated TWICE — once for the frequency bar, once for the anchor
    * join. A non-deterministic `df` (a `sample`, a bare `limit` over
    * unordered data, a non-stable source) can present DIFFERENT rows
    * to the two passes, yielding anchors inconsistent with the
    * frequencies — silently wrong spans. Pass a deterministic frame
    * (any parquet/table read qualifies); stabilize a non-deterministic
    * one first with [[Materialize.MaterializeOps.materialized]] at the
    * call site — opt-in, because that checkpoint is the corpus-sized
    * write the recompute decision exists to avoid.
    *
    * @param l     anchor length in tokens (Lee et al. use 50; small
    *              corpora want ~10-20)
    * @param minFreq a span counts as duplicated at this many
    *              occurrences (default 2)
    * @return (doc_id-named idCol, span_start 1-based token index,
    *         span_end exclusive, n_anchor_tokens = span_end - span_start)
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      l: Int, minFreq: Long = 2L): DataFrame = {
    require(l >= 2, s"anchor length must be >= 2 tokens, got $l")
    require(minFreq >= 2, s"minFreq must be >= 2, got $minFreq")
    import org.apache.spark.sql.expressions.Window
    // The gram stream is consumed TWICE (frequency bar + anchor join).
    // Adjudicated trade (r11, measured at sf0.1 — 5k docs, ~1.0M
    // grams): RECOMPUTE, don't checkpoint. Measured wall is a
    // statistical TIE at this scale (recompute reps 3.18/3.22/3.42 s
    // vs checkpoint 2.72/3.30 s, inside the VM's variance band), but
    // the checkpoint run drags store_mb=18 of block-manager storage —
    // a CORPUS-TOKENS-linear (id, pos, hash) write (~18 B/gram
    // serialized) that at 100 TB of text becomes a corpus-scale spill
    // to executor disk, the only full-corpus materialization in the
    // dedup family. Regenerating grams instead costs one extra
    // split+md5 pass over a two-column parquet projection
    // (CPU-parallel, ~0.6 s of task time at sf0.1). Zero measured
    // cost today, unbounded storage saved at scale. See SCALING.md
    // (r11).
    // the full-corpus read IS the incremental read against your own
    // state (self-state identity, Round13PropertySpec)
    duplicateSpansAgainst(df, spanGramState(df, idCol, textCol, l),
      idCol, textCol, minFreq)
  }

  /** Anchor → maximal-span merge shared by [[duplicateSpans]] and the
    * incremental [[duplicateSpansAgainst]]: join the positioned grams
    * to the over-the-bar hash set, then gaps-and-islands per document
    * (equal-length intervals make `pos > lag(pos) + l` the exact merge
    * rule). */
  private def mergeAnchorsToSpans(grams: DataFrame, dupGrams: DataFrame,
      idCol: String, l: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    grams.join(dupGrams, "__h")
      .withColumn("__prev", lag(col("__pos"), 1).over(w))
      .withColumn("__new",
        when(col("__prev").isNull || col("__pos") > col("__prev") + l, 1L)
          .otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("__pos")).as("span_start"),
        (max(col("__pos")) + l).as("span_end"))
      .select(col(idCol), col("span_start").cast("long"),
        col("span_end").cast("long"),
        (col("span_end") - col("span_start")).cast("long")
          .as("n_anchor_tokens"))
  }

  /** MERGEABLE GRAM-FREQUENCY STATE for the exact-substring family
    * (r12 verdict #8 — the streaming-era sibling of [[PrefixIndex]]):
    * the (L-gram hash, occurrence count) table [[duplicateSpans]]
    * thresholds against, as a persistable artifact. A per-batch
    * pipeline builds one per batch, folds it into the accumulated
    * state with [[mergeSpanGramState]] (one hash aggregation — counts
    * are sums, the only state the operator ever needed), and runs
    * [[duplicateSpansAgainst]]/[[duplicateCoverageAgainst]] on JUST
    * the batch instead of recomputing the full-corpus bar every time.
    *
    * Counts BELOW the bar must be kept (1 + 1 = 2 across batches is
    * the point), so the state is corpus-distinct-L-gram-sized — the
    * same scale as any inverted index over the corpus; at 100 TB it is
    * a bucketed parquet table keyed on `__h` and the merge is a
    * co-partitioned sum. Inherits [[duplicateSpans]]'
    * DETERMINISTIC-INPUT requirement.
    *
    * The state carries its anchor length `l` (r13 ADVICE — the
    * [[PrefixIndex]] pattern): hashes built at different L never
    * match, so merging states built at different anchor lengths, or
    * reading a state with another L's batch, would silently undercount
    * coverage instead of failing. [[mergeSpanGramState]] and the
    * `*Against` readers take `l` FROM the state and reject mismatches
    * loudly.
    *
    * On disk the state is one [[graft.io.TableLog]] artifact: a `state`
    * table of (hash, count) rows — partial counts while deltas pile up
    * — and a log entry carrying `l` ([[writeSpanGramState]],
    * [[appendSpanGramState]], [[readSpanGramState]]).
    *
    * @param df (__h md5-60 L-gram hash, __n occurrences)
    * @param l  the anchor length every hash in `df` was built at */
  case class SpanGramState(df: DataFrame, l: Int) {
    // guards EVERY construction path — including a reload whose log
    // entry was corrupted or hand-written (r14 review: the readers used
    // to skip the l >= 2 validation the old call sites enforced)
    require(l >= 2, s"anchor length must be >= 2 tokens, got $l")
  }

  def spanGramState(df: DataFrame, idCol: String, textCol: String,
      l: Int): SpanGramState = {
    SpanGramState(
      duplicateGramStream(df, idCol, textCol, l)
        .groupBy(col("__h"))
        .agg(count(lit(1)).as("__n")),
      l)
  }

  /** Sum-merge two [[spanGramState]] frames (associative and
    * commutative — fold batches in any order). Both states must carry
    * the same anchor length: cross-L hashes never match, so a silent
    * cross-L merge would just undercount everything. */
  def mergeSpanGramState(a: SpanGramState, b: SpanGramState): SpanGramState = {
    require(a.l == b.l,
      s"cannot merge span-gram states built at different anchor " +
        s"lengths (${a.l} vs ${b.l}) — their hashes never match")
    SpanGramState(
      a.df.unionByName(b.df).groupBy(col("__h"))
        .agg(sum(col("__n")).as("__n")),
      a.l)
  }

  /** Write a [[SpanGramState]] to `dir` as one [[graft.io.TableLog]]
    * commit that replaces its `state` table and records `l` in the log
    * entry. The old files are deleted only after the entry is
    * published, so the per-batch read → [[mergeSpanGramState]] →
    * write-back cycle can target the SAME directory: the merged frame
    * reads the old state lazily while the new one is written. At
    * 100 TB the state table is bucketed by `__h` so the sum-merge is
    * co-partitioned. */
  def writeSpanGramState(state: SpanGramState, dir: String): Unit =
    TableLog.commit(state.df.sparkSession, dir, Map("l" -> state.l.toString),
      TableLog.replace("state", state.df))

  /** Fold ONE batch's [[spanGramState]] into the persisted state at
    * `dir` with an APPEND-DELTA publish: one [[graft.io.TableLog]]
    * commit adds only the batch's (hash, count-DELTA) rows to `state`,
    * where the read → [[mergeSpanGramState]] → [[writeSpanGramState]]
    * cycle re-shuffled and re-wrote the whole accumulated table every
    * micro-batch. Counts are sums, so [[readSpanGramState]]'s
    * aggregate-on-read recovers exactly the merged bar (the delta rows
    * ARE partial sums). A first call (no state yet) simply starts the
    * log. Cross-L appends fail loudly, the [[mergeSpanGramState]]
    * contract.
    *
    * Directory contents after the call are VALUE-identical to
    * `writeSpanGramState(mergeSpanGramState(read, batch))` — the
    * delta layout differs, the aggregated read does not
    * (Round15PerfSpec pins the read-side bar and the coverage output
    * against the rewrite path). Delta growth is BOUNDED: once the
    * latest log entry lists more than `compactAt` state files the
    * append becomes a compacting replace (the summed bar, via
    * [[writeSpanGramState]] — one O(corpus) write every Ω(compactAt)
    * ticks amortizes to O(corpus / compactAt) per tick), so the
    * small-file count never exceeds compactAt + files-per-batch. */
  def appendSpanGramState(batch: SpanGramState, dir: String,
      compactAt: Int = 64): Unit = {
    require(compactAt >= 1, s"compactAt must be >= 1, got $compactAt")
    val spark = batch.df.sparkSession
    val prev = TableLog.latest(spark, dir)
    prev.foreach { e =>
      val prevL = e.params("l").toInt
      require(prevL == batch.l,
        s"cannot append a span-gram state built at anchor length " +
          s"${batch.l} onto a state built at $prevL — their hashes " +
          "never match")
    }
    if (prev.exists(_.tables("state").files.size > compactAt))
      writeSpanGramState(
        mergeSpanGramState(spanGramStateOf(spark, dir, prev.get), batch), dir)
    else
      TableLog.commit(spark, dir, Map("l" -> batch.l.toString),
        TableLog.append("state", batch.df))
  }

  /** Reload the latest version of a [[writeSpanGramState]] /
    * [[appendSpanGramState]] directory; `l` comes from the log entry,
    * so a reloaded state can never be read at another L, and building
    * the frame runs no Spark job. The state table is AGGREGATED on read
    * (sum per hash): an append-delta directory holds partial counts
    * that must be summed before the `__n >= minFreq` bar is applied,
    * and for a single-version directory the sum of one row per key is
    * the identity — one reader serves both layouts, value-identically
    * (partial map-side aggregation keeps the extra pass cheap; the
    * rewrite path this replaces paid the same shuffle on the WRITE
    * side, every tick, plus the full-table write). */
  def readSpanGramState(spark: org.apache.spark.sql.SparkSession,
      dir: String): SpanGramState =
    spanGramStateOf(spark, dir, logEntry(spark, dir))

  private def spanGramStateOf(spark: org.apache.spark.sql.SparkSession,
      dir: String, e: TableLog.Entry): SpanGramState =
    SpanGramState(
      TableLog.read(spark, dir, e, "state")
        .groupBy(col("__h")).agg(sum(col("__n")).as("__n")),
      e.params("l").toInt)

  /** [[duplicateSpans]] for ONE batch against an ACCUMULATED
    * [[spanGramState]]: anchors come from `df` only, the frequency bar
    * from the state; the anchor length is the STATE's `l` (a caller-
    * supplied L could silently disagree with the hashes — r13 ADVICE).
    * When the state covers batches 0..k (including `df` itself), the
    * output equals the full-corpus [[duplicateSpans]] over those
    * batches restricted to `df`'s documents — replay-from-scratch
    * differential in Round13PropertySpec. */
  def duplicateSpansAgainst(df: DataFrame, state: SpanGramState,
      idCol: String, textCol: String,
      minFreq: Long = 2L): DataFrame = {
    require(minFreq >= 2, s"minFreq must be >= 2, got $minFreq")
    val grams = duplicateGramStream(df, idCol, textCol, state.l)
    val dupGrams = state.df.filter(col("__n") >= minFreq)
      .select(col("__h"))
    mergeAnchorsToSpans(grams, dupGrams, idCol, state.l)
  }

  /** [[duplicateCoverage]] for ONE batch against an ACCUMULATED
    * [[spanGramState]] — the incremental curation read: what fraction
    * of each NEW document is text the accumulated corpus has already
    * seen enough times. Same output contract as [[duplicateCoverage]]
    * (every batch doc appears, zero-coverage included). */
  def duplicateCoverageAgainst(df: DataFrame, state: SpanGramState,
      idCol: String, textCol: String,
      minFreq: Long = 2L): DataFrame = {
    val perDoc = duplicateSpansAgainst(df, state, idCol, textCol,
        minFreq)
      .groupBy(col(idCol))
      .agg(sum(col("n_anchor_tokens")).as("dup_tokens"))
    df.select(col(idCol),
        TextAnalysis.tokenCount(col(textCol)).cast("long")
          .as("n_tokens"))
      .join(perDoc, Seq(idCol), "left")
      .na.fill(0L, Seq("dup_tokens"))
      .select(col(idCol), col("n_tokens"), col("dup_tokens"),
        expr("(1000 * dup_tokens) div greatest(n_tokens, 1)")
          .as("dup_fraction_pm"))
  }

  /** The (id, pos, md5-60 L-gram hash) stream [[duplicateSpans]] and
    * [[duplicateCoverage]] fold over — deliberately UN-materialized
    * (see the recompute-vs-checkpoint note in [[duplicateSpans]]).
    * The positioned anchors come from the native
    * [[graft.functions.GramHash60Expr]] one-pass expression
    * (digest-bytes → long, no per-gram hex/substring/conv tree) —
    * bit-identical to the composed HOF form, parity-pinned in
    * CorpusOpsSpec, which matters doubly since the recompute decision
    * runs this projection twice. */
  private def duplicateGramStream(df: DataFrame, idCol: String,
      textCol: String, l: Int): DataFrame = {
    val toks = split(trim(col(textCol)), "\\s+")
    df.select(col(idCol), toks.as("__w"))
      .filter(size(col("__w")) >= l)
      .select(col(idCol),
        explode(graft.functions.HashSketches.gramHash60(col("__w"), l))
          .as("__g"))
      .select(col(idCol), col("__g.pos").as("__pos"),
        col("__g.h").as("__h"))
  }

  /** Per-document DUPLICATE-TOKEN COVERAGE — the number SlimPajama-
    * style curation actually thresholds on: the fraction of a
    * document's tokens inside [[duplicateSpans]]' merged duplicate
    * regions, in integer per-mille. Merged spans are disjoint and
    * non-adjacent by construction (the gaps-and-islands merge), so
    * summing span lengths counts each covered token exactly once.
    *
    * Every document appears (zero-coverage docs included — the
    * threshold reads "keep docs under X‰", so absences would silently
    * pass). Token count is the [[TextAnalysis.tokenCount]] whitespace
    * convention — the same tokenization the spans are indexed in, so
    * the fraction's numerator and denominator agree.
    *
    * Scale shape: [[duplicateSpans]]' shape plus one per-doc hash agg
    * of span lengths and one join against the corpus id/token-count
    * projection. All arithmetic integer (1000·dup div n_tokens).
    * Inherits [[duplicateSpans]]' DETERMINISTIC-INPUT requirement (and
    * reads `df` once more itself for the token counts — a third pass a
    * non-deterministic frame would also skew).
    *
    * @return (idCol, n_tokens, dup_tokens, dup_fraction_pm) */
  def duplicateCoverage(df: DataFrame, idCol: String, textCol: String,
      l: Int, minFreq: Long = 2L): DataFrame =
    // the full-corpus read IS the incremental read against your own
    // state (Round13PropertySpec pins the identity) — one
    // implementation, so the coverage arithmetic can never diverge
    // between the batch and full-corpus operators
    duplicateCoverageAgainst(df, spanGramState(df, idCol, textCol, l),
      idCol, textCol, minFreq)

  /** The two frames [[dedupByCoverage]] returns: `survivors` keeps the
    * input's FULL schema (it is the corpus the pipeline trains on);
    * `dropped` is the audit manifest — [[duplicateCoverage]]'s row for
    * every document the threshold removed. */
  case class CoverageDedupResult(survivors: DataFrame, dropped: DataFrame)

  /** APPLY the SlimPajama-style duplicate-coverage threshold — the
    * curation step [[duplicateCoverage]] computes the number for:
    * keep documents whose duplicate-token fraction is ≤ `maxPm`
    * per-mille, and emit the rest as a drop manifest (curation
    * pipelines persist WHY a document left the corpus — the manifest
    * is the audit artifact, not a byproduct).
    *
    * Scale shape: [[duplicateCoverage]]'s shape (whose doc-count-sized
    * output is materialized once here — 4 BIGINTs per document — and
    * feeds both verdict sides), then one left-semi join to carve the
    * survivors out of the input with its full schema intact. Inherits
    * the DETERMINISTIC-INPUT requirement of [[duplicateSpans]].
    *
    * @param maxPm keep docs with dup_fraction_pm <= maxPm (SlimPajama
    *              keeps low-coverage docs; 1000 keeps everything)
    * @return survivors (input schema) + dropped (coverage manifest) */
  def dedupByCoverage(df: DataFrame, idCol: String, textCol: String,
      l: Int, maxPm: Long, minFreq: Long = 2L): CoverageDedupResult = {
    require(maxPm >= 0 && maxPm <= 1000,
      s"maxPm is per-mille, must be in [0, 1000], got $maxPm")
    val cov = duplicateCoverage(df, idCol, textCol, l, minFreq)
      .materialized // read twice: keep-side semi join + drop manifest
    val keepIds = cov.filter(col("dup_fraction_pm") <= maxPm)
      .select(col(idCol))
    CoverageDedupResult(
      survivors = df.join(keepIds, Seq(idCol), "left_semi"),
      dropped = cov.filter(col("dup_fraction_pm") > maxPm))
  }
}
