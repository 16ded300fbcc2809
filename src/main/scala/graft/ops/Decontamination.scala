package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Materialize.MaterializeOps

/** Benchmark decontamination: drop (or flag) training documents that
  * share any word n-gram with an evaluation/benchmark set — the
  * standard pre-training hygiene step (GPT-3 appendix C uses 13-gram
  * overlap; Dolma and FineWeb ship the same operator). A training
  * corpus that contains eval text inflates benchmark scores, so this
  * runs on every corpus refresh.
  *
  * Shape at 100 TB:
  *   - benchmark n-grams are hashed ([[Dedup.md5Hash60]] — 8-byte join
  *     keys instead of ~100-byte strings) and de-duplicated BEFORE the
  *     join, so the shuffle carries the benchmark's distinct-gram set
  *     once, not per occurrence;
  *   - the corpus side explodes to (doc, gram-hash) and inner-joins the
  *     benchmark gram set. Benchmark suites are MBs against a TB-scale
  *     corpus, so AQE broadcasts the gram set and the corpus side never
  *     shuffles — the operator rides the existing corpus scan. No hint
  *     is forced: a pathological benchmark set degrades to a shuffle
  *     join instead of an executor OOM;
  *   - per-doc hit counts (not just a flag) come from one map-side
  *     combined aggregation — they are the audit trail a curation run
  *     publishes next to the drop decision.
  *
  * Grams use the md5-60 construction shared with q23/q51/q64, so an
  * external engine restates the exact same decision from first
  * principles (q66's DuckDB twin joins on the gram STRINGS — equal
  * output proves the hashed path loses nothing).
  */
object Decontamination {

  /** Distinct word n-gram hashes from a BOUND words-array column.
    * `words` must be a plain attribute (select the split into a column
    * first): a slice over a raw `split(...)` expression inside the
    * transform lambda re-splits the text per gram — O(words²) per doc
    * (the `wordNGramsFromWords` rule). */
  def gramHashesFromWords(words: Column, n: Int): Column =
    when(size(words) >= n,
      array_distinct(transform(sequence(lit(1), size(words) - (n - 1)),
        i => Dedup.md5Hash60(concat_ws(" ", slice(words, i, lit(n)))))))
      .otherwise(array().cast("array<bigint>"))

  /** (id, grams) with the split bound to a column before gram assembly. */
  private def docGrams(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    df.select(col(idCol), split(trim(col(textCol)), "\\s+").as("__w"))
      .select(col(idCol), gramHashesFromWords(col("__w"), n).as("__gs"))

  private def benchGramSet(bench: DataFrame, benchTextCol: String,
      n: Int): DataFrame =
    bench.select(split(trim(col(benchTextCol)), "\\s+").as("__w"))
      .select(explode(gramHashesFromWords(col("__w"), n)).as("__g"))
      .distinct()

  /** (id, n_hits) for every corpus document sharing ≥1 n-gram with the
    * benchmark text; `n_hits` counts the distinct shared grams. */
  def contaminationHits(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, benchTextCol: String, n: Int): DataFrame =
    docGrams(docs, idCol, textCol, n)
      .select(col(idCol), explode(col("__gs")).as("__g"))
      .join(benchGramSet(bench, benchTextCol, n), "__g")
      // gram sets are distinct per doc, so plain count == distinct hits
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))

  /** Bloom-prefiltered contamination hits — IDENTICAL output to
    * [[contaminationHits]], for the regime where the benchmark gram set
    * outgrows a cheap broadcast hash join (a full eval-suite union at
    * 13-grams reaches 10⁸–10⁹ distinct grams ≈ tens of GB as a hash
    * relation) but still fits a Bloom sketch (~1.2 GB at 10⁹ items /
    * 1% fpp — broadcastable). The corpus side drops non-member grams
    * MAP-SIDE against the broadcast sketch, so the join input shrinks
    * from every corpus gram occurrence to true hits + fpp·|grams|;
    * false positives survive only to the exact join, which removes
    * them — the sketch is candidate pruning, the join stays
    * authoritative (q94 shares q66's oracle: equal output proves it).
    *
    * The membership probe is a Scala UDF by necessity — Spark's
    * `BloomFilterMightContain` expression is internal to the runtime
    * row-level-filtering rule, not public API; the UDF costs one boxed
    * long per gram on a path that exists to avoid shuffling terabytes.
    * Eager (one count + one bloom build on the benchmark side at call
    * time).
    */
  def contaminationHitsBloom(docs: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, benchTextCol: String, n: Int,
      fpp: Double = 0.01): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val benchGrams = benchGramSet(bench, benchTextCol, n)
      .materialized // feeds the count, the bloom build, AND the join
    val nGrams = math.max(benchGrams.count(), 1L)
    val bloom = benchGrams.stat.bloomFilter("__g", nGrams, fpp)
    val bc = docs.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf((g: Long) => bc.value.mightContainLong(g))
    docGrams(docs, idCol, textCol, n)
      .select(col(idCol), explode(col("__gs")).as("__g"))
      .filter(mightContain(col("__g")))
      .join(benchGrams, "__g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** SPAN-LEVEL decontamination — the Dolma-style paragraph-removal
    * variant of [[decontaminate]]: instead of dropping a whole document
    * that shares a benchmark n-gram, drop only the LINES containing a
    * shared gram and keep the rest of the document (a long page with
    * one quoted eval question keeps its other 99 paragraphs). Grams
    * are computed PER LINE, so matches never straddle a line boundary
    * — the paragraph-granular matching Dolma's decontamination tagger
    * uses; lines shorter than `n` words carry no grams and always
    * survive. A doc whose every line is contaminated collapses to
    * empty rather than disappearing (the [[TextAnalysis
    * .stripBoilerplateLines]] convention, same rebuild shape).
    *
    * Scale: the line explode rides the corpus scan; gram keys are
    * md5-60 (8-byte); the benchmark gram set is distinct-deduped before
    * the join and AQE-broadcastable (the [[contaminationHits]] shape) —
    * swap in the Bloom prefilter for sketch-scale benchmark sets.
    *
    * @return (idCol, clean_text, n_lines_kept, n_lines_excised) */
  def exciseContaminatedLines(docs: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, benchTextCol: String,
      n: Int = 13): DataFrame = {
    val benchGrams = benchGramSet(bench, benchTextCol, n)
    // null text behaves like empty text (one empty line) instead of
    // vanishing from posexplode and leaving a null excision count
    val text = coalesce(col(textCol), lit(""))
    // feeds the contamination probe AND the rebuild — materialize once
    val lines = docs.select(col(idCol),
        posexplode(split(text, "\n")).as(Seq("__pos", "__line")))
      .materialized
    val bad = lines
      .select(col(idCol), col("__pos"),
        split(trim(col("__line")), "\\s+").as("__lw"))
      .select(col(idCol), col("__pos"),
        explode(gramHashesFromWords(col("__lw"), n)).as("__g"))
      .join(benchGrams, "__g")
      .select(col(idCol), col("__pos")).distinct()
    val kept = lines.join(bad, Seq(idCol, "__pos"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("__pos"), col("__line")))),
            x => x.getField("__line")),
          "\n").as("clean_text"),
        count(lit(1)).as("n_lines_kept"))
    docs.select(col(idCol), size(split(text, "\n")).as("__total"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_lines_kept"), lit(0L)).as("n_lines_kept"),
        (col("__total") - coalesce(col("n_lines_kept"), lit(0L)))
          .as("n_lines_excised"))
  }

  /** Every corpus row + (n_hits, contaminated) — the audit view. */
  def flagContaminated(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, benchTextCol: String, n: Int = 13): DataFrame =
    docs.join(
        contaminationHits(docs, bench, idCol, textCol, benchTextCol, n),
        Seq(idCol), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("contaminated", col("n_hits") > 0)

  /** The filtered corpus: documents with zero benchmark overlap. */
  def decontaminate(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, benchTextCol: String, n: Int = 13): DataFrame =
    docs.join(
      contaminationHits(docs, bench, idCol, textCol, benchTextCol, n),
      Seq(idCol), "left_anti")

  /** MEMORIZATION / NOVELTY SCAN — [[contaminationHits]] run in the
    * OTHER direction: instead of protecting evals from the training
    * corpus, protect generated output from the training corpus. For
    * each candidate document (model samples, synthetic-data drafts),
    * count how many of its distinct word n-grams already occur in the
    * reference corpus and publish the novelty rate in exact integer
    * ppm — the standard regurgitation check (Carlini et al. 2021's
    * verbatim-extraction test is this operator at n≈50; data-synthesis
    * pipelines gate on it before admitting generated text back into
    * training).
    *
    * Scale shape: identical to [[contaminationHits]] with the roles
    * swapped — and the roles MATTER: the distinct-gram set built here
    * is the CANDIDATE side (generation batches are GB against a TB
    * corpus is the wrong way round — so this builds the gram set from
    * the candidates and streams the CORPUS through the join, keeping
    * the big side shuffle-free under AQE broadcast). Per-gram seen/not
    * is a corpus-side aggregation to distinct candidate grams, then
    * one candidate-sized rollup.
    *
    * @param noveltyFloorPpm verdict threshold: candidates whose novel
    *        fraction is BELOW this are flagged `memorized`
    * @return (idCol, n_grams distinct, n_seen, novel_ppm —
    *         null when the candidate is shorter than n words —
    *         memorized) */
  def noveltyScan(candidates: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, corpusTextCol: String, n: Int,
      noveltyFloorPpm: Long): DataFrame = {
    val grams = docGrams(candidates, idCol, textCol, n)
      .select(col(idCol), col("__gs"), size(col("__gs")).as("n_grams"))
      .materialized // feeds the gram-set build AND the per-doc rollup
    val candGramSet = grams.select(explode(col("__gs")).as("__g")).distinct()
    // corpus streams through ONE membership semi-join against the
    // candidate gram set (broadcastable), then collapses to the seen set
    val seenGrams = corpus
      .select(split(trim(col(corpusTextCol)), "\\s+").as("__w"))
      .select(explode(gramHashesFromWords(col("__w"), n)).as("__g"))
      .join(candGramSet, "__g", "left_semi").distinct()
    val seen = grams.select(col(idCol), explode(col("__gs")).as("__g"))
      .join(seenGrams, "__g")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_seen"))
    grams.select(col(idCol), col("n_grams"))
      .join(seen, Seq(idCol), "left")
      .withColumn("n_seen", coalesce(col("n_seen"), lit(0L)))
      .withColumn("novel_ppm", when(col("n_grams") === 0, lit(null))
        .otherwise(expr("((n_grams - n_seen) * 1000000) div n_grams")))
      .withColumn("memorized", col("novel_ppm") < lit(noveltyFloorPpm))
  }

  /** SEMANTIC decontamination — the embedding-space complement of the
    * n-gram gates above (the frontier-lab eval-hygiene practice: a
    * paraphrased benchmark question shares no 13-gram with its source
    * but sits next to it in embedding space): every training vector's
    * single nearest EVAL vector via the cross-frame blocked kernel,
    * flagged when the cosine reaches `tauPermille/1000`. Exact (no
    * ANN) by the same argument as q24/q25 — the blocked kernel is the
    * exact search — so the contamination decision carries no recall
    * caveat; compose [[graft.ops.Similarity.annTopKMatryoshka]]
    * upstream only if the eval set is itself corpus-sized (it never
    * is).
    *
    * Scale shape: the eval frame is benchmark-sized, so the block
    * cross join is (corpus blocks × eval blocks) with eval blocks
    * few — one pass over the corpus vectors, shuffle bounded by
    * corpus × k rows.
    *
    * @return (idCol, nearest_eval_id, cosine, contaminated) */
  def semanticContamination(train: DataFrame, idCol: String,
      vecCol: String, eval: DataFrame, evalIdCol: String,
      evalVecCol: String, tauPermille: Int): DataFrame = {
    require(tauPermille >= 0 && tauPermille <= 1000,
      s"tauPermille must be in [0,1000], got $tauPermille")
    Similarity.crossCosineTopK(train, idCol, vecCol,
        eval, evalIdCol, evalVecCol, k = 1)
      .select(col("id").as(idCol),
        col("neighbor_id").as("nearest_eval_id"), col("cosine"),
        (col("cosine") >= lit(tauPermille / 1000.0)).as("contaminated"))
  }
}
