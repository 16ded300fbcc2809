package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Materialize.MaterializeOps

// Top-level encoder row shapes — see the note in Multimodal.scala:
// Janino can't resolve object-nested classes from generated serializer
// code, which knocks the projection back to interpreter mode.
private[graft] case class EncodedDoc(id: Long, token_ids: Seq[Long],
    n_tokens: Long, n_oov: Long)
private[graft] case class DeflateRow(id: Long, n_bytes: Long,
    n_deflate: Long, deflate_ratio: Double)
private[graft] case class LineDedupRow(id: Long, clean_text: String,
    n_lines: Long, n_removed: Long)
private[graft] case class DecodedDoc(id: Long, decoded_text: String)
private[graft] case class WordPieceRow(word: String, pieces: Seq[String],
    n_pieces: Long, is_unk: Boolean, fail_pos: Option[Long])
private[graft] case class UnigramRow(word: String, pieces: Seq[String],
    n_pieces: Long, viterbi_q: Option[Long], is_unk: Boolean)

/** Text-analysis operators for corpus curation (builder brief): language
  * ID, quality scoring, token counting, document fingerprinting. All
  * pure Column expressions (codegen'd, no UDFs); arithmetic is plain
  * IEEE so any engine replaying the formula gets identical bits.
  */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** BPE-ish subword-budget estimate: word / non-space-punct runs
    * (`\w+|[^\w\s]`) — the standard cheap proxy for tokenizer load. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\w+|[^\\w\\s]"), lit(0)))

  /** Tokenizer VOCABULARY construction: the (token → contiguous id)
    * table a training pipeline freezes before tokenization — tokens
    * seen in at least `minDf` documents, ranked by corpus frequency
    * (count desc, token asc — the deterministic tie-break), truncated
    * to `maxVocab`, ids assigned 0..V-1 in rank order.
    *
    * Scale shape: one explode + one map-side-combined hash agg over the
    * corpus produces the (token, tf, df) stats; the rank is
    * [[Packing.globalRowNumber]]'s two-pass distributed scan (range
    * partition on (tf desc, token asc) — a total order, token is
    * unique — per-partition counts → driver offsets → local rank), NOT
    * an unpartitioned window: at default minDf the frame is ALL
    * distinct corpus tokens (10⁸–10⁹ on a web corpus — typos, URLs,
    * numbers), which must never funnel through one task. `maxVocab`
    * rides into the scan as its `limit`, so tail partitions past the
    * cutoff are skipped wholesale, not ranked then filtered.
    *
    * @return (token, tf, df, vocab_id), vocab_id dense from 0.
    */
  def buildVocab(df: DataFrame, idCol: String, textCol: String,
      minDf: Long = 1L, maxVocab: Int = Int.MaxValue): DataFrame = {
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    require(maxVocab >= 1, s"maxVocab must be >= 1, got $maxVocab")
    val toks = df.select(col(idCol),
      explode(split(trim(col(textCol)), "\\s+")).as("token"))
    val stats = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("tf"),
        countDistinct(col(idCol)).as("df"))
      .filter(col("df") >= minDf)
    Packing.globalRowNumber(stats,
      Seq(col("tf").desc, col("token").asc), "vocab_id",
      limit = maxVocab.toLong)
  }

  /** INCREMENTAL vocabulary update — the frozen-id merge a deployed
    * tokenizer pipeline runs per ingest batch (the [[graft.ops.Dedup
    * .corpusDiff]] family's tokenizer sibling): existing tokens KEEP
    * their ids forever (downstream shards already encode with them)
    * and only their counts advance; batch tokens absent from the vocab
    * qualify on BATCH document frequency (the old sub-threshold counts
    * are gone by construction — the pipeline persists the vocab, not
    * raw corpus stats) and receive fresh ids continuing after the
    * current max, ranked (tf desc, token) among themselves.
    *
    * Scale shape: one map-side-combined batch count, a full-outer-
    * shaped pair of joins against the model-sized vocab (AQE
    * broadcasts it), the new-entrant rank through [[Packing
    * .globalRowNumber]]'s two-pass scan (never an unpartitioned
    * window), and a 1-value max-id collect.
    *
    * @return (token, tf, df, vocab_id) — the same schema
    *         [[buildVocab]] emits
    */
  def updateVocab(oldVocab: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, minDf: Long = 1L): DataFrame = {
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    val bStats = batch
      .select(col(idCol),
        explode(split(trim(col(textCol)), "\\s+")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("__btf"), countDistinct(col(idCol)).as("__bdf"))
      .materialized // feeds the count-advance join AND the entrant scan
    val old = oldVocab.select(col("token"), col("tf"), col("df"),
      col("vocab_id"))
    val updated = old.join(bStats, Seq("token"), "left")
      .select(col("token"),
        (col("tf") + coalesce(col("__btf"), lit(0L))).as("tf"),
        (col("df") + coalesce(col("__bdf"), lit(0L))).as("df"),
        col("vocab_id"))
    val entrants = bStats.join(old.select(col("token")), Seq("token"),
        "left_anti")
      .filter(col("__bdf") >= minDf)
      .select(col("token"), col("__btf").as("tf"), col("__bdf").as("df"))
    val offset = old.agg(coalesce(max(col("vocab_id")), lit(-1L)))
      .collect()(0).getLong(0) + 1L
    val ranked = Packing.globalRowNumber(entrants,
        Seq(col("tf").desc, col("token").asc), "__r")
      .select(col("token"), col("tf"), col("df"),
        (col("__r") + lit(offset)).as("vocab_id"))
    updated.unionByName(ranked)
  }

  /** Tokenizer APPLICATION — the consumer of [[buildVocab]], closing the
    * vocab-build → tokenize loop a training pipeline runs: whitespace
    * tokens map to their frozen vocab ids, out-of-vocabulary tokens to
    * `oovId` (the sentinel convention; remap downstream if the trainer
    * wants an explicit UNK row).
    *
    * Scale shape: the vocabulary is a MODEL-SIZED artifact (bounded by
    * buildVocab's maxVocab), so it rides to every task as ONE broadcast
    * hash map — the same deliberate bounded-collect pattern as the IVF
    * centroids — and encoding is a pure map over the corpus scan: no
    * shuffle, no explode, O(1) lookup per token. The declarative
    * alternative (explode + broadcast join + re-aggregate by position)
    * shuffles the entire token stream just to rebuild row order; a
    * Column `element_at` over a map literal is O(|vocab|) PER TOKEN
    * (Catalyst map data is array-backed). mapPartitions is the honest
    * shape here.
    *
    * @param vocab (token, vocab_id) frame, e.g. [[buildVocab]] output
    * @return (idCol, token_ids array<long>, n_tokens, n_oov)
    */
  def encodeTokens(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, oovId: Long = -1L): DataFrame = {
    val spark = df.sparkSession
    val dict: Map[String, Long] = vocab
      .select(col("token").cast("string"), col("vocab_id").cast("long"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val bc = spark.sparkContext.broadcast(dict)
    val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.STRING)
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)](enc)
      .mapPartitions { it =>
        val d = bc.value
        it.map { case (id, text) =>
          // null text encodes like empty text (no tokens) instead of
          // NPE-ing the scan; trim+split(-1) matches the Column form
          // split(trim(text), "\s+")
          val toks =
            if (text == null) Array.empty[String]
            else text.trim.split("\\s+", -1)
          val ids = toks.map(t => d.getOrElse(t, oovId)).toSeq
          EncodedDoc(id, ids, toks.length.toLong,
            ids.count(_ == oovId).toLong)
        }
      }(org.apache.spark.sql.Encoders.product[EncodedDoc])
      .toDF(idCol, "token_ids", "n_tokens", "n_oov")
  }

  /** Inverse of [[encodeTokens]] — ids back to whitespace-joined
    * tokens, `oovId` rendering as `unkToken`: the debugging/inspection
    * half of the tokenize loop (sample decoded rows next to a quality
    * verdict, eyeball a filter's survivors). Same scale shape as the
    * encoder: the reverse vocabulary is one model-sized broadcast and
    * decoding is a pure map over the scan — no shuffle. Lossy exactly
    * where encoding was (OOV tokens), which q139's roundtrip oracle
    * pins: decode(encode(text)) equals text with every OOV token
    * replaced by `unkToken`.
    *
    * @param idsCol array<long> column of vocab ids (e.g. `token_ids`)
    * @return (idCol, decoded_text) */
  def decodeTokens(df: DataFrame, idCol: String, idsCol: String,
      vocab: DataFrame, oovId: Long = -1L,
      unkToken: String = "<unk>"): DataFrame = {
    val spark = df.sparkSession
    val rev: Map[Long, String] = vocab
      .select(col("vocab_id").cast("long"), col("token").cast("string"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val bc = spark.sparkContext.broadcast((rev, unkToken))
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(idsCol).cast("array<long>"))
      .as[(Long, Seq[Long])]
      .mapPartitions { it =>
        val (d, unk) = bc.value
        it.map { case (id, ids) =>
          val toks =
            if (ids == null) Array.empty[String]
            else ids.iterator.map(d.getOrElse(_, unk)).toArray
          DecodedDoc(id, toks.mkString(" "))
        }
      }(org.apache.spark.sql.Encoders.product[DecodedDoc])
      .toDF(idCol, "decoded_text")
  }

  /** WordPiece-style subword VOCABULARY induction — the third
    * tokenizer family next to the whitespace vocab ([[buildVocab]])
    * and BPE ([[learnBpeMerges]]): candidate pieces are every
    * substring (length ≤ `maxPieceLen`) of every distinct corpus
    * word, word-internal pieces carrying the `##` continuation prefix
    * (the BERT convention); pieces score by corpus-frequency-weighted
    * count and the top `maxVocab` win (count desc, piece asc — a
    * total order, so the vocabulary is engine-exact, q151). The
    * frequency-weighted-substring objective is the standard
    * likelihood-free approximation of WordPiece's corpus-likelihood
    * greedy (learning real WordPiece needs an LM loop; selection by
    * weighted frequency is the deterministic, restatable form).
    *
    * Scale shape: the substring explosion runs over the DISTINCT-word
    * frequency table (vocabulary-sized, not corpus-sized — the
    * learnBpeMerges rule), ×O(|word|·maxPieceLen) rows into one
    * map-side-combined count; the rank is [[Packing.globalRowNumber]]'s
    * two-pass scan with `maxVocab` as the limit (no unpartitioned
    * window).
    *
    * @return (piece, cnt, piece_id) — piece_id dense from 0 in rank
    *         order */
  def learnWordPieceVocab(df: DataFrame, textCol: String,
      maxPieceLen: Int = 6, maxVocab: Int = 1000): DataFrame = {
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    require(maxVocab >= 1, s"maxVocab must be >= 1, got $maxVocab")
    val words = df
      .select(explode(split(trim(coalesce(col(textCol), lit(""))),
        "\\s+")).as("__w"))
      .filter(length(col("__w")) > 0)
      .groupBy(col("__w")).agg(count(lit(1)).as("__f"))
    val w = col("__w")
    val pieces = words.select(w, col("__f"), explode(flatten(
        transform(sequence(lit(1), length(w)), i =>
          transform(sequence(lit(1),
              least(lit(maxPieceLen), length(w) - i + 1)), l =>
            when(i === 1, w.substr(i, l))
              .otherwise(concat(lit("##"), w.substr(i, l)))))))
        .as("piece"))
    val counts = pieces.groupBy(col("piece"))
      .agg(sum(col("__f")).as("cnt"))
    Packing.globalRowNumber(counts,
      Seq(col("cnt").desc, col("piece").asc), "piece_id",
      limit = maxVocab)
  }

  /** Greedy longest-match WordPiece SEGMENTATION (BERT's inference
    * rule): at each position take the longest vocabulary piece
    * matching (word-initial pieces raw, later positions via their
    * `##` form); a position with no match makes the word
    * unsegmentable — `is_unk` with the partial pieces and the 1-based
    * `fail_pos` kept, exactly the evidence q152's DuckDB twin needs to
    * replay the walk step by step. Greedy = argmax over match length,
    * so the walk is deterministic and first-principles restatable (no
    * RNG, no float).
    *
    * Scale shape: the vocabulary is a bounded model artifact
    * (`maxVocab` pieces) collected once and broadcast as a Set — the
    * [[encodeTokens]] pattern; segmentation is a pure `mapPartitions`
    * map over the word frame (callers pass distinct words and join
    * back, or full token streams). No shuffle.
    *
    * @param vocab (piece, …) as produced by [[learnWordPieceVocab]]
    * @return (wordCol, pieces, n_pieces, is_unk, fail_pos) */
  def wordPieceSegment(df: DataFrame, wordCol: String,
      vocab: DataFrame): DataFrame = {
    val spark = df.sparkSession
    // bounded: maxVocab pieces ≤ ~10⁵ — a model-sized broadcast
    val set: Set[String] = vocab.select(col("piece").cast("string"))
      .collect().map(_.getString(0)).toSet
    val maxRaw = set.iterator.map(_.length).foldLeft(0)(math.max)
    val bc = spark.sparkContext.broadcast((set, maxRaw))
    import spark.implicits._
    df.select(col(wordCol).cast("string")).as[String]
      .mapPartitions { it =>
        val (voc, maxL) = bc.value
        it.map { word =>
          val n = if (word == null) 0 else word.length
          val pieces = Seq.newBuilder[String]
          var pos = 0
          var failed = false
          var count = 0L
          while (pos < n && !failed) {
            var l = math.min(maxL, n - pos)
            var hit = 0
            while (l >= 1 && hit == 0) {
              val sub = word.substring(pos, pos + l)
              val cand = if (pos == 0) sub else "##" + sub
              if (voc.contains(cand)) hit = l else l -= 1
            }
            if (hit == 0) failed = true
            else {
              val sub = word.substring(pos, pos + hit)
              pieces += (if (pos == 0) sub else "##" + sub)
              count += 1
              pos += hit
            }
          }
          WordPieceRow(word, pieces.result(), count, failed,
            if (failed) Some(pos + 1L) else None)
        }
      }(org.apache.spark.sql.Encoders.product[WordPieceRow])
      .toDF(wordCol, "pieces", "n_pieces", "is_unk", "fail_pos")
  }

  /** Unigram-LM (SentencePiece-style, Kudo 2018) SEED vocabulary — the
    * fourth tokenizer family next to [[buildVocab]] (whitespace),
    * [[learnBpeMerges]] (BPE) and [[learnWordPieceVocab]] (WordPiece).
    * Candidate pieces are every substring (length ≤ `maxPieceLen`) of
    * every distinct corpus word — PLAIN substrings, no `##` marker:
    * unigram pieces carry no position convention, which is what lets
    * the Viterbi lattice consider every split. Pieces score by
    * corpus-frequency-weighted occurrence count and the top `maxVocab`
    * win (count desc, piece asc — a total order, engine-exact).
    *
    * Scale shape: identical to [[learnWordPieceVocab]] — the substring
    * explosion runs over the DISTINCT-word frequency table, one
    * map-side-combined count, rank via [[Packing.globalRowNumber]]'s
    * two-pass scan with `maxVocab` as the limit.
    *
    * @return (piece, cnt, piece_id) — piece_id dense from 0 */
  def learnUnigramSeedVocab(df: DataFrame, textCol: String,
      maxPieceLen: Int = 6, maxVocab: Int = 1000): DataFrame = {
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    require(maxVocab >= 1, s"maxVocab must be >= 1, got $maxVocab")
    val words = df
      .select(explode(split(trim(coalesce(col(textCol), lit(""))),
        "\\s+")).as("__w"))
      .filter(length(col("__w")) > 0)
      .groupBy(col("__w")).agg(count(lit(1)).as("__f"))
    val w = col("__w")
    val pieces = words.select(w, col("__f"), explode(flatten(
        transform(sequence(lit(1), length(w)), i =>
          transform(sequence(lit(1),
              least(lit(maxPieceLen), length(w) - i + 1)),
            l => w.substr(i, l)))))
        .as("piece"))
    val counts = pieces.groupBy(col("piece"))
      .agg(sum(col("__f")).as("cnt"))
    Packing.globalRowNumber(counts,
      Seq(col("cnt").desc, col("piece").asc), "piece_id",
      limit = maxVocab)
  }

  /** Unigram-LM VITERBI segmentation — the max-likelihood split of
    * each word over a piece vocabulary, the inference rule of the
    * SentencePiece unigram model: maximize Σ log p(pieceᵢ) with
    * p = cnt/Σcnt over the vocabulary. Log-probs are quantized to
    * integer MILLI-NATS — `floor(1000·ln(cnt)) − floor(1000·ln(Σcnt))`
    * per piece — so the whole lattice DP is exact integer addition and
    * comparison: scores, piece counts and the chosen segmentation are
    * engine-independent (the q113 quantized-k-means convention), and a
    * replaying engine reproduces the DP step by step (q153). Ties
    * break (score desc, n_pieces asc, split-point asc — prefer fewer,
    * then longer-final pieces), a total order, so even equal-likelihood
    * lattices segment identically. A word containing text no piece
    * covers is unsegmentable → `is_unk`, empty pieces, null score.
    *
    * Scale shape: the vocabulary is a bounded model artifact collected
    * once and broadcast as a hash map (the [[wordPieceSegment]]
    * pattern); the DP is O(|word|·maxPieceLen) integer ops per word in
    * one `mapPartitions` — no shuffle, rides the word-frame scan.
    *
    * @param vocab (piece, cnt, …) as from [[learnUnigramSeedVocab]]
    * @return (wordCol, pieces, n_pieces, viterbi_q, is_unk) —
    *         viterbi_q in milli-nats (negative; null when unk) */
  def unigramViterbiSegment(df: DataFrame, wordCol: String,
      vocab: DataFrame): DataFrame = {
    val spark = df.sparkSession
    // bounded: maxVocab pieces — a model-sized broadcast
    val cnts: Array[(String, Long)] = vocab
      .select(col("piece").cast("string"), col("cnt").cast("long"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val total = cnts.iterator.map(_._2).sum
    val qTot = math.floor(1000.0 * math.log(total.toDouble)).toLong
    val q: Map[String, Long] = cnts.iterator.map { case (p, c) =>
      p -> (math.floor(1000.0 * math.log(c.toDouble)).toLong - qTot)
    }.toMap
    val maxL = q.keysIterator.map(_.length).foldLeft(0)(math.max)
    val bc = spark.sparkContext.broadcast((q, maxL))
    import spark.implicits._
    df.select(col(wordCol).cast("string")).as[String]
      .mapPartitions { it =>
        val (qv, mL) = bc.value
        it.map { word =>
          val n = if (word == null) 0 else word.length
          val NEG = Long.MinValue / 4
          val score = Array.fill(n + 1)(NEG)
          val np = new Array[Long](n + 1)
          val bp = Array.fill(n + 1)(-1)
          score(0) = 0L
          var i = 1
          while (i <= n) {
            var j = math.max(0, i - mL)
            while (j < i) { // j ascending ⇒ first best j wins ties
              if (score(j) > NEG) {
                qv.get(word.substring(j, i)) match {
                  case Some(s) =>
                    val cand = score(j) + s
                    val cnp = np(j) + 1
                    if (cand > score(i) ||
                        (cand == score(i) && cnp < np(i))) {
                      score(i) = cand; np(i) = cnp; bp(i) = j
                    }
                  case None =>
                }
              }
              j += 1
            }
            i += 1
          }
          if (n == 0) UnigramRow(word, Seq.empty, 0L, Some(0L), false)
          else if (score(n) <= NEG)
            UnigramRow(word, Seq.empty, 0L, None, true)
          else {
            val out = List.newBuilder[String]
            val rev = new Array[String](np(n).toInt)
            var pos = n; var k = np(n).toInt - 1
            while (pos > 0) {
              rev(k) = word.substring(bp(pos), pos)
              pos = bp(pos); k -= 1
            }
            out ++= rev
            UnigramRow(word, out.result(), np(n), Some(score(n)), false)
          }
        }
      }(org.apache.spark.sql.Encoders.product[UnigramRow])
      .toDF(wordCol, "pieces", "n_pieces", "viterbi_q", "is_unk")
  }

  /** Unigram-LM hard-EM M-STEP — piece usage counts under the current
    * model: each distinct corpus word's [[unigramViterbiSegment]]
    * pieces, weighted by the word's corpus frequency. This is the
    * count statistic SentencePiece's EM re-estimates probabilities
    * from (hard assignment — Viterbi counts instead of lattice
    * expectations, which keeps every number an integer); pieces the
    * Viterbi never chooses get no row — exactly the prune set Kudo's
    * algorithm drops first. Feed the result back as the next vocab to
    * iterate (the [[updateVocab]] loop shape).
    *
    * @param maxWordLen skip words longer than this (SentencePiece's
    *                   own long-token skip — URLs and hash strings
    *                   would otherwise dominate the lattice cost)
    * @return (piece, used_cnt) for pieces with at least one use */
  def unigramPieceUsage(df: DataFrame, textCol: String,
      vocab: DataFrame, maxWordLen: Int = Int.MaxValue): DataFrame = {
    val words = df
      .select(explode(split(trim(coalesce(col(textCol), lit(""))),
        "\\s+")).as("__w"))
      .filter(length(col("__w")) > 0 && length(col("__w")) <= maxWordLen)
      .groupBy(col("__w")).agg(count(lit(1)).as("__f"))
      .materialized // feeds the segment scan AND the usage join
    val seg = unigramViterbiSegment(words.select(col("__w")), "__w", vocab)
    seg.filter(!col("is_unk"))
      .join(words, "__w")
      .select(explode(col("pieces")).as("piece"), col("__f"))
      .groupBy(col("piece"))
      .agg(sum(col("__f")).as("used_cnt"))
  }

  /** Corpus-LM "familiarity" score — the integer-exact stand-in for
    * CCNet's KenLM perplexity filter: score(doc) = mean corpus document
    * frequency over the doc's bigram OCCURRENCES. Text built from
    * transitions the corpus uses everywhere scores high; gibberish and
    * OCR noise score near 1 (every bigram known only to its own doc).
    * Like real LM filtering the signal is corpus-relative — but the
    * "model" here is just a doc-frequency table, so training and
    * scoring are one job and every count is an integer: the score is a
    * single IEEE division, restated bit-exactly by any engine (q81).
    *
    * Same scale shape as [[stripBoilerplateLines]]: occurrences join
    * the frequency table on an md5-60 hash (8-byte shuffle keys), both
    * aggregations map-side combine, no windows.
    *
    * @return (idCol, n_bigrams, familiarity); docs with fewer than two
    *         tokens score null with n_bigrams 0. Runs Spark jobs eagerly
    *         at call time (see [[Materialize]]).
    */
  def bigramFamiliarity(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val words = split(trim(col(textCol)), "\\s+")
    val occ = df.select(col(idCol), words.as("__ws"))
      .filter(size(col("__ws")) >= 2)
      .select(col(idCol), explode(
        transform(sequence(lit(1), size(col("__ws")) - 1),
          i => concat(element_at(col("__ws"), i), lit(" "),
            element_at(col("__ws"), i + 1)))).as("__bg"))
      .select(col(idCol), Dedup.md5Hash60(col("__bg")).as("__bh"))
      .materialized // feeds the freq agg AND the scoring join
    val dfq = occ.distinct()
      .groupBy(col("__bh")).agg(count(lit(1)).as("__df"))
    val scored = occ.join(dfq, "__bh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("__df")).cast("double") / count(lit(1)))
          .as("familiarity"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("familiarity"))
  }

  /** A trained bigram language model as two DISTRIBUTED count tables —
    * deliberately not a broadcast: at corpus scale the bigram table is
    * data-sized (billions of rows), so scoring joins it on 8-byte hash
    * keys like any fact table. `vocabSize` = distinct bigram PREFIXES
    * in the training corpus (the smoothing denominator's V).
    *
    * @param bigrams  (__bh, __c12): occurrences of each bigram
    * @param unigrams (__w1h, __c1): occurrences of each prefix word */
  case class BigramLm(bigrams: DataFrame, unigrams: DataFrame,
      vocabSize: Long)

  /** Per-occurrence bigram rows (idCol?, __bh, __w1h, __w2h) — bh
    * hashes "w1 w2", w1h/w2h hash the prefix/continuation words
    * (md5-60, the cross-engine construction). */
  private def bigramOcc(df: DataFrame, textCol: String,
      idCol: Option[String]): DataFrame = {
    val words = split(trim(col(textCol)), "\\s+")
    val keep = idCol.map(col).toSeq
    // NOT widened — re-measured r14 and the r12 rule STANDS (VERDICT.md
    // row 12): an isolated same-JVM A/B showed the widened
    // build wins its own stage (1.63 → 0.62 s wall at sf0.1) but every
    // downstream consumer stage of the 32-partition checkpoint pays
    // ~+0.25 s of per-task overhead on this oversubscribed runner
    // (task wall, not CPU — the executorRunTime caveat), and bigramOcc
    // feeds 3 aggregations plus the score-side joins: net wash to
    // regression (q137 1.25 committed → 1.7-4.5 s widened across three
    // fresh-JVM reps). The serial build here is ~1.4 s of md5 on one
    // scan split — below the breakeven the q36 parse (2.5 s serial,
    // ONE consumer) clears.
    df.select(keep :+ words.as("__ws"): _*)
      .filter(size(col("__ws")) >= 2)
      .select(keep :+ explode(
        transform(sequence(lit(1), size(col("__ws")) - 1),
          i => struct(
            concat(element_at(col("__ws"), i), lit(" "),
              element_at(col("__ws"), i + 1)).as("bg"),
            element_at(col("__ws"), i).as("w1"),
            element_at(col("__ws"), i + 1).as("w2")))).as("__o"): _*)
      .select(keep ++ Seq(Dedup.md5Hash60(col("__o.bg")).as("__bh"),
        Dedup.md5Hash60(col("__o.w1")).as("__w1h"),
        Dedup.md5Hash60(col("__o.w2")).as("__w2h")): _*)
  }

  /** Train the CCNet/KenLM-style quality-filter LM: add-one-smoothed
    * bigram conditional probabilities P(w2|w1) = (c12+1)/(c1+V), kept
    * as raw integer counts so scoring stays engine-exact. Two map-side-
    * combined hash aggregations over one occurrence pass — the same
    * scale shape as [[bigramFamiliarity]]'s frequency table. Eager:
    * both tables materialize at call time ("train once, score every
    * batch" — the [[graft.ops.Dedup.indexCorpus]] convention); at 100 TB
    * persist them next to the corpus instead.
    */
  def trainBigramLm(df: DataFrame, textCol: String): BigramLm = {
    val occ = bigramOcc(df, textCol, None).materialized
    val bigrams = occ.groupBy(col("__bh"))
      .agg(count(lit(1)).as("__c12")).materialized
    val unigrams = occ.groupBy(col("__w1h"))
      .agg(count(lit(1)).as("__c1")).materialized
    BigramLm(bigrams, unigrams, unigrams.count())
  }

  /** Incremental LM update — fold a new batch's counts into an
    * existing [[BigramLm]] without re-scanning the old corpus (the
    * [[updateVocab]] convention for the LM): count tables union-sum
    * per key, and V recounts from the merged prefix table. Exactly
    * equivalent to retraining on the concatenated corpus —
    * `merge(train(A), train(B)) == train(A ∪ B)` (counts are
    * additive and V is a distinct count over the union; parity-tested)
    * — so nightly crawl batches fold in at batch cost, not corpus
    * cost. Eager like [[trainBigramLm]].
    */
  def mergeBigramLm(lm: BigramLm, batch: DataFrame,
      textCol: String): BigramLm = {
    val inc = trainBigramLm(batch, textCol)
    def merged(a: DataFrame, b: DataFrame, key: String,
        cnt: String): DataFrame =
      a.unionByName(b).groupBy(col(key))
        .agg(sum(col(cnt)).as(cnt)).materialized
    val bigrams = merged(lm.bigrams, inc.bigrams, "__bh", "__c12")
    val unigrams = merged(lm.unigrams, inc.unigrams, "__w1h", "__c1")
    BigramLm(bigrams, unigrams, unigrams.count())
  }

  /** Score documents against a trained [[BigramLm]] — the model-based
    * quality gate CCNet runs after boilerplate removal. Per bigram
    * occurrence, the add-one-smoothed conditional probability
    * P = (c12+1)/(c1+V) (missing counts 0 — unseen prefix degrades to
    * the uniform 1/V, the uniform-backoff limit); per document:
    *
    *  - `lm_mean_prob_ppb`: mean P quantized to parts-per-billion with
    *    INTEGER division at both steps — order-independent, bit-exact
    *    in any engine (q137's oracle), the published filter signal.
    *    (The ppb quantizer is exact while c12 < ~9.2e9; past that —
    *    trillion-occurrence bigrams — drop to ppm.)
    *  - `n_oov`: occurrences whose bigram the training corpus never
    *    saw (the sparsity/diagnostic count).
    *  - `perplexity`: exp(-mean ln P), the conventional report form.
    *    Float transcendentals differ across libms, so this column is
    *    for humans and thresholds, NOT for cross-engine hashing.
    *
    * Scale shape: two shuffle joins on 8-byte hash keys (bigram table
    * is data-sized — never broadcast), one map-side-combined per-doc
    * aggregation, no windows.
    *
    * @return (idCol, n_bigrams, n_oov, lm_mean_prob_ppb, perplexity);
    *         docs with fewer than two tokens score (0, 0, null, null) */
  def scoreBigramLm(df: DataFrame, idCol: String, textCol: String,
      lm: BigramLm): DataFrame = {
    // SCORE-side scan widened (r14): unlike the train side (whose
    // materialized occ checkpoint feeds several small aggregations —
    // the measured-regression case recorded at [[bigramOcc]]), the
    // score pass has ONE consumer: the shuffle write feeding the count
    // joins. That is exactly the q36 widening rule (serial CPU-heavy
    // per-row parse, one consumer) — unwidened, the whole split+md5
    // pass ran on the scan's 1–3 file splits (q156: 1.15 s of a 3.4 s
    // wall on one task). No-op once the scan has real splits.
    val occ = bigramOcc(Materialize.widened(df), textCol, Some(idCol))
    val c12 = coalesce(col("__c12"), lit(0L))
    val c1 = coalesce(col("__c1"), lit(0L))
    val joined = occ
      .join(lm.bigrams, Seq("__bh"), "left")
      .join(lm.unigrams, Seq("__w1h"), "left")
      .select(col(idCol),
        (c12 === 0).cast("long").as("__oov"),
        expr(s"((coalesce(__c12, 0L) + 1L) * 1000000000L) div " +
          s"(coalesce(__c1, 0L) + ${lm.vocabSize}L)").as("__q"),
        ((c12 + 1).cast("double") /
          (c1 + lm.vocabSize).cast("double")).as("__p"))
    val scored = joined.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("__oov")).as("n_oov"),
        expr("sum(__q) div count(1)").as("lm_mean_prob_ppb"),
        exp(-avg(log(col("__p")))).as("perplexity"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        col("lm_mean_prob_ppb"), col("perplexity"))
  }

  /** A trained interpolated Kneser–Ney bigram LM (Kneser & Ney 1995;
    * the Chen & Goodman 1998 interpolated form — the smoothing KenLM
    * actually ships, where [[trainBigramLm]]'s add-one is the
    * classroom baseline). Count tables stay DISTRIBUTED like
    * [[BigramLm]]'s; the continuation table is the KN novelty: how
    * many DISTINCT predecessors each word has, which is what replaces
    * raw frequency at the backoff level ("Francisco" is frequent but
    * only ever follows "San" — KN backs off to type counts, not token
    * counts).
    *
    * @param bigrams       (__bh, __c12) bigram token counts
    * @param prefixes      (__w1h, __c1, __n1fw): prefix token count +
    *                      distinct-follower type count N1+(w1,·)
    * @param continuations (__w2h, __n1pw): distinct-predecessor type
    *                      count N1+(·,w2)
    * @param nBigramTypes  B = distinct bigram types (Pcont denominator)
    * @param vocabSize     V = distinct prefixes (the uniform floor's V)
    * @param dPermille     the absolute discount D in per-mille (750 =
    *                      the standard 0.75) */
  case class KneserNeyLm(bigrams: DataFrame, prefixes: DataFrame,
      continuations: DataFrame, nBigramTypes: Long, vocabSize: Long,
      dPermille: Int)

  /** Train the interpolated KN bigram model: one occurrence pass feeds
    * three map-side-combined hash aggregations (bigram counts; prefix
    * counts + distinct followers; distinct predecessors). Eager like
    * [[trainBigramLm]] ("train once, score every batch").
    */
  def trainKneserNeyLm(df: DataFrame, textCol: String,
      dPermille: Int = 750): KneserNeyLm = {
    require(dPermille >= 0 && dPermille <= 1000,
      s"dPermille must be in [0,1000], got $dPermille")
    val occ = bigramOcc(df, textCol, None).materialized
    val bigrams = occ.groupBy(col("__bh"))
      .agg(count(lit(1)).as("__c12")).materialized
    val prefixes = occ.groupBy(col("__w1h"))
      .agg(count(lit(1)).as("__c1"),
        count_distinct(col("__bh")).as("__n1fw")).materialized
    // r14: the continuation table used to go through a SEPARATE
    // distinct-pairs pass (types.distinct().materialized, then a
    // count(1) agg, then types.count() as a third job). One
    // count_distinct aggregation produces the identical table —
    // N1+(·,w2) = |{distinct bh within w2h}| — and B falls out as
    // Σ N1+(·,w2) = |distinct (bh, w2h) pairs|, read from the 31-row
    // (vocab-sized) materialized result instead of re-counting the
    // occurrence-sized distinct frame. Same values by definition;
    // q169's oracle hash is unchanged (driver-checked).
    val continuations = occ.groupBy(col("__w2h"))
      .agg(count_distinct(col("__bh")).as("__n1pw")).materialized
    val nBigramTypes = continuations
      .agg(coalesce(sum(col("__n1pw")), lit(0L))).collect()(0).getLong(0)
    KneserNeyLm(bigrams, prefixes, continuations, nBigramTypes,
      prefixes.count(), dPermille)
  }

  /** Score documents against a trained [[KneserNeyLm]] — the
    * perplexity-style gate with the smoothing CCNet's KenLM really
    * uses. Per bigram occurrence, interpolated KN with an add-one-
    * uniform floor on the continuation distribution (so every P > 0):
    * {{{
    *   Pcont(w2)  = (N1+(·,w2) + 1) / (B + V)
    *   P(w2|w1)   = max(c12 − D, 0)/c1 + (D·N1+(w1,·)/c1)·Pcont(w2)
    *   (c1 = 0 →)   Pcont(w2)
    * }}}
    * The published signal is ppb-quantized with PURE INTEGER
    * arithmetic — each term is the integer floor of an exact integer
    * ratio (D rides as dPermille), so there is NO floating point
    * anywhere in the compared projection (stronger than the pinned-
    * IEEE convention; the q137/q52 integer-exactness form):
    * {{{
    *   q = (max(1000·c12 − dp, 0) · 10⁹) div (1000·c1)
    *     + (dp · n1fw · (n1pw+1) · 10⁹) div (1000·c1·(B+V))
    *   (c1 = 0 →) ((n1pw+1) · 10⁹) div (B+V)
    * }}}
    * (exact while dp·n1fw·(n1pw+1) < ~9.2e9 — vocab-type counts, which
    * at web scale means switching the quantizer to ppm; dp = 0
    * degrades to the unsmoothed ML floor(c12/c1·10⁹), the unit test's
    * closed form.) Per doc the q values sum order-free.
    *
    * Scale shape: three shuffle joins on 8-byte hash keys (all count
    * tables data-sized — never broadcast), one map-side-combined
    * per-doc aggregation, no windows.
    *
    * @return (idCol, n_bigrams, n_oov, kn_mean_prob_ppb); docs with
    *         fewer than two tokens score (0, 0, null) */
  def scoreKneserNeyLm(df: DataFrame, idCol: String, textCol: String,
      lm: KneserNeyLm): DataFrame = {
    // score-side scan widened — same rationale as [[scoreBigramLm]]
    val occ = bigramOcc(Materialize.widened(df), textCol, Some(idCol))
    val dp = lm.dPermille
    val bv = lm.nBigramTypes + lm.vocabSize
    val joined = occ
      .join(lm.bigrams, Seq("__bh"), "left")
      .join(lm.prefixes, Seq("__w1h"), "left")
      .join(lm.continuations, Seq("__w2h"), "left")
      .select(col(idCol),
        (coalesce(col("__c12"), lit(0L)) === 0).cast("long").as("__oov"),
        expr(s"""CASE WHEN coalesce(__c1, 0L) > 0L THEN
             |  (greatest(1000L * coalesce(__c12, 0L) - ${dp}L, 0L)
             |    * 1000000000L) div (1000L * __c1)
             |  + (${dp}L * coalesce(__n1fw, 0L)
             |      * (coalesce(__n1pw, 0L) + 1L) * 1000000000L)
             |    div (1000L * __c1 * ${bv}L)
             |ELSE ((coalesce(__n1pw, 0L) + 1L) * 1000000000L)
             |  div ${bv}L END""".stripMargin).as("__q"))
    val scored = joined.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("__oov")).as("n_oov"),
        expr("sum(__q) div count(1)").as("kn_mean_prob_ppb"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        col("kn_mean_prob_ppb"))
  }

  /** CCNet-style boilerplate-line removal: a line (newline-separated
    * paragraph) appearing in MORE than `maxDocFreq` distinct documents
    * is template chrome — nav bars, cookie banners, copyright footers —
    * and is stripped from every document; surviving lines keep their
    * original order. This is the cross-document sibling of the
    * within-document repetition filters ([[repetitionSignals]]): the
    * CCNet/RefinedWeb pipelines run exactly this paragraph-frequency
    * pass before model-based filtering.
    *
    * Scale shape: lines join on an 8-byte md5-60 line hash (the q66
    * decontamination trick — full line text never becomes a shuffle
    * KEY, only a carried value), doc frequency is one map-side-combined
    * hash agg, and document rebuild is one groupBy with an in-group
    * array sort — no windows. Hash collisions merge two lines' doc
    * frequencies; at 2^60 that is theoretical, and the DuckDB oracle
    * (q78) restates the SAME hashed grouping so the check is exact.
    *
    * @return (idCol, clean_text, n_lines_kept, n_lines_removed); a doc
    *         that was pure boilerplate keeps an empty clean_text. Runs
    *         Spark jobs eagerly at call time (see [[Materialize]]).
    */
  def stripBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
      maxDocFreq: Long): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    // null text behaves like empty text (one empty line) instead of
    // vanishing from posexplode and leaving a null removal count
    val text = coalesce(col(textCol), lit(""))
    // feeds the doc-freq agg AND the rebuild join — materialize once;
    // localCheckpoint so the blocks free on GC (no session cache pin)
    val lines = df.select(col(idCol),
        posexplode(split(text, "\n")).as(Seq("__pos", "__line")))
      .withColumn("__lh", Dedup.md5Hash60(col("__line")))
      .materialized
    val docFreq = lines.select(col(idCol), col("__lh")).distinct()
      .groupBy(col("__lh")).agg(count(lit(1)).as("__df"))
    val kept = lines.join(docFreq, "__lh").filter(col("__df") <= maxDocFreq)
    val rebuilt = kept.groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("__pos"), col("__line")))),
            x => x.getField("__line")),
          "\n").as("clean_text"),
        count(lit(1)).as("n_lines_kept"))
    df.select(col(idCol), size(split(text, "\n")).as("__total"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_lines_kept"), lit(0L)).as("n_lines_kept"),
        (col("__total") - coalesce(col("n_lines_kept"), lit(0L)))
          .as("n_lines_removed"))
  }

  /** WITHIN-document repeated-line removal — the intra-doc twin of
    * [[stripBoilerplateLines]] (RefinedWeb/CCNet run both: cross-doc
    * frequency strips shared chrome, THIS pass strips a page's own
    * internal repetition — nav lists repeated per section, template
    * blocks, scraped pagination). First occurrence of each line
    * survives, later exact repeats drop, order is preserved; lines
    * whose trimmed length is below `minLen` are ALWAYS kept (default 1
    * → blank separator lines never collapse, so paragraph structure
    * survives).
    *
    * Shape: pure map over the corpus scan — per-doc first-occurrence
    * needs set semantics, and a HOF restatement (`array_position` per
    * element) is O(lines²) per document, so `mapPartitions` with one
    * hash set per doc is the honest O(lines) form (the [[encodeTokens]]
    * rationale). No shuffle; rides the scan at 100 TB. Dedup compares
    * exact line bytes, so any engine restates the surviving set (q96).
    * "Trimmed" is Java `String.trim` (strips all ASCII ≤ 0x20, not just
    * spaces — wider than SQL `trim`); q96's planted whitespace is
    * space-only so the oracle sits inside the shared dialect.
    *
    * @return (idCol, clean_text, n_lines, n_removed) */
  def dedupDocLines(df: DataFrame, idCol: String, textCol: String,
      minLen: Int = 1): DataFrame = {
    require(minLen >= 0, s"minLen must be >= 0, got $minLen")
    val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.STRING)
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)](enc)
      .mapPartitions { it =>
        it.map { case (id, text) =>
          // null text dedups like empty text instead of NPE-ing the scan;
          // split(_, -1) keeps trailing empty lines like the SQL split
          val lines =
            if (text == null) Array.empty[String]
            else text.split("\n", -1)
          val seen = new java.util.HashSet[String]
          val kept = lines.filter { l =>
            if (l.trim.length < minLen) true else seen.add(l)
          }
          LineDedupRow(id, kept.mkString("\n"), lines.length.toLong,
            (lines.length - kept.length).toLong)
        }
      }(org.apache.spark.sql.Encoders.product[LineDedupRow])
      .toDF(idCol, "clean_text", "n_lines", "n_removed")
  }

  /** GLOBAL paragraph dedup, keep-first-owner — the Dolma-style
    * cross-document paragraph pass: each distinct paragraph survives
    * exactly ONCE in the whole corpus, at its first occurrence
    * (lowest (doc, position) — deterministic, not ingest-order), and
    * every other occurrence is dropped in place. Complements
    * [[stripBoilerplateLines]] (which drops over-frequent lines from
    * EVERY owner) and [[dedupDocLines]] (within-document only). Lines
    * shorter than `minLen` chars after trim (blanks, list bullets,
    * markup) always survive — dropping every second blank line would
    * corrupt paragraph structure.
    *
    * Scale shape: the positioned-line table materializes once (the
    * [[stripBoilerplateLines]] shape, 8-byte md5-60 keys), the global
    * first-owner is ONE map-side-combined `min(struct(doc, pos))` per
    * line hash, survivors are an equality join + filter, and the
    * rebuild is the standard per-doc sorted collect. No windows.
    *
    * @return (idCol, clean_text, n_lines_kept, n_lines_removed)
    */
  def dedupParagraphsGlobal(df: DataFrame, idCol: String, textCol: String,
      minLen: Int = 1): DataFrame = {
    require(minLen >= 0, s"minLen must be >= 0, got $minLen")
    val text = coalesce(col(textCol), lit(""))
    val lines = df.select(col(idCol),
        posexplode(split(text, "\n")).as(Seq("__pos", "__line")))
      .withColumn("__lh", Dedup.md5Hash60(col("__line")))
      .materialized // feeds the owner agg AND the survivor join
    val owners = lines
      .filter(length(trim(col("__line"))) >= minLen)
      .groupBy(col("__lh"))
      .agg(min(struct(col(idCol).as("__oid"), col("__pos").as("__opos")))
        .as("__own"))
    val kept = lines.join(owners, Seq("__lh"), "left")
      .filter(length(trim(col("__line"))) < minLen ||
        (col(idCol) === col("__own.__oid") &&
          col("__pos") === col("__own.__opos")))
    val rebuilt = kept.groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("__pos"), col("__line")))),
            x => x.getField("__line")),
          "\n").as("clean_text"),
        count(lit(1)).as("n_lines_kept"))
    df.select(col(idCol), size(split(text, "\n")).as("__total"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_lines_kept"), lit(0L)).as("n_lines_kept"),
        (col("__total") - coalesce(col("n_lines_kept"), lit(0L)))
          .as("n_lines_removed"))
  }

  /** Encoding-health signals — the UTF-8 hygiene filter every web
    * pipeline runs before spending compute on content quality: count of
    * U+FFFD replacement characters (a decoder already gave up), of C0
    * control characters that aren't tab/newline/CR (binary junk posing
    * as text), and of the `Ã`/`Â`-plus-continuation digraphs that are
    * the signature of UTF-8 bytes decoded as Latin-1 (mojibake). All
    * three are `regexp_extract_all` counts in the Java∩RE2 dialect (the
    * q61 PII precedent), so any engine restates them; `bad_ratio` is
    * one IEEE division of exact integers (q102).
    *
    * Pure map — rides the corpus scan, no shuffle, stays inside
    * whole-stage codegen. Null text scores like empty text.
    *
    * @return (idCol, n_chars, n_replacement, n_control, n_mojibake,
    *         bad_ratio) */
  def encodingSignals(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    def cnt(pattern: String): Column =
      size(regexp_extract_all(t, lit(pattern), lit(0))).cast("long")
    val nRepl = cnt("\uFFFD")
    val nCtrl = cnt("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]")
    val nMoji = cnt("[\u00C3\u00C2][\u0080-\u00BF]")
    df.select(col(idCol), length(t).as("n_chars"), nRepl.as("n_replacement"),
        nCtrl.as("n_control"), nMoji.as("n_mojibake"))
      .withColumn("bad_ratio",
        (col("n_replacement") + col("n_control") + col("n_mojibake"))
          .cast("double") / greatest(col("n_chars"), lit(1L)))
  }

  /** Corpus n-gram DIVERSITY report — the distinct-over-total gram
    * ratio at each n, per source and corpus-wide (the dataset-card
    * self-repetition metric: template-generated or over-crawled slices
    * show depressed bigram/trigram diversity long before exact dedup
    * finds anything). `scope` is the group value plus an `ALL` total
    * row per n.
    *
    * Shape: totals never explode at all — a doc's gram count at each n
    * is arithmetic on its word count, so totals are a pure map + tiny
    * agg. Distinct counts come from ONE explode of (n, md5-60(gram))
    * structs (8-byte hashed keys, never gram strings) deduped EARLY to
    * the per-source distinct set — the ALL row then dedupes that
    * already-vocabulary-sized set again instead of re-shuffling the
    * raw gram stream, and no `count + count_distinct` pair ever makes
    * Catalyst Expand-multiply the stream (the first cut of this
    * operator did, and was the bench's slowest query ×4 over). At
    * 100 TB swap the exact distinct for `approx_count_distinct` (the
    * q69 sketch-gate precedent) — kept exact here so the oracle can
    * restate it. Diversity = one IEEE division of two exact integers
    * (q99). Eager (materializes the per-source distinct set once for
    * its two consumers — see [[Materialize]]).
    *
    * @return (scope, n, total_grams, distinct_grams, diversity);
    *         (scope, n) pairs with zero grams emit no row */
  def ngramDiversity(df: DataFrame, textCol: String,
      groupCol: Option[String] = None,
      ns: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1) && ns.distinct == ns,
      s"ns must be distinct positive ints, got $ns")
    val grpExpr = groupCol.map(g => col(g).cast("string"))
      .getOrElse(lit("ALL"))
    // bind the words array ONCE as a column before any lambda touches
    // it (the bigramFamiliarity rule): an element_at over the raw
    // split(...) expression inside a transform re-splits the text per
    // element — O(words²) per document per n. Bound as an attribute,
    // the split runs once per row.
    val prepared = Materialize.widened(df).select(grpExpr.as("scope"),
      split(trim(col(textCol)), "\\s+").as("__w"))
    val w = col("__w")
    // totals: |grams_n(doc)| = max(|w| - (n-1), 0) — no explode
    val sizeCols = ns.map(n =>
      greatest(size(w) - (n - 1), lit(0)).cast("long").as(s"__c$n"))
    val totSrc = prepared.select(col("scope") +: sizeCols: _*)
      .groupBy(col("scope"))
      .agg(sum(col(s"__c${ns.head}")).as(s"__t${ns.head}"),
        ns.tail.map(n => sum(col(s"__c$n")).as(s"__t$n")): _*)
      .select(col("scope"), explode(array(ns.map(n =>
        struct(lit(n).as("n"), col(s"__t$n").as("total_grams"))): _*))
        .as("__s"))
      .select(col("scope"), col("__s.n").as("n"), col("__s.total_grams"))
    // distinct: one explode, dedup straight to the per-source set
    val gramsPerN: Seq[Column] = ns.map { n =>
      val grams =
        if (n == 1) w
        else transform(sequence(lit(1), size(w) - (n - 1)),
          i => concat_ws(" ",
            (0 until n).map(o => element_at(w, i + o)): _*))
      when(size(w) >= n,
        transform(grams, g =>
          struct(lit(n).as("n"), Dedup.md5Hash60(g).as("gh"))))
        .otherwise(array().cast("array<struct<n:int,gh:bigint>>"))
    }
    val dSrc = prepared.select(col("scope"),
        explode(flatten(array(gramsPerN: _*))).as("__g"))
      .select(col("scope"), col("__g.n").as("n"), col("__g.gh").as("gh"))
      .distinct()
    def joinScopes(d: DataFrame): DataFrame = totSrc.join(
      d.groupBy(col("scope"), col("n"))
        .agg(count(lit(1)).as("distinct_grams")),
      Seq("scope", "n"))
    val out = groupCol match {
      case None => joinScopes(dSrc)
      case Some(_) =>
        // ALL = union of the per-source distinct sets (already deduped,
        // vocabulary-sized) + summed totals; dSrcM feeds both consumers
        val dSrcM = dSrc.materialized
        val allRows = totSrc.groupBy(col("n"))
          .agg(sum(col("total_grams")).as("total_grams"))
          .join(dSrcM.select(col("n"), col("gh")).distinct()
            .groupBy(col("n")).agg(count(lit(1)).as("distinct_grams")),
            Seq("n"))
          .select(lit("ALL").as("scope"), col("n"), col("total_grams"),
            col("distinct_grams"))
        joinScopes(dSrcM).unionByName(allRows)
    }
    out.withColumn("diversity",
      col("distinct_grams").cast("double") / col("total_grams"))
  }

  /** Characteristic-stopword language scores. Tiny dictionaries on
    * purpose: the operator shape (per-language token-overlap count +
    * deterministic argmax) is what scales; swap dictionaries for real
    * corpora. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "de", "y", "es"),
  )

  private def langScore(tokens: Column, words: Seq[String]): Column =
    size(filter(tokens, t => words.map(w => t === w).reduce(_ || _)))

  /** Predicted language: argmax of stopword-hit counts, ties broken by
    * language code (asc); all-zero → "unknown". */
  def langId(text: Column): Column = {
    val tokens = split(trim(text), "\\s+")
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, ws) =>
      struct(langScore(tokens, ws).as("score"), lit(lang).as("lang"))
    }
    // array_max on struct = lexicographic → (max score, max lang); to get
    // min-lang tie-break, compare on (score, negated-rank) instead
    val ranked = scored.zipWithIndex.map { case (s, i) =>
      struct(s.getField("score").as("score"),
        lit(-i).as("nrank"), s.getField("lang").as("lang"))
    }
    val best = array_max(array(ranked: _*))
    when(best.getField("score") > 0, best.getField("lang"))
      .otherwise(lit("unknown"))
  }

  /** Per-source corpus DATA CARD — the summary table a corpus release
    * publishes next to its shards (docs, tokens, exact-duplicate and
    * language composition per source). Every column is an integer
    * count, so the card is engine-exact at any parallelism (q138's
    * DuckDB twin restates it from first principles).
    *
    * Scale shape: ONE aggregation over the corpus scan. The exact
    * per-source distinct-content count shuffles (source, md5) pairs
    * with map-side partial dedup — the exact twin of what q69's
    * HLL++ sketch estimates; at 100 TB publish the sketch column next
    * to this card if the exact distinct becomes the bottleneck. Lang
    * counts pivot over [[langId]]'s closed label set, so the row stays
    * fixed-width no matter the corpus.
    *
    * @return one row per source, sorted: (source, n_docs, n_tokens,
    *         max_doc_tokens, n_exact_dup_docs, n_lang_en, n_lang_de,
    *         n_lang_es, n_lang_unknown) */
  def corpusDataCard(df: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    val perDoc = df.select(
      col(sourceCol).cast("string").as("source"),
      tokenCount(col(textCol)).cast("long").as("__nt"),
      langId(col(textCol)).as("__lang"),
      md5(col(textCol)).as("__h"))
    def langN(l: String) =
      sum((col("__lang") === l).cast("long")).as(s"n_lang_$l")
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("n_tokens"),
        max(col("__nt")).as("max_doc_tokens"),
        (count(lit(1)) - countDistinct(col("__h")))
          .as("n_exact_dup_docs"),
        langN("en"), langN("de"), langN("es"),
        sum((col("__lang") === "unknown").cast("long"))
          .as("n_lang_unknown"))
  }

  /** TOKENIZER FERTILITY REPORT — the per-language cost card every
    * tokenizer evaluation publishes (how many subword pieces per word,
    * how many characters per piece): languages a tokenizer serves
    * badly (high fertility) pay more sequence length per unit of text,
    * which skews both training cost and effective mixture weights.
    * Computed here for the [[tokenCount]] whitespace tokenizer vs the
    * [[bpeTokenCount]] subword proxy — swap in [[encodeTokens]] counts
    * for a learned vocab's true fertility. All ratios are exact
    * integer milli (`(a · 1000) div b`) so any engine replays the same
    * integers from the same counts.
    *
    * Scale shape: ONE map-side-combined aggregation riding the corpus
    * scan — the counting expressions are codegen'd Columns, shuffle is
    * |languages| rows.
    *
    * @return per langCol: (lang, n_docs, n_words, n_pieces, n_chars,
    *         pieces_per_word_milli, chars_per_piece_milli,
    *         chars_per_word_milli) */
  def fertilityReport(df: DataFrame, langCol: String,
      textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(col(langCol).cast("string").as("lang"),
        tokenCount(t).cast("long").as("__w"),
        bpeTokenCount(t).cast("long").as("__p"),
        length(t).cast("long").as("__c"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__w")).as("n_words"),
        sum(col("__p")).as("n_pieces"),
        sum(col("__c")).as("n_chars"))
      .withColumn("pieces_per_word_milli",
        expr("(n_pieces * 1000) div n_words"))
      .withColumn("chars_per_piece_milli",
        expr("(n_chars * 1000) div n_pieces"))
      .withColumn("chars_per_word_milli",
        expr("(n_chars * 1000) div n_words"))
  }

  /** Quality features + a composite score. Formula kept to
    * threshold-terms and single-division ratios so every engine computes
    * identical doubles. */
  def qualityFeatures(text: Column): Column = {
    val nChars = length(text)
    val nTokens = tokenCount(text)
    val punct = length(regexp_replace(text, lit("[\\w\\s]"), lit("")))
    val digits = length(regexp_replace(text, lit("[^0-9]"), lit("")))
    val enHits = langScore(split(trim(text), "\\s+"), stopwords("en"))
    val punctRatio = punct.cast("double") / nChars
    val digitRatio = digits.cast("double") / nChars
    val stopRatio = enHits.cast("double") / nTokens
    // threshold points summed as INTEGERS, one *0.1 then one +: exactly
    // two FP ops — an all-double chain picks up ulp drift from constant
    // folding/association and breaks cross-engine equality
    val points =
      when(nTokens >= 20 && nTokens <= 5000, lit(4)).otherwise(lit(0)) +
        when(punctRatio < 0.1, lit(3)).otherwise(lit(0)) +
        when(digitRatio < 0.2, lit(1)).otherwise(lit(0))
    val score = points.cast("double") * 0.1 + stopRatio * 0.2
    struct(nTokens.as("n_tokens"), punctRatio.as("punct_ratio"),
      digitRatio.as("digit_ratio"), stopRatio.as("stopword_ratio"),
      score.as("quality"))
  }

  /** The DOCUMENT-LEVEL Gopher quality rules ("Scaling Language
    * Models: ... Gopher", Rae et al. 2021, §A1.1) that
    * [[repetitionSignals]] doesn't cover — the published web-corpus
    * filter set next to [[qualityFeatures]]'s generic score:
    * word-count bounds [50, 100k], mean word length in [3, 10],
    * symbol-to-word ratio (`#` + `...`) ≤ 0.1, ≤ 90% of lines starting
    * with a bullet, ≤ 30% of lines ending in an ellipsis, ≥ 80% of
    * words containing an alphabetic character, and ≥ 2 of the 8
    * required English stopwords (the/be/to/of/and/that/have/with).
    *
    * Emits the raw signals AND per-rule booleans (plus the conjunction)
    * rather than filtering — curation pipelines publish the per-rule
    * audit next to the drop decision. Every ratio is one IEEE division
    * of exact integers and every count is integer math (`...` counts
    * are non-overlapping replace-deltas, the convention shared with the
    * oracle), so any engine restates every flag bit-exactly (q145).
    * Pure map — rides the corpus scan, no shuffle. Null text scores
    * like empty text.
    */
  def gopherRules(textIn: Column): Column = {
    val text = coalesce(textIn, lit(""))
    val w = split(trim(text), "\\s+")
    val nWords = size(w)
    val meanWordLen =
      aggregate(w, lit(0L), (acc, x) => acc + length(x)).cast("double") /
        nWords
    // non-overlapping occurrence counts via replace-length deltas
    val nHash = length(text) - length(regexp_replace(text, "#", ""))
    val nEllipsis =
      (length(text) - length(regexp_replace(text, "\\.\\.\\.", ""))) / 3
    val symbolRatio = (nHash + nEllipsis).cast("double") / nWords
    val lines = split(text, "\n")
    val nLines = size(lines)
    val bulletLines = size(filter(lines, l =>
      substring(ltrim(l), 1, 1).isin("-", "*", "•")))
    val ellipsisLines = size(filter(lines, l =>
      endswith(rtrim(l), lit("..."))))
    val alphaWords = size(filter(w, x => x.rlike("[A-Za-z]")))
    val required = Seq("the", "be", "to", "of", "and", "that", "have",
      "with")
    val nRequired = size(array_intersect(
      array_distinct(transform(w, x => lower(x))),
      array(required.map(lit): _*)))
    val bulletRatio = bulletLines.cast("double") / nLines
    val ellipsisRatio = ellipsisLines.cast("double") / nLines
    val alphaRatio = alphaWords.cast("double") / nWords
    val rWordCount = nWords >= 50 && nWords <= 100000
    val rMeanLen = meanWordLen >= 3.0 && meanWordLen <= 10.0
    val rSymbol = symbolRatio <= 0.1
    val rBullet = bulletRatio <= 0.9
    val rEllipsis = ellipsisRatio <= 0.3
    val rAlpha = alphaRatio >= 0.8
    val rStop = nRequired >= 2
    struct(nWords.as("n_words"), meanWordLen.as("mean_word_len"),
      symbolRatio.as("symbol_ratio"), bulletRatio.as("bullet_line_ratio"),
      ellipsisRatio.as("ellipsis_line_ratio"),
      alphaRatio.as("alpha_word_ratio"),
      nRequired.as("n_required_stopwords"),
      rWordCount.as("r_word_count"), rMeanLen.as("r_mean_word_len"),
      rSymbol.as("r_symbol_ratio"), rBullet.as("r_bullet_lines"),
      rEllipsis.as("r_ellipsis_lines"), rAlpha.as("r_alpha_words"),
      rStop.as("r_stopwords"),
      (rWordCount && rMeanLen && rSymbol && rBullet && rEllipsis &&
        rAlpha && rStop).as("passes_gopher"))
  }

  /** CODE-corpus quality flags — the published The Stack / StarCoder
    * file filters, the code-side sibling of [[gopherRules]]: max line
    * length ≤ 1000, mean line length ≤ 100, alphanumeric-character
    * fraction ≥ 0.25, no auto-generation marker, no long base64/hex
    * data blob (≥ 64 chars — minified data posing as code). Emits raw
    * signals + per-rule booleans + the conjunction; ratios are exact
    * integer divisions and the marker/blob probes are fixed regex/
    * substring tests, so any engine restates every flag (q148).
    * Pure map riding the corpus scan. Null text scores like empty.
    */
  def codeQualityFlags(textIn: Column): Column = {
    val text = coalesce(textIn, lit(""))
    val lines = split(text, "\n")
    val nLines = size(lines)
    val maxLine = array_max(transform(lines, l => length(l)))
    val sumLine = aggregate(lines, lit(0L), (acc, l) => acc + length(l))
    val meanLine = sumLine.cast("double") / nLines
    val nChars = length(text)
    val nAlnum = length(regexp_replace(text, "[^A-Za-z0-9]", ""))
    // guard: empty text has 0 chars — score fraction 0, not NaN
    val alnumFrac = when(nChars > 0,
      nAlnum.cast("double") / nChars).otherwise(lit(0.0))
    val lowered = lower(text)
    val autogen = Seq("auto-generated", "autogenerated",
        "automatically generated", "do not edit", "generated by")
      .map(m => contains(lowered, lit(m))).reduce(_ || _)
    val dataBlob = text.rlike("[A-Za-z0-9+/=]{64,}")
    val rMaxLine = maxLine <= 1000
    val rMeanLine = meanLine <= 100.0
    val rAlnum = alnumFrac >= 0.25
    val rNotAutogen = !autogen
    val rNoBlob = !dataBlob
    struct(nLines.as("n_lines"), maxLine.as("max_line_len"),
      meanLine.as("mean_line_len"), alnumFrac.as("alnum_frac"),
      autogen.as("has_autogen_marker"), dataBlob.as("has_data_blob"),
      rMaxLine.as("r_max_line"), rMeanLine.as("r_mean_line"),
      rAlnum.as("r_alnum_frac"), rNotAutogen.as("r_not_autogen"),
      rNoBlob.as("r_no_data_blob"),
      (rMaxLine && rMeanLine && rAlnum && rNotAutogen && rNoBlob)
        .as("passes_code_filters"))
  }

  /** Top-k characteristic terms per document by tf·idf with a LOG-FREE
    * idf (`tf · N / df` — linear inverse document frequency): integer
    * products and one IEEE division are exactly rounded, so the scores
    * (and hence the ranking) are bit-identical on any engine — `ln`
    * is not correctly-rounded and would drift in the last ulp. Swap
    * `log(N/df)` in when cross-engine equality doesn't matter.
    *
    * Shape: one tokenize+groupBy per doc (map-side combined), then a
    * term-keyed join against the document-frequency table, one window
    * for top-k. The df join is deliberately unhinted: vocabulary size is
    * unbounded on web corpora (typos, ids, urls), so a forced broadcast
    * is an eventual OOM — AQE still broadcasts when the vocab is small.
    * `minDf` prunes hapax/rare terms BEFORE the join (standard practice;
    * shrinks both join sides and the window input). Ties broken by term
    * (asc) for determinism.
    *
    * @param minDf drop terms appearing in fewer than this many docs
    *              (1 = keep everything, the cross-engine-oracle setting) */
  def tfIdfTop(df: DataFrame, idCol: String, textCol: String,
      k: Int, minDf: Long = 1L): DataFrame = {
    val toks = df.select(col(idCol),
      explode(split(trim(col(textCol)), "\\s+")).as("term"))
    // localCheckpoint, not persist: tf feeds docFreq AND the scoring
    // join (one tokenize pass), and its blocks free on GC instead of
    // pinning in the session cache across invocations
    val tf = toks.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf")).materialized
    // tf already holds one row per (doc, term) — df comes from the
    // aggregated side, not a second tokenize+explode pass over the corpus
    val docFreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val total = df.select(count(lit(1)).as("__n"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(docFreq, "term")
      .crossJoin(broadcast(total))
      .withColumn("score", col("tf") * col("__n") / col("df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("score"), col("rank"))
  }

  /** Deflate compression ratio as a REDUNDANCY signal — the
    * Dolma/RefinedWeb-family quality filter next to the Gopher
    * repetition fractions ([[repetitionSignals]]): template chrome,
    * keyword stuffing, and boilerplate-heavy pages compress far below
    * natural prose, so a low ratio (compressed/raw) flags machine-
    * generated redundancy that n-gram fractions can miss (long-range
    * structure), and a ratio near/above 1 flags high-entropy noise
    * (binary junk, encrypted blobs) posing as text.
    *
    * Shape: pure map over the corpus scan via `mapPartitions` — ONE
    * `java.util.zip.Deflater` per partition, `reset()` between
    * documents (allocating a native zlib stream per row is the classic
    * perf bug). No shuffle; rides the scan at 100 TB like the other
    * text signals. The compressed SIZE is deterministic for a given
    * zlib build but NOT an engine-portable constant — oracle checks
    * gate on corpus-level verdicts (q92), never on raw deflate bytes.
    *
    * @return (idCol, n_bytes, n_deflate, deflate_ratio); empty text
    *         scores ratio 0 (header-only output is skipped, not
    *         divided by zero).
    */
  def deflateRatio(df: DataFrame, idCol: String, textCol: String,
      level: Int = 6): DataFrame = {
    require(level >= 1 && level <= 9, s"level must be in [1,9], got $level")
    val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.STRING)
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)](enc)
      .mapPartitions { it =>
        val d = new java.util.zip.Deflater(level)
        val buf = new Array[Byte](64 * 1024)
        it.map { case (id, text) =>
          // null text scores like empty text instead of NPE-ing the scan
          val raw =
            if (text == null) Array.empty[Byte]
            else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          if (raw.isEmpty) DeflateRow(id, 0L, 0L, 0.0)
          else {
            d.reset(); d.setInput(raw); d.finish()
            var out = 0L
            while (!d.finished()) out += d.deflate(buf)
            DeflateRow(id, raw.length.toLong, out,
              out.toDouble / raw.length)
          }
        }
      }(org.apache.spark.sql.Encoders.product[DeflateRow])
      .toDF(idCol, "n_bytes", "n_deflate", "deflate_ratio")
  }

  /** Order-insensitive content fingerprint: md5 of the sorted distinct
    * token bag — catches reshuffled/re-wrapped duplicates that exact
    * hashing misses, at one shuffle (engine-portable, unlike xxhash). */
  def bagFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(split(trim(text), "\\s+")))))

  /** Rolling-hash fingerprint: minimum xxhash64 over all k-character
    * shingles of the document (winnowing's global-window degenerate
    * case; per-window minima at scale). Not engine-portable (xxhash64);
    * rows-only checked. */
  def minHashFingerprint(text: Column, k: Int = 8): Column = {
    val n = length(text) - (k - 1)
    array_min(transform(sequence(lit(1), greatest(n, lit(1))),
      i => xxhash64(text.substr(i, lit(k)))))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003 —
    * the MOSS algorithm): k-gram hashes, sliding windows of `w`
    * consecutive hashes, one minimum kept per window, distinct minima
    * as the document's fingerprint set. Guarantees any shared substring
    * of length ≥ w+k-1 contributes a shared fingerprint, at expected
    * density 2/(w+1) — the local-similarity detector that whole-doc
    * hashing (bag/rolling min) can't provide.
    *
    * Portable hash (md5-60) so an external engine restates the exact
    * set. Production path is the native [[graft.functions.HashSketches
    * .winnowing]] sketch — one O(n) loop per document (monotonic-deque
    * sliding min); the HOF construction ([[winnowingFingerprintsHof]])
    * pays ~n interpreted md5/conv string expressions plus an O(n·w)
    * slice-copy window pass (measured 9 s vs sub-second at sf0.1) and
    * remains as the parity reference.
    *
    * Pure map at any scale; docs shorter than k yield no rows.
    */
  def winnowingFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 12, w: Int = 16): DataFrame =
    Materialize.widened(df) // O(n)-per-doc sketch: never on one task
      .filter(length(col(textCol)) >= k)
      .select(col(idCol),
        explode(graft.functions.HashSketches.winnowing(col(textCol), k, w))
          .as("fp"))

  /** Column-form twin of [[winnowingFingerprints]] — parity reference
    * for the native sketch (tested set-equal in CorpusOpsSpec). */
  private[graft] def winnowingFingerprintsHof(df: DataFrame, idCol: String,
      textCol: String, k: Int, w: Int): DataFrame = {
    val text = col(textCol)
    df.filter(length(text) >= k)
      .select(col(idCol),
        transform(sequence(lit(1), length(text) - (k - 1)),
          i => Dedup.md5Hash60(text.substr(i, lit(k)))).as("__hs"))
      .select(col(idCol),
        explode(array_distinct(transform(
          sequence(lit(1), greatest(size(col("__hs")) - (w - 1), lit(1))),
          j => array_min(slice(col("__hs"), j, lit(w)))))).as("fp"))
  }

  /** PII scrubbing: email and phone-number patterns replaced with
    * typed placeholder tokens, plus per-document match counts (the
    * audit trail a curation run keeps). Pure map — no shuffle, no
    * state; at 100 TB this is a free rider on any existing scan.
    *
    * Patterns deliberately use only syntax shared by Java regex and
    * RE2 (no backrefs, no lookaround) so an external engine restates
    * the scrub byte-for-byte.
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\+?[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{2,4}[- ][0-9]{2,4}"

  /** (redacted text, email count, phone count) as a struct column.
    * Emails scrub FIRST: an address's local part may contain digit
    * runs that the phone pattern would otherwise split. */
  def redactPii(text: Column): Column = {
    val nEmail = size(regexp_extract_all(text, lit(emailPattern), lit(0)))
    val noEmail = regexp_replace(text, lit(emailPattern), lit("<EMAIL>"))
    val nPhone = size(regexp_extract_all(noEmail, lit(phonePattern), lit(0)))
    val clean = regexp_replace(noEmail, lit(phonePattern), lit("<PHONE>"))
    struct(clean.as("redacted"), nEmail.as("n_emails"),
      nPhone.as("n_phones"))
  }

  /** Near-dup pairs by SHARED WINNOWING FINGERPRINTS: documents with ≥
    * `minShared` common fingerprints are pairs, scored by the shared
    * count. Detects LOCAL overlap (a lifted paragraph, a shared
    * boilerplate block ≥ w+k-1 chars) that whole-document Jaccard
    * dilutes away — the containment-style complement to
    * [[graft.ops.Dedup.ngramJaccardPairs]]. Unlike LSH candidate
    * generation this is DETERMINISTIC (winnowing is exact), so the
    * full output is oracle-checkable, not recall-gated.
    *
    * Shape: fingerprint map → document-frequency prune → fp-key
    * equality self-join → count per pair. `maxDocFreq` drops
    * boilerplate fingerprints shared by more than that many documents
    * BEFORE the join (the analog of tf·idf's min-df prune): a
    * fingerprint in F docs contributes F² join rows, so ubiquitous
    * snippets — licence headers, navigation chrome — would otherwise
    * quadratically dominate cost while carrying no dedup signal.
    */
  def winnowingPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 12, w: Int = 16, minShared: Int = 2,
      maxDocFreq: Long = 100L): DataFrame = {
    // the fingerprint map feeds the freq agg AND both self-join sides —
    // localCheckpoint (not persist: blocks free on GC instead of
    // pinning the session cache across invocations, same rationale as
    // tfIdfTop) or the sketch scan runs 4×
    val fps = winnowingFingerprints(df, idCol, textCol, k, w)
      .materialized
    // document frequency per fingerprint; rare AND sub-boilerplate ones
    // survive (freq 1 can't form a pair — dropping it halves join input)
    val kept = fps.join(
      fps.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
        .filter(col("__df") >= 2 && col("__df") <= maxDocFreq)
        .select(col("fp")),
      "fp").materialized
    val a = kept.alias("a")
    val b = kept.alias("b")
    a.join(b, col("a.fp") === col("b.fp")
        && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Repetition signals — the Gopher-family quality filters ("Scaling
    * Language Models: ... Gopher", Rae et al. 2021, §A1.1): excessive
    * word repetition and a dominant repeated n-gram mark boilerplate /
    * spam / degenerate generations that length+punctuation gates miss.
    *
    *  - `dup_word_frac`  = (n_words − n_distinct_words) / n_words
    *  - `top_bigram_frac` = occurrences of the most frequent word
    *    bigram / total bigrams (ties → lexicographically first bigram)
    *  - `flagged` = dup_word_frac > 0.8 ∨ top_bigram_frac > 0.18
    *
    * All counts are integers and each fraction is one IEEE division, so
    * any engine restates identical bits. Shape: per-doc word stats are a
    * pure map; the bigram top-1 is explode → count → one `min(struct)`
    * aggregation per doc — two map-side-combined hash aggregations, no
    * window sort, per-group state O(1). At 100 TB both shuffles carry
    * (doc, bigram)-grain counts, bounded by corpus token count.
    */
  def repetitionSignals(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val words = df.select(col(idCol),
      split(trim(col(textCol)), "\\s+").as("__w"))
    val stats = words.select(col(idCol),
      size(col("__w")).as("n_words"),
      size(array_distinct(col("__w"))).as("n_distinct_words"))
    // sequence(1, n) DESCENDS when n < 1, so single-word docs must gate
    // to an explicit empty array (explode then drops them; the left
    // join below re-attaches null top-bigram columns)
    val bigrams = words.select(col(idCol),
      explode(when(size(col("__w")) >= 2,
        transform(sequence(lit(1), size(col("__w")) - 1),
          i => concat_ws(" ", element_at(col("__w"), i),
            element_at(col("__w"), i + 1))))
        .otherwise(array())).as("bigram"))
    val counts = bigrams.groupBy(col(idCol), col("bigram"))
      .agg(count(lit(1)).as("n"))
    // min over struct(-n, bigram) = (highest count, first bigram) —
    // deterministic top-1 without a per-doc window sort
    val top = counts
      .groupBy(col(idCol))
      .agg(min(struct((-col("n")).as("__negn"), col("bigram"), col("n")))
        .as("__t"))
      .select(col(idCol), col("__t.bigram").as("top_bigram"),
        col("__t.n").as("top_bigram_n"))
    val dupFrac = (col("n_words") - col("n_distinct_words")) * lit(1.0) /
      col("n_words")
    val topFrac = col("top_bigram_n") * lit(1.0) / (col("n_words") - 1)
    stats.join(top, Seq(idCol), "left")
      .select(col(idCol), col("n_words"), col("n_distinct_words"),
        when(col("n_words") > 0, dupFrac).as("dup_word_frac"),
        col("top_bigram"), col("top_bigram_n"),
        when(col("n_words") > 1, topFrac).as("top_bigram_frac"))
      .withColumn("flagged",
        col("dup_word_frac") > 0.8 || col("top_bigram_frac") > 0.18)
  }

  /** FULL Gopher duplicated-n-gram character fractions (Rae et al.
    * 2021 §A1.1 — the repetition half [[repetitionSignals]]'s
    * word-level signals don't cover): for n in 2..4 the fraction of
    * characters contained in the MOST FREQUENT n-gram
    * (count·chars(gram) / chars(doc)), for n in 5..10 the fraction of
    * characters covered by ALL duplicated n-grams (Σ over grams with
    * count ≥ 2 of count·chars(gram) / chars(doc)). Character counts
    * include the joining spaces, chars(doc) is the whitespace-
    * normalized length, and OVERLAPPING occurrences double-count —
    * the deterministic variant (the paper's position-marking coverage
    * needs per-doc sequential state; this form is exact integer
    * arithmetic any engine restates, and the standard practical
    * approximation). Fractions can exceed 1.0 for pathologically
    * repetitive docs — callers threshold, they don't sum. The top
    * n-gram contributes only when it actually REPEATS (count ≥ 2):
    * a fully diverse short doc scores 0, not len(one gram)/len(doc).
    *
    * `flagged` = any paper threshold exceeded: top {2,3,4}-gram >
    * {0.20, 0.18, 0.16}; dup {5..10}-gram > {0.15, 0.14, 0.13, 0.12,
    * 0.11, 0.10}.
    *
    * Scale shape: a two-level explode — (doc × 9 n-values, each row
    * carrying the words array once) then the per-n gram windows — into
    * a map-side-combined (doc, n, gram) count, a (doc, n) struct-min
    * extrema + conditional sum (deterministic top-1, no window), and a
    * conditional-agg pivot back to doc grain; the only join re-attaches
    * gram-free docs (single-word/empty). Every fraction is ONE IEEE
    * division of exact integer sums — bit-identical cross-engine
    * (q158's DuckDB twin).
    */
  def ngramRepetitionSignals(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val base = df
      .select(col(idCol),
        split(trim(coalesce(col(textCol), lit(""))), "\\s+").as("__w"))
      .select(col(idCol), col("__w"),
        length(concat_ws(" ", col("__w"))).cast("long").as("n_chars_norm"))
    val byN = base
      .select(col(idCol), col("n_chars_norm"), col("__w"),
        explode(sequence(lit(2), lit(10))).as("n"))
      .filter(size(col("__w")) >= col("n"))
    val grams = byN.select(col(idCol), col("n_chars_norm"), col("n"),
      explode(transform(sequence(lit(1), size(col("__w")) - col("n") + 1),
        i => concat_ws(" ", slice(col("__w"), i, col("n"))))).as("gram"))
    val counts = grams
      .groupBy(col(idCol), col("n_chars_norm"), col("n"), col("gram"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__chars", col("__cnt") * length(col("gram")).cast("long"))
    // per (doc, n): min over struct(-cnt, gram, chars) = the (highest
    // count, first gram)'s char mass — deterministic top-1 without a
    // per-doc window (the repetitionSignals trick)
    val perN = counts.groupBy(col(idCol), col("n_chars_norm"), col("n"))
      .agg(
        min(struct((-col("__cnt")).as("__negn"), col("gram"),
          col("__chars"))).as("__top"),
        sum(when(col("__cnt") >= 2, col("__chars")).otherwise(0L))
          .as("__dup_chars"))
      // the top gram counts only when it actually REPEATS (count ≥ 2)
      // — a fully diverse doc scores 0, matching the published filters
      .select(col(idCol), col("n_chars_norm"), col("n"),
        when(-col("__top.__negn") >= 2, col("__top.__chars"))
          .otherwise(0L).as("__top_chars"),
        col("__dup_chars"))
    val topNs = Seq(2, 3, 4)
    val dupNs = Seq(5, 6, 7, 8, 9, 10)
    val pivotAggs =
      topNs.map(n => max(when(col("n") === n, col("__top_chars")))
        .as(s"__t$n")) ++
      dupNs.map(n => max(when(col("n") === n, col("__dup_chars")))
        .as(s"__d$n"))
    val pivoted = perN.groupBy(col(idCol))
      .agg(pivotAggs.head, pivotAggs.tail: _*)
    def frac(chars: Column): Column =
      when(col("n_chars_norm") > 0,
        coalesce(chars, lit(0L)).cast("double") /
          col("n_chars_norm").cast("double"))
        .otherwise(lit(0.0))
    val thresholds = Map(2 -> 0.20, 3 -> 0.18, 4 -> 0.16,
      5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11, 10 -> 0.10)
    val fracCols =
      topNs.map(n => frac(col(s"__t$n")).as(s"top_${n}gram_frac")) ++
      dupNs.map(n => frac(col(s"__d$n")).as(s"dup_${n}gram_frac"))
    val flagged = (topNs.map(n => s"top_${n}gram_frac") ++
      dupNs.map(n => s"dup_${n}gram_frac")).zip(topNs ++ dupNs)
      .map { case (c, n) => col(c) > lit(thresholds(n)) }
      .reduce(_ || _)
    base.select(col(idCol), col("n_chars_norm"))
      .join(pivoted, Seq(idCol), "left")
      .select((col(idCol) +: col("n_chars_norm") +: fracCols): _*)
      .withColumn("flagged", flagged)
  }

  /** RULE-BASED line-wise quality filter — the RefinedWeb/Dolma "line
    * correction" pass (Penedo et al. 2023 §3.2: remove chrome-like
    * LINES, then drop the document if the edit removed too much),
    * complementary to the frequency-based [[stripBoilerplateLines]]
    * (which needs a corpus pass; this is pure per-doc rules). A
    * non-blank line drops when it is (a) shorter than `minChars`,
    * (b) ALL-CAPS (has an ASCII letter and uppercasing is identity —
    * nav/menu chrome), (c) numeric/date-like (only digits and
    * `[ .,:%/-]`, at least one digit), or (d) a social counter
    * (`"12 likes"` — the RefinedWeb example). Blank lines always
    * survive so paragraph structure does (the [[dedupDocLines]]
    * convention). `doc_flagged` = removed fraction > `maxRemovedFrac`
    * — the "document was mostly chrome" verdict.
    *
    * Pure map riding the corpus scan (one HOF filter per doc, no
    * shuffle); every regex is in the Java∩RE2 dialect and the fraction
    * is ONE IEEE division of exact counts, so q165's DuckDB twin
    * restates the whole edit byte-for-byte.
    *
    * @return (idCol, clean_text, n_lines, n_removed, removed_frac,
    *         doc_flagged)
    */
  def lineQualitySignals(df: DataFrame, idCol: String, textCol: String,
      minChars: Int = 3, maxRemovedFrac: Double = 0.5): DataFrame = {
    require(minChars >= 1, s"minChars must be >= 1, got $minChars")
    val lines = split(coalesce(col(textCol), lit("")), "\n", -1)
    def dropLine(x: Column): Column = {
      val t = trim(x)
      (length(t) > 0) && (
        (length(t) < minChars) ||
        (x.rlike("[A-Za-z]") && x === upper(x)) ||
        (t.rlike("^[0-9 .,:%/-]+$") && t.rlike("[0-9]")) ||
        t.rlike("(?i)^[0-9]+ (likes|shares|comments|views|points|upvotes)$"))
    }
    df.select(col(idCol), lines.as("__ls"))
      .select(col(idCol), col("__ls"),
        filter(col("__ls"), x => !dropLine(x)).as("__kept"))
      .select(col(idCol),
        array_join(col("__kept"), "\n").as("clean_text"),
        size(col("__ls")).cast("long").as("n_lines"),
        (size(col("__ls")) - size(col("__kept"))).cast("long")
          .as("n_removed"))
      .withColumn("removed_frac",
        when(col("n_lines") > 0,
          col("n_removed").cast("double") / col("n_lines").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("doc_flagged", col("removed_frac") > maxRemovedFrac)
  }

  /** WORD-BLOCKLIST signals — the C4 "bad words" document filter
    * (Raffel et al. 2020: drop any page containing a lexicon word):
    * tokens are lowercased and stripped of leading/trailing
    * non-alphanumerics (so `"Word!"` matches `word`), then matched
    * against the caller's lexicon. Emits the hit count, the sorted
    * distinct matched words (space-joined — deterministic and
    * hash-comparable), and the drop flag; the caller supplies the
    * lexicon, the operator is policy-free.
    *
    * Scale shape: the lexicon rides as ONE array literal in the
    * codegen'd filter (lexicon-sized, model-sized at worst) and the
    * whole operator is a pure map on the scan — no shuffle, no join.
    * For lexicons too big for a literal, swap the `array_contains`
    * for a broadcast-set lookup behind the same contract.
    *
    * @return (idCol, n_hits, matched_words, flagged)
    */
  def blocklistHits(df: DataFrame, idCol: String, textCol: String,
      words: Seq[String]): DataFrame = {
    require(words.nonEmpty, "blocklist must be non-empty")
    val lex = words.map(_.toLowerCase).distinct.sorted
    val toks = split(trim(coalesce(col(textCol), lit(""))), "\\s+")
    val norm = transform(toks, x =>
      regexp_replace(regexp_replace(lower(x), "^[^a-z0-9]+", ""),
        "[^a-z0-9]+$", ""))
    val hits = filter(norm, x => array_contains(typedLit(lex), x))
    df.select(col(idCol), hits.as("__h"))
      .select(col(idCol),
        size(col("__h")).cast("long").as("n_hits"),
        array_join(array_sort(array_distinct(col("__h"))), " ")
          .as("matched_words"),
        (size(col("__h")) > 0).as("flagged"))
  }

  /** BPE MERGE LEARNING — byte-pair-encoding vocabulary induction
    * (Sennrich et al. 2016, public knowledge), the step that turns a
    * raw corpus into the subword merge table a tokenizer ships with.
    * Classic formulation: train on the (word, frequency) table; each
    * round promotes the most frequent adjacent symbol pair to a new
    * symbol and rewrites every word.
    *
    * Merge-application semantics — pinned, cross-engine: a round
    * rewrites the space-joined symbol string via
    * `replace(' L R ' → ' LR ')` on the ' '-wrapped form, i.e.
    * left-to-right non-overlapping with the scan resuming AFTER each
    * replacement (the shared separator space is consumed). Where the
    * pair occurs in immediate succession the consumed separator blocks
    * the next occurrence within the SAME round — 'a b a b' → 'ab a b',
    * 'a a a a' → 'aa a a' — and the leftover merges in a later round
    * when that pair wins again, so rounds under-merge relative to the
    * Python reference loop but the induction still converges. Accepted
    * deliberately: the semantics are deterministic, identical between
    * Spark's `replace` and DuckDB's (q115/q116 restate whole rounds),
    * and learn a valid merge ordering. Pinned by spec.
    *
    * Scale shape: the corpus collapses to the DISTINCT-word frequency
    * table in one map-side-combined count (the only corpus-sized pass);
    * each round is one pair-count aggregation over that table (explode
    * adjacent pairs, hash agg), a 1-row TakeOrdered argmax, and a pure
    * codegen'd rewrite map, with the frame re-materialized per round so
    * round cost stays O(1) passes (the iterative-clustering pattern).
    * Only `numMerges` rows ever reach the driver. At real vocab sizes
    * the one-job-per-merge loop IS the bottleneck (32k merges = 32k
    * sequential jobs) — [[learnBpeMergesBatched]] is the scale path,
    * promoting up to B symbol-disjoint merges per round.
    *
    * @return (merge_rank from 1, lhs, rhs, merged, pair_count) —
    *         fewer than numMerges rows when the pair space dries up
    */
  def learnBpeMerges(df: DataFrame, textCol: String,
      numMerges: Int): DataFrame = {
    val spark = df.sparkSession
    val merges = learnBpeMergesLocal(df, textCol, numMerges)
    import spark.implicits._
    merges.toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
  }

  /** BATCHED BPE learning — the scale path of [[learnBpeMerges]]: the
    * sequential trainer runs one pair-count aggregation + one rewrite
    * per MERGE (a real 32k-merge vocab = 32k sequential Spark jobs —
    * the r7 watch item), while this variant promotes up to `batchSize`
    * merges per ROUND, so round count ≈ numMerges / accepted-per-round
    * and a 32k vocab trains in a few hundred passes.
    *
    * Within a round, the top-`batchSize` pairs by (count desc, l, r)
    * are filtered GREEDILY to a symbol-disjoint prefix set: a pair is
    * accepted only if none of {lhs, rhs, lhs+rhs} was touched by an
    * already-accepted pair this round. Disjointness makes the round
    * sound: replacing ' l r ' for one accepted pair cannot create,
    * destroy, or consume an adjacency of any other (no shared symbol
    * ⇒ no shared or flanking position), so every accepted pair's
    * pre-round count is still exact when its rewrite applies, and the
    * chained replaces commute. Batching is still an APPROXIMATION of
    * the strict greedy order — a merge may spawn a new pair whose
    * count exceeds a later-accepted pair's (new-pair count ≤ the
    * spawning pair's count, but not ≤ the next accepted one's) — the
    * same exact-baseline/scale-path split as brute-force vs IVF ANN.
    * `batchSize = 1` degenerates to [[learnBpeMerges]] exactly
    * (spec-pinned), and q217 pins one full B=4 round cross-engine.
    *
    * Worst case (all top-B pairs share symbols) accepts 1 pair/round
    * — the sequential bound, never worse.
    *
    * @return (merge_rank from 1, round from 1, lhs, rhs, merged,
    *         pair_count) — merge_rank preserves in-round acceptance
    *         order, so dropping `round` yields a [[bpeSegment]]-ready
    *         merge table */
  def learnBpeMergesBatched(df: DataFrame, textCol: String,
      numMerges: Int, batchSize: Int): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    val spark = df.sparkSession
    var cur = wordSymbols(df, textCol).materialized
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int, String, String, String, Long)]
    var rank = 1
    var round = 1
    var dry = false
    while (rank <= numMerges && !dry) {
      val want = math.min(batchSize, numMerges - rank + 1)
      val top = symbolPairCounts(cur)
        .orderBy(col("__cnt").desc, col("__l").asc, col("__r").asc)
        .limit(want).collect()
      if (top.isEmpty) dry = true
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val accepted = scala.collection.mutable.ArrayBuffer
          .empty[(String, String, Long)]
        top.foreach { row =>
          val (l, r, c) =
            (row.getString(0), row.getString(1), row.getLong(2))
          val syms = Seq(l, r, l + r)
          if (syms.forall(s => !used.contains(s))) {
            used ++= syms
            accepted += ((l, r, c))
          }
        }
        accepted.foreach { case (l, r, c) =>
          out += ((rank, round, l, r, l + r, c))
          rank += 1
        }
        cur = accepted.foldLeft(cur) { case (df0, (l, r, _)) =>
          df0.withColumn("__sym", call_function("replace", col("__sym"),
            lit(s" $l $r "), lit(s" $l$r ")))
        }.materialized
        round += 1
      }
    }
    import spark.implicits._
    out.toSeq
      .toDF("merge_rank", "round", "lhs", "rhs", "merged", "pair_count")
  }

  private[ops] def learnBpeMergesLocal(df: DataFrame, textCol: String,
      numMerges: Int): Seq[(Int, String, String, String, Long)] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    var cur = wordSymbols(df, textCol).materialized
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var rank = 1
    var dry = false
    while (rank <= numMerges && !dry) {
      val best = symbolPairCounts(cur)
        .orderBy(col("__cnt").desc, col("__l").asc, col("__r").asc)
        .limit(1).collect()
      if (best.isEmpty) dry = true
      else {
        val (l, r, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        out += ((rank, l, r, l + r, cnt))
        cur = cur.withColumn("__sym",
            call_function("replace", col("__sym"),
              lit(s" $l $r "), lit(s" $l$r ")))
          .materialized
        rank += 1
      }
    }
    out.toSeq
  }

  /** (word, freq, ' c h a r s ') — the ' '-wrapped symbol string the
    * merge rounds rewrite. Character split is code-point-based in both
    * Spark (UTF8String) and DuckDB. */
  private def wordSymbols(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(trim(col(textCol)), "\\s+")).as("__word"))
      .filter(length(col("__word")) > 0)
      .groupBy(col("__word")).agg(count(lit(1)).as("__freq"))
      .withColumn("__sym", concat(lit(" "),
        concat_ws(" ", transform(sequence(lit(1), length(col("__word"))),
          i => col("__word").substr(i, lit(1)))), lit(" ")))

  private def symbolPairCounts(cur: DataFrame): DataFrame =
    cur.select(col("__freq"), split(trim(col("__sym")), " ").as("__ss"))
      .filter(size(col("__ss")) >= 2)
      .select(col("__freq"), explode(
        transform(sequence(lit(1), size(col("__ss")) - 1),
          i => struct(element_at(col("__ss"), i).as("__l"),
            element_at(col("__ss"), i + 1).as("__r")))).as("__p"))
      .groupBy(col("__p.__l").as("__l"), col("__p.__r").as("__r"))
      .agg(sum(col("__freq")).as("__cnt"))

  /** BPE SEGMENTATION — the consumer of [[learnBpeMerges]]: every
    * distinct corpus word rewritten by the learned merges in rank
    * order (same pinned replace semantics), emitted with its final
    * symbol count. The merge table is model-sized (bounded collect,
    * the vocab-broadcast pattern); application is `numMerges` chained
    * codegen'd replaces over the distinct-word table — no shuffle
    * beyond the word count itself.
    *
    * @return (word, freq, segments — space-joined, n_segments)
    */
  def bpeSegment(df: DataFrame, textCol: String,
      merges: DataFrame): DataFrame = {
    val ms = merges
      .select(col("merge_rank").cast("int"), col("lhs"), col("rhs"))
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2)))
    val sym = ms.foldLeft(col("__sym")) { case (acc, (l, r)) =>
      call_function("replace", acc, lit(s" $l $r "), lit(s" $l$r "))
    }
    wordSymbols(df, textCol)
      .withColumn("__out", trim(sym))
      .select(col("__word").as("word"), col("__freq").as("freq"),
        col("__out").as("segments"),
        size(split(col("__out"), " ")).as("n_segments"))
  }

  /** PMI collocation mining — the phrase table a tokenizer pipeline
    * extracts before merging multiword units ("new york", "machine
    * learning") into single vocab entries (word2phrase / Mikolov et al.
    * 2013, public knowledge). A bigram is a collocation when its
    * observed frequency beats the independence expectation:
    * PMI = ln(c(ab)·N_uni² / (N_bi·c(a)·c(b))).
    *
    * The emitted `lift` column is c(ab)/(c(a)·c(b)) — PMI minus the
    * corpus-constant ln(N_uni²/N_bi), so ranking by lift IS ranking by
    * PMI. Deliberately NOT the ln: lift is ONE IEEE division over exact
    * integer counts (c(a)·c(b) is an exact BIGINT product), which every
    * engine rounds identically, where ln differs in the last ulp
    * between libm implementations and would break bit-exact
    * verification. Callers wanting the ln apply it downstream.
    *
    * Scale shape: two corpus scans (unigram, bigram), each a pure
    * explode into a map-side-combined hash count — no materialization
    * of the token stream (caching an exploded 100 TB corpus to save a
    * re-scan is a bad trade; parquet re-read is column-pruned to
    * textCol). `minCount` prunes the bigram table BEFORE the two
    * unigram joins (shuffle hash joins on token keys; the pruned pair
    * table is the small side and AQE can broadcast it). Top-k is
    * `orderBy.limit` = TakeOrderedAndProject: per-partition heaps, no
    * global sort. Ties broken (lift desc, w1 asc, w2 asc) — a total
    * order, since (w1, w2) is unique after grouping.
    *
    * At ~2⁵³ total count products the BIGINT→DOUBLE conversion inside
    * the division starts rounding; ranking degrades gracefully (the
    * counts columns stay exact).
    *
    * @return topK rows of (w1, w2, c_pair, c_w1, c_w2, lift)
    */
  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004):
    * PageRank over the word-adjacency graph — a word is important if
    * important words stand next to it, the unsupervised keyphrase
    * baseline that needs no training data. This is deliberately a
    * COMPOSITION: the adjacency bigrams are [[collocations]]' pair
    * derivation, the graph walk is [[GraphOps.pageRankInt]]'s
    * ppb-integer Pregel rounds (same exactness argument — float rank
    * sums are partition-order-dependent, integer sums are not), with
    * the 0/1 undirected adjacency the paper specifies (both directions
    * of each distinct pair, self-adjacency dropped). Word → node ids
    * go through the shared md5₆₀ (collision odds 2⁻⁶⁰, the corpus-wide
    * convention); the final global top-K is TakeOrderedAndProject —
    * per-partition partial top-K merged on the driver, never a
    * single-partition ranking window over the vocabulary.
    *
    * @return (word, rank_ppb), the topK by (rank desc, word asc) */
  def textRankKeywords(df: DataFrame, textCol: String, iters: Int = 2,
      topK: Int = 30): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val words = split(trim(col(textCol)), "\\s+")
    val adj = df.select(words.as("__w"))
      .filter(size(col("__w")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("__w")) - 1),
        i => struct(element_at(col("__w"), i).as("w1"),
          element_at(col("__w"), i + 1).as("w2")))).as("__p"))
      .select(col("__p.w1").as("w1"), col("__p.w2").as("w2"))
      .filter(col("w1") =!= col("w2"))
    val und = adj.union(adj.select(col("w2").as("w1"), col("w1").as("w2")))
      .distinct()
    val ids = und.select(col("w1").as("word")).distinct()
      .withColumn("node", Dedup.md5Hash60(col("word")))
    val edges = und.select(Dedup.md5Hash60(col("w1")).as("src"),
      Dedup.md5Hash60(col("w2")).as("dst"))
    GraphOps.pageRankInt(edges, iters)
      .join(ids, "node")
      .select(col("word"), col("rank_ppb"))
      .orderBy(col("rank_ppb").desc, col("word").asc)
      .limit(topK)
  }

  def collocations(df: DataFrame, textCol: String, minCount: Long = 5L,
      topK: Int = 1000): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val words = split(trim(col(textCol)), "\\s+")
    val uni = df.select(explode(words).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c_tok"))
    // bind the words array once before the lambda (a raw split inside
    // transform re-splits per element)
    val pairs = df.select(words.as("__w"))
      .filter(size(col("__w")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("__w")) - 1),
        i => struct(element_at(col("__w"), i).as("w1"),
          element_at(col("__w"), i + 1).as("w2")))).as("__p"))
      .select(col("__p.w1").as("w1"), col("__p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_pair"))
      .filter(col("c_pair") >= minCount)
    pairs
      .join(uni.select(col("tok").as("w1"), col("c_tok").as("c_w1")), "w1")
      .join(uni.select(col("tok").as("w2"), col("c_tok").as("c_w2")), "w2")
      .select(col("w1"), col("w2"), col("c_pair"), col("c_w1"), col("c_w2"),
        (col("c_pair").cast("double") / (col("c_w1") * col("c_w2")))
          .as("lift"))
      .orderBy(col("lift").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
  }

  /** SymSpell-style spell-candidate lookup (Garbe's deletion index):
    * instead of edit-distance-joining queries against the whole
    * vocabulary (PassJoin territory, [[Dedup.editDistancePairs]]),
    * both sides expand to their 1-DELETION neighborhoods and meet on
    * an EQUI-join — a word of length L emits L+1 keys, the candidate
    * space is hash-bucket-bounded, and the (cheap, superset) key match
    * is verified by one exact edit-distance predicate. Guarantees
    * every candidate within edit distance `1` is found (delete-delete
    * covers substitute/transpose-at-distance-1 via the shared
    * deletion); distance-2 needs 2-deletion expansion — out of scope
    * here, the index idea is the deliverable.
    *
    * Scale shape: explode ×(L+1) on both sides, one equi-join on the
    * deletion key, native codegen'd edit-distance verify. No n² — the
    * classic trade of index space for join fan-in.
    *
    * @param vocab (wordCol, freqCol) dictionary
    * @param queries (queryCol) lookup strings
    * @return (query, candidate, freq, ed ≤ 1), distinct */
  def symspellCandidates(vocab: DataFrame, wordCol: String,
      freqCol: String, queries: DataFrame,
      queryCol: String): DataFrame = {
    def delKeys(c: Column): Column = array_union(array(c),
      transform(sequence(lit(0), length(c) - 1),
        i => concat(c.substr(lit(1), i),
          c.substr(i + lit(2), length(c)))))
    // normalize names FIRST: aliasing a column to its own name in the
    // same select that explodes it trips Spark's lateral-column-alias
    // resolution (INTERNAL_ERROR LateralColumnAliasReference)
    val vKeys = vocab
      .select(col(wordCol).as("__w"), col(freqCol).cast("long")
        .as("freq"))
      .select(col("__w").as("cand"), col("freq"),
        explode(delKeys(col("__w"))).as("__k"))
    val qKeys = queries.select(col(queryCol).as("__q"))
      .select(col("__q").as("query"),
        explode(delKeys(col("__q"))).as("__k"))
    qKeys.join(vKeys, "__k")
      .select(col("query"), col("cand"), col("freq"),
        graft.functions.EditDistance(col("query"), col("cand"), 1)
          .as("ed"))
      .filter(col("ed") <= 1) // cap=1 saturates non-matches at 2
      .distinct()
  }
}
