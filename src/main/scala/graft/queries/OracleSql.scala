package graft.queries

/** Shared DuckDB oracle SQL fragments used across query modules.
  *
  * `blockedPairCtes` — the near-dup PAIR GENERATION the q49 oracle
  * family restates (trigram Jaccard ≥ 0.5 over `documents`), in the
  * BLOCKED form (r10 brief): the r1–r10 oracles brute-forced all
  * |docs|² pairs, which cost 30–120 min PER ORACLE at sf0.1 and made
  * full 10× sweeps a day-long affair. This restatement applies the
  * standard exact PREFIX FILTER (Bayardo, Ma & Srikant 2007, "Scaling
  * Up All Pairs Similarity Search", WWW; Xiao et al. 2008, "Efficient
  * Similarity Joins for Near Duplicate Detection", WWW): order every
  * document's distinct trigrams by ascending document frequency (rare
  * first; ties by token text), keep the first
  * |t| − ceil(τ·|t|) + 1 as the document's PREFIX, and generate
  * candidates only from documents sharing a prefix token. The filter
  * is LOSSLESS at threshold τ: J(A,B) ≥ τ implies
  * |A∩B| ≥ ceil(τ·max(|A|,|B|)), so a qualifying pair that shared no
  * token in A's prefix would fit all its intersection into A's last
  * ceil(τ·|A|) − 1 tokens — a contradiction. Every candidate is then
  * verified with the IDENTICAL exact Jaccard arithmetic the brute
  * force used, so the oracle stays an independent restatement (the
  * Spark side blocks by MinHash-LSH banding — a different, recall-
  * probabilistic scheme — while this is a different, recall-EXACT
  * one). Verified equal to the brute-force pair set at sf0.01
  * (25/25 pairs) and ~60–100× faster at sf0.1 (52 s vs 30–120 min).
  *
  * `g` and `p` carry MATERIALIZED hints: both are referenced 2-3×
  * (the verify joins, the closure's edges UNION) and DuckDB otherwise
  * re-executes them per reference — q155's full oracle measured
  * 163 s → 40 s at sf0.1 from the hints alone, rows identical. Safe
  * here because every reference is a plain join (a materialized CTE
  * under a CORRELATED subquery inside a recursion silently returns
  * no rows — the q184 hazard recorded in SCALING.md r11).
  *
  * The fragment defines CTEs `toks, g, tk, dfc, ord, pre, cand, p`
  * with `p` = (id_a < id_b) qualifying pairs and `g` = (doc_id,
  * distinct-trigram list) available to downstream CTEs. Callers write
  * `"WITH RECURSIVE " + blockedPairCtes + ", …"`.
  */
object OracleSql {

  val blockedPairCtes: String = blockedPairCtesAt("0.5", 3)

  /** [[blockedPairCtes]] at an arbitrary (τ, word-n-gram n) — the
    * house instantiation above is this generator at ("0.5", 3), so the
    * prefix-length derivation (the `ceil` boundary) is exercised at a
    * SECOND parameter point by q333 + the brute audit (r12 verdict
    * #7): a parameter-dependent misderivation that happened to cancel
    * at τ = 0.5 cannot hide. `tau` is a string so the SQL text is
    * byte-stable (no double formatting surprises).
    *
    * `where` (r13 verdict "next" #3) restricts the corpus BEFORE gram
    * building — q333's τ=0.7 bigram dfs barely prune, so its verify
    * join approaches all-pairs in DuckDB and one oracle dominated the
    * whole 10× sweep (503 of 586 s); a deterministic slice keeps the
    * parameter point exercised at a bounded cost. Empty (the default)
    * emits byte-identical text to the pre-r14 generator — the
    * OracleSqlSpec byte pin on the house instantiation holds. */
  def blockedPairCtesAt(tau: String, n: Int, where: String = ""): String = {
    require(n >= 2, s"word n-grams need n >= 2, got $n")
    val gram = (0 until n)
      .map(o => if (o == 0) "w[i]" else s"w[i+$o]")
      .mkString(" || ' ' || ")
    val rangeEnd = if (n == 2) "len(w)" else s"len(w) - ${n - 2}"
    val src = if (where.isEmpty) "documents" else s"documents WHERE $where"
    s"""toks AS (
      |  SELECT doc_id, string_split(trim(text), ' ') AS w FROM $src
      |), g AS MATERIALIZED (
      |  SELECT doc_id, list_distinct(
      |    [$gram for i in range(1, $rangeEnd)]) AS t
      |  FROM toks
      |), tk AS (
      |  SELECT doc_id, unnest(t) AS tok FROM g
      |), dfc AS (
      |  SELECT tok, count(*) AS dfc FROM tk GROUP BY tok
      |), ord AS (
      |  SELECT doc_id, list(tok ORDER BY dfc, tok) AS ot
      |  FROM tk JOIN dfc USING (tok) GROUP BY doc_id
      |), pre AS (
      |  SELECT doc_id,
      |    unnest(ot[1 : CAST(len(ot) - ceil($tau * len(ot)) + 1 AS INT)]) AS tok
      |  FROM ord
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM pre a JOIN pre b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |), p AS MATERIALIZED (
      |  SELECT c.id_a, c.id_b
      |  FROM cand c JOIN g x ON x.doc_id = c.id_a
      |  JOIN g y ON y.doc_id = c.id_b
      |  WHERE len(list_intersect(x.t, y.t)) * 1.0 /
      |      len(list_distinct(list_concat(x.t, y.t))) >= $tau
      |)""".stripMargin
  }

  /** The CROSS-SIDE prefix filter — same lossless construction as
    * [[blockedPairCtes]] but between two frames (incoming batch vs
    * trained corpus: q77, q100, q109). The caller defines CTEs
    * `gw`/`go`, each (doc_id, t distinct-trigram list); this fragment
    * appends `tk, dfc, ordw, ordo, prew, preo, cand` with
    * `cand` = the DISTINCT (id_new, id_old) candidates. Document
    * frequency is computed over BOTH sides' union — any consistent
    * global token order preserves the losslessness argument. The
    * caller appends its own exact-Jaccard verify tail over gw/go. */
  val crossPrefixPairCtes: String = crossPrefixPairCtesAt("")

  /** [[crossPrefixPairCtes]] with every CTE name (and the gw/go
    * inputs it reads) SUFFIXED — so one oracle can instantiate the
    * cross blocking more than once (q338's per-tick replay: tick 1
    * blocks batch A vs the initial corpus, tick 2 blocks batch B vs
    * initial ∪ A — two blockings, one WITH clause). The house
    * fragment above is this generator at "", spec-pinned
    * byte-identical. */
  def crossPrefixPairCtesAt(sfx: String): String =
    s""", tk$sfx AS (
      |  SELECT 'w' AS side, doc_id, unnest(t) AS tok FROM gw$sfx
      |  UNION ALL
      |  SELECT 'o' AS side, doc_id, unnest(t) AS tok FROM go$sfx
      |), dfc$sfx AS (
      |  SELECT tok, count(*) AS dfc FROM tk$sfx GROUP BY tok
      |), ordw$sfx AS (
      |  SELECT doc_id, list(tok ORDER BY dfc, tok) AS ot
      |  FROM tk$sfx JOIN dfc$sfx USING (tok) WHERE side = 'w' GROUP BY doc_id
      |), ordo$sfx AS (
      |  SELECT doc_id, list(tok ORDER BY dfc, tok) AS ot
      |  FROM tk$sfx JOIN dfc$sfx USING (tok) WHERE side = 'o' GROUP BY doc_id
      |), prew$sfx AS (
      |  SELECT doc_id,
      |    unnest(ot[1 : CAST(len(ot) - ceil(0.5 * len(ot)) + 1 AS INT)]) AS tok
      |  FROM ordw$sfx
      |), preo$sfx AS (
      |  SELECT doc_id,
      |    unnest(ot[1 : CAST(len(ot) - ceil(0.5 * len(ot)) + 1 AS INT)]) AS tok
      |  FROM ordo$sfx
      |), cand$sfx AS (
      |  SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_old
      |  FROM prew$sfx a JOIN preo$sfx b ON a.tok = b.tok
      |)""".stripMargin
}
