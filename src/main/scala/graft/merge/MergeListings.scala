package graft.merge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.Materialize

/** The engine's centerpiece MERGE operator: the reference's keyed upsert
  * (data_process/merge.py:4-111) re-expressed as ONE Spark job:
  *
  *   source --shuffle on key--> per-key ordered row array
  *          --full-outer join target--> fold rows through the update rules
  *
  * The per-row update rules (SURVEY §2 D-rules R1–R9) run inside a single
  * Catalyst `aggregate()` higher-order function, so the whole merge is
  * declarative and reproduces the reference's *sequential* semantics
  * exactly — including several source rows for the same key in one
  * batch (insert-then-update, intra-batch price changes). The fold is
  * interpreted, not generated: `ArrayAggregate` is `CodegenFallback` in
  * Spark 4.1.
  *
  * Scale shape: one hash shuffle of the (small) batch side + a
  * `SortMergeJoin FullOuter` against the master. A full outer join
  * cannot be broadcast, so the WHOLE master is hash-shuffled on
  * `offer_id` every hour, however small the batch (pipebench
  * `big_master`: 86.5 MB of `merge.shuffle_bytes` against 1.1 MB on
  * `hourly`). A touched-key merge that leaves untouched rows unshuffled
  * is ROADMAP item 1.
  *
  * Divergences from the reference (documented, deliberate):
  *   - J2 url-fallback "first match wins" depended on Python dict order;
  *     we adopt the minimum matching offer_id (deterministic).
  *   - Reference crashes on non-dict source items (skipped there by
  *     isinstance); malformed rows are assumed filtered upstream (P5).
  */
object MergeListings {

  /** Columns with managed merge semantics. */
  private val KEY = "offer_id"
  private val URL = "offer_url"
  private val UPDATED = "updated_date"
  private val NEVER_UPDATE = Seq("timestamp", "image_urls")
  private val MANAGED = Seq("unpublished_date", "last_active",
    "publication_date", "price_change_value", "price_change_date",
    "total_price_changes", "price_changes", "price_changes_dates")

  /** Merge a batch of scraped rows into the master table.
    *
    * @param target master table; one row per offer_id
    * @param source batch; may carry several rows per key — `seqCol` gives
    *               their arrival order (reference = list order). Pass a
    *               monotonic column; ties broken arbitrarily.
    *
    * Eager when both sides carry `offer_url`: the url fallback reads the
    * sequenced source three times, so it is materialized at call time.
    */
  def mergeBatch(target: DataFrame, source: DataFrame,
      seqCol: Option[String] = None): DataFrame = {
    val spark = target.sparkSession

    // ---- 0. Align schemas: output = union of both sides + managed cols,
    // minus updated_date (consumed, never stored — merge.py:79-80).
    val updType: DataType = source.schema.find(_.name == UPDATED)
      .map(_.dataType).getOrElse(StringType)
    val managedTypes: Map[String, DataType] = Map(
      "unpublished_date" -> updType, "last_active" -> updType,
      "publication_date" -> updType, "price_change_date" -> updType,
      "price_change_value" -> LongType, "total_price_changes" -> LongType,
      "price_changes" -> StringType, "price_changes_dates" -> StringType)

    val tCols = target.schema.fields.map(f => f.name -> f.dataType).toMap
    val sCols = source.schema.fields.map(f => f.name -> f.dataType).toMap
    // updated_date IS part of the output: the reference pops it only on
    // inserts with a truthy value (merge.py:100-106) and never touches it
    // in the update loop — so falsy-insert rows keep theirs forever.
    val outNames: Seq[String] =
      (target.columns ++ source.columns ++ MANAGED)
        .distinct.filterNot(c => seqCol.contains(c)).toSeq
    def outType(c: String): DataType =
      tCols.getOrElse(c, sCols.getOrElse(c, managedTypes(c)))

    def aligned(df: DataFrame, cols: Map[String, DataType],
        keep: Seq[String]): DataFrame =
      df.select(keep.map { c =>
        if (cols.contains(c)) col(c) else lit(null).cast(outType(c)).as(c)
      }: _*)

    // ---- 1. Arrival order: the reference folds source rows list-order;
    // seqCol carries that order (default: monotonic id = partition order).
    val sequenced = seqCol match {
      case Some(c) => source.withColumn("__seq", col(c).cast(LongType)).drop(c)
      case None    => source.withColumn("__seq", monotonically_increasing_id())
    }

    // ---- 2. J2 url-fallback (merge.py:13-18): source rows with no key
    // adopt the offer_id of the row sharing their offer_url — from the
    // master, or from a keyed row EARLIER in this batch (the reference
    // scans its live dict, which already holds same-batch inserts). Ties
    // are broken master-first then min offer_id (reference: dict order —
    // nondeterministic; ours is the documented deterministic choice). No
    // match → row dropped (reference skips it). Marked unpublished.
    val hasUrl = sCols.contains(URL) && tCols.contains(URL)
    // three reads below (candidates, orphans, keyed rows): computed once,
    // so every read also sees the same __seq ids
    val seqSource = if (hasUrl) Materialize(sequenced) else sequenced
    val sourceKeyed: DataFrame = if (hasUrl) {
      val tgtCand = target.filter(col(KEY).isNotNull && col(URL).isNotNull)
        .select(col(URL).as("__lk_url"), col(KEY).as("__cand"),
          lit(-1L).as("__cand_seq"))
      val srcCand = seqSource.filter(col(KEY).isNotNull && col(URL).isNotNull)
        .select(col(URL).as("__lk_url"), col(KEY).as("__cand"),
          col("__seq").as("__cand_seq"))
      val lookup = tgtCand.unionByName(srcCand)
      val orphans = seqSource.filter(col(KEY).isNull && col(URL).isNotNull)
        .join(broadcast(lookup), col(URL) === col("__lk_url")
          && col("__cand_seq") < col("__seq"), "inner")
        .groupBy(seqSource.columns.map(col): _*)
        .agg(min_by(col("__cand"),
          struct(col("__cand_seq"), col("__cand"))).as("__adopted"))
        .withColumn(KEY, col("__adopted"))
        .withColumn("is_unpublished", lit(true))
        .drop("__adopted")
      seqSource.filter(col(KEY).isNotNull)
        .unionByName(orphans, allowMissingColumns = true)
    } else seqSource.filter(col(KEY).isNotNull)

    // ---- 3. Per-key ordered row array (the shuffle). Row struct carries
    // __seq first so sort_array orders by arrival.
    val srcCols = sourceKeyed.columns.filterNot(_ == "__seq").toSeq
    val withSeq = sourceKeyed
    val rowStruct = struct(col("__seq") +: srcCols.map(c => col(c)): _*)
    // explicit __seq comparator: sort_array's struct ordering rejects rows
    // holding MapType columns (the extras bag)
    val bySeq = (l: Column, r: Column) =>
      when(l.getField("__seq") < r.getField("__seq"), lit(-1))
        .when(l.getField("__seq") > r.getField("__seq"), lit(1))
        .otherwise(lit(0))
    val grouped = withSeq
      .groupBy(col(KEY).as("__k"))
      .agg(array_sort(collect_list(rowStruct), bySeq).as("__rows"))

    // ---- 3. Full outer join with the master.
    val t = target.alias("t")
    val joined = t.join(grouped, col(s"t.$KEY") === col("__k"), "full_outer")

    // ---- 4. Fold. State struct = output schema.
    def stateOf(parts: Seq[(String, Column)]): Column =
      struct(parts.map { case (n, c) => c.cast(outType(n)).as(n) }: _*)

    def truthy(c: Column, dt: DataType): Column = dt match {
      case StringType => c.isNotNull && c =!= ""
      case _          => c.isNotNull
    }
    val hasPrice = sCols.contains("price_value") || tCols.contains("price_value")
    val hasUnpub = sCols.contains("is_unpublished") || tCols.contains("is_unpublished")

    def rf(r: Column, c: String): Column =
      if (srcCols.contains(c)) r.getField(c) else lit(null).cast(outType(c))
    def sf(s: Column, c: String): Column = s.getField(c)

    // One reference loop iteration: state × source-row → state
    // (merge.py:29-94, update branch).
    def updateState(s: Column, r: Column): Column = {
      val ud = rf(r, UPDATED)
      val udOk = truthy(ud, updType)
      // <=> (null-safe): `x is True` must be FALSE for null x, not NULL —
      // a null `=== true` would poison the whole conjunction and silently
      // suppress priceChanged below (three-valued logic).
      val unpubTransition = if (hasUnpub)
        udOk && (rf(r, "is_unpublished") <=> lit(true)) &&
          (sf(s, "is_unpublished") <=> lit(false))
      else lit(false)
      val priceChanged = if (hasPrice)
        udOk && !unpubTransition &&
          rf(r, "price_value").isNotNull && sf(s, "price_value").isNotNull &&
          rf(r, "price_value") =!= sf(s, "price_value")
      else lit(false)
      // int(src) - int(tgt): Python int() truncates toward zero; Spark's
      // fractional→integral cast truncates the same way (ANSI only adds a
      // range check).
      val diff =
        if (hasPrice)
          rf(r, "price_value").cast(LongType) - sf(s, "price_value").cast(LongType)
        else lit(null).cast(LongType)

      val parts: Seq[(String, Column)] = outNames.map {
        case KEY => KEY -> sf(s, KEY)
        // skipped by the update loop unconditionally (merge.py:79-80)
        case UPDATED => UPDATED -> sf(s, UPDATED)
        // R2: never updated on match (insert handled by init state)
        case c if NEVER_UPDATE.contains(c) => c -> sf(s, c)
        // R4 + loop-overwrite: case-1 value, unless the row itself carries one
        case "unpublished_date" =>
          val caseVal = when(unpubTransition, ud)
            .otherwise(sf(s, "unpublished_date"))
          "unpublished_date" -> coalesce(rf(r, "unpublished_date"), caseVal)
        // R5 price-change family
        case "price_change_value" =>
          "price_change_value" -> coalesce(rf(r, "price_change_value"),
            when(priceChanged, diff).otherwise(sf(s, "price_change_value")))
        case "price_change_date" =>
          "price_change_date" -> coalesce(rf(r, "price_change_date"),
            when(priceChanged, ud).otherwise(sf(s, "price_change_date")))
        case "total_price_changes" =>
          "total_price_changes" -> coalesce(rf(r, "total_price_changes"),
            when(priceChanged,
              coalesce(sf(s, "total_price_changes"), lit(0L)) + 1L)
              .otherwise(sf(s, "total_price_changes")))
        case "price_changes" =>
          val hist = sf(s, "price_changes")
          val appended = when(hist.isNotNull && hist =!= "",
            concat(hist, lit(", "), diff.cast(StringType)))
            .otherwise(diff.cast(StringType))
          "price_changes" -> coalesce(rf(r, "price_changes"),
            when(priceChanged, appended).otherwise(hist))
        case "price_changes_dates" =>
          val hist = sf(s, "price_changes_dates")
          val appended = when(hist.isNotNull && hist =!= "",
            concat(hist, lit(", "), ud.cast(StringType)))
            .otherwise(ud.cast(StringType))
          "price_changes_dates" -> coalesce(rf(r, "price_changes_dates"),
            when(priceChanged, appended).otherwise(hist))
        // R6 + loop-overwrite
        case "last_active" =>
          "last_active" -> coalesce(rf(r, "last_active"),
            when(udOk, ud).otherwise(sf(s, "last_active")))
        // R7: description frozen while unpublishing
        case "description" =>
          val unpubbing = if (hasUnpub)
            coalesce(rf(r, "is_unpublished"), lit(false)) === lit(true)
          else lit(false)
          "description" -> when(unpubbing, sf(s, "description"))
            .otherwise(coalesce(rf(r, "description"), sf(s, "description")))
        // extras open-vocabulary map: per-key non-null-source-wins
        case c if outType(c).isInstanceOf[MapType] && srcCols.contains(c) =>
          c -> when(rf(r, c).isNull, sf(s, c))
            .when(sf(s, c).isNull, rf(r, c))
            .otherwise(map_zip_with(sf(s, c), rf(r, c),
              (_, tv, sv) => coalesce(sv, tv)))
        // R1: plain last-non-null-wins
        case c => c -> coalesce(rf(r, c), sf(s, c))
      }
      stateOf(parts)
    }

    // Insert branch init (merge.py:96-108): first source row as-is, with
    // publication_date := last_active := updated_date when truthy.
    def insertInit(r: Column): Column = {
      val ud = rf(r, UPDATED)
      val udOk = truthy(ud, updType)
      stateOf(outNames.map {
        case "publication_date" =>
          "publication_date" -> when(udOk, ud).otherwise(rf(r, "publication_date"))
        case "last_active" =>
          "last_active" -> when(udOk, ud).otherwise(rf(r, "last_active"))
        // popped only when truthy; '' survives the insert (merge.py:106)
        case UPDATED => UPDATED -> when(udOk, lit(null).cast(updType)).otherwise(ud)
        case c => c -> rf(r, c)
      })
    }

    def targetInit: Column =
      stateOf(outNames.map(c =>
        c -> (if (tCols.contains(c)) col(s"t.$c") else lit(null).cast(outType(c)))))

    val rows = col("__rows")
    val matched = col(s"t.$KEY").isNotNull
    val init = when(matched, targetInit)
      .otherwise(insertInit(element_at(rows, 1)))
    val foldRows = when(matched, rows)
      .otherwise(slice(rows, lit(2), size(rows) - 1))
    val folded = aggregate(coalesce(foldRows, array().cast(ArrayType(
      // never used when __rows is null, but aggregate needs a typed array
      withSeq.select(rowStruct).schema.head.dataType))),
      init, (s, r) => updateState(s, r))

    joined
      .withColumn("__out", when(rows.isNull, targetInit).otherwise(folded))
      .select(outNames.map(c => col("__out").getField(c).as(c)): _*)
  }
}
