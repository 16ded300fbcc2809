package graft.merge

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData, TypeUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.ScalaFn
import graft.ops.Materialize

/** The engine's centerpiece MERGE operator: the reference's keyed upsert
  * (data_process/merge.py:4-111) re-expressed as ONE Spark job:
  *
  *   source --shuffle on key--> per-key row array
  *          --full-outer join target--> fold rows through the update rules
  *
  * The per-row update rules (SURVEY §2 D-rules R1–R9) are one compiled
  * Scala function ([[ListingFold]], run through [[ScalaFn]]) applied once
  * per key that has source rows. It sorts the key's rows by arrival and
  * reproduces the reference's *sequential* semantics exactly, including
  * several source rows for the same key in one batch (insert-then-update,
  * intra-batch price changes). Every Spark cast the rules need (out-type
  * alignment, price → long, updated_date → string) is a Catalyst cast in
  * the projection that feeds the fold; the function compares, copies and
  * concatenates values but never casts. Master rows without source rows
  * bypass the fold.
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
  private val MANAGED = Seq("unpublished_date", "last_active",
    "publication_date", "price_change_value", "price_change_date",
    "total_price_changes", "price_changes", "price_changes_dates")

  /** Merge a batch of scraped rows into the master table.
    *
    * @param target master table; one row per offer_id
    * @param source batch; may carry several rows per key — `seqCol` gives
    *               their arrival order (reference = list order). Pass a
    *               monotonic column; ties broken arbitrarily. Without it
    *               the arrival order is the source's partition order.
    *
    * Materialization rule: the url fallback reads the sequenced source
    * three times. Without `seqCol`, the generated arrival ids must be the
    * same on every read, so the sequenced source is materialized at call
    * time (eager) when both sides carry `offer_url`. With `seqCol` the
    * call is lazy; a caller whose source is expensive or not repeatable
    * materializes it first ([[graft.pipeline.Pipeline.processBatch]],
    * [[graft.streaming.StreamingMerge.mergeIntoMaster]]).
    */
  def mergeBatch(target: DataFrame, source: DataFrame,
      seqCol: Option[String] = None): DataFrame = {

    // ---- 0. Align schemas: output = union of both sides + managed cols.
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
    for (c <- MANAGED :+ UPDATED if outNames.contains(c))
      require(outType(c) == managedTypes.getOrElse(c, updType),
        s"$c is ${outType(c).simpleString} in the master, " +
          s"expected ${managedTypes.getOrElse(c, updType).simpleString}")

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
    // three reads below (candidates, orphans, keyed rows) must see the
    // same generated __seq ids
    val seqSource =
      if (hasUrl && seqCol.isEmpty) Materialize(sequenced) else sequenced
    val sourceKeyed: DataFrame = if (hasUrl) {
      val tgtCand = target.filter(col(KEY).isNotNull && col(URL).isNotNull)
        .select(col(URL).as("__lk_url"), col(KEY).as("__cand"),
          lit(-1L).as("__cand_seq"))
      val srcCand = seqSource.filter(col(KEY).isNotNull && col(URL).isNotNull)
        .select(col(URL).as("__lk_url"), col(KEY).as("__cand"),
          col("__seq").as("__cand_seq"))
      val lookup = tgtCand.unionByName(srcCand)
      // one adopted key per orphan row (a given seqCol may repeat)
      val orphanCols = seqSource.columns.toSeq
      val orphans = seqSource.filter(col(KEY).isNull && col(URL).isNotNull)
        .withColumn("__orphan", monotonically_increasing_id())
        .join(broadcast(lookup), col(URL) === col("__lk_url")
          && col("__cand_seq") < col("__seq"), "inner")
        .groupBy(col("__orphan"))
        .agg(min_by(struct(col("__cand") +: orphanCols.map(col): _*),
          struct(col("__cand_seq"), col("__cand"))).as("__o"))
        .select(orphanCols.map {
          case KEY => col("__o.__cand").as(KEY)
          case "is_unpublished" => lit(true).as("is_unpublished")
          case c => col(s"__o.$c").as(c)
        } ++ (if (orphanCols.contains("is_unpublished")) Nil
              else Seq(lit(true).as("is_unpublished"))): _*)
      seqSource.filter(col(KEY).isNotNull)
        .unionByName(orphans, allowMissingColumns = true)
    } else seqSource.filter(col(KEY).isNotNull)

    // ---- 3. Per-key row array (the shuffle). Each row is aligned to the
    // output types, plus its price as a long and updated_date as a string.
    val srcCols = sourceKeyed.columns.toSet
    def rf(c: String, dt: DataType): Column =
      (if (srcCols.contains(c)) col(c) else lit(null)).cast(dt)
    val rowStruct = struct(
      (col("__seq") +: outNames.map(c => rf(c, outType(c)).as(c))) ++ Seq(
        rf("price_value", LongType).as("__price_long"),
        rf(UPDATED, StringType).as("__updated_str")): _*)
    val grouped = sourceKeyed
      .groupBy(col(KEY).as("__k"))
      .agg(collect_list(rowStruct).as("__rows"))

    // ---- 4. Full outer join with the master, then the fold.
    val t = target.alias("t")
    val joined = t.join(grouped, col(s"t.$KEY") === col("__k"), "full_outer")
    def tf(c: String, dt: DataType): Column =
      (if (tCols.contains(c)) col(s"t.$c") else lit(null)).cast(dt)
    val targetRow = struct(outNames.map(c => tf(c, outType(c)).as(c)): _*)
    val outSchema = StructType(outNames.map(c => StructField(c, outType(c))))
    val fold = new ListingFold(outSchema, mapCols = outNames.filter(c =>
      outType(c).isInstanceOf[MapType] && srcCols.contains(c)).toSet)
    val targetState = when(col(s"t.$KEY").isNotNull, struct(
      targetRow.as("row"), tf("price_value", LongType).as("price_long")))
    val rows = col("__rows")
    joined
      .select(when(rows.isNull, targetRow).otherwise(
        ScalaFn("merge_fold", targetState, rows, outSchema)(fold)).as("__out"))
      .select("__out.*")
  }
}

/** One key's fold (merge.py:29-108): the target row or, for a new key,
  * the insert of its first source row, then every source row in arrival
  * order through the update rules.
  *
  * Inputs, as [[MergeListings.mergeBatch]] builds them:
  *  - `target`: null for a new key, else (row aligned to `out`, its
  *    price as a long);
  *  - `rows`: the key's source rows: (`__seq`, the `out` columns,
  *    `__price_long`, `__updated_str`).
  */
private[merge] final class ListingFold(out: StructType, mapCols: Set[String])
    extends ((Any, Any) => Any) with Serializable {

  private val n = out.length
  private val names = out.fieldNames
  private val types = out.fields.map(_.dataType)
  private val Seq(upd, unpub, price) =
    Seq("updated_date", "is_unpublished", "price_value").map(names.indexOf(_))
  private val updIsString = upd < 0 || types(upd) == StringType
  @transient private lazy val priceEq = TypeUtils.getInterpretedOrdering(types(price))

  private def isTrue(v: Any): Boolean = v != null && v.asInstanceOf[Boolean]
  private def truthy(ud: Any): Boolean =
    ud != null && (!updIsString || ud.asInstanceOf[UTF8String].numBytes > 0)
  private def appendTo(hist: Any, v: UTF8String): UTF8String = hist match {
    case h: UTF8String if h.numBytes > 0 => UTF8String.concat(h, UTF8String.fromString(", "), v)
    case _ => v
  }
  /** map_zip_with(state, source, (k, t, s) -> coalesce(s, t)): state keys
    * first, then source-only keys, each at its first occurrence. */
  private def zipMaps(s: MapData, r: MapData, mt: MapType): MapData = {
    def entries(m: MapData) = (0 until m.numElements()).map(i =>
      m.keyArray.get(i, mt.keyType) -> m.valueArray.get(i, mt.valueType)).distinctBy(_._1)
    val merged = mutable.LinkedHashMap.from(entries(s))
    for ((k, v) <- entries(r) if v != null || !merged.contains(k)) merged(k) = v
    new ArrayBasedMapData(new GenericArrayData(merged.keys.toArray),
      new GenericArrayData(merged.values.toArray))
  }

  def apply(target: Any, rowsIn: Any): Any = {
    val arr = rowsIn.asInstanceOf[ArrayData]
    val rows = Array.tabulate(arr.numElements())(arr.getStruct(_, n + 3))
      .sortBy(_.getLong(0))
    val s = new Array[Any](n)
    var sPrice: Any = null // state price as a long
    val first = if (target == null) {
      // insert (merge.py:96-108): first source row as-is, with
      // publication_date := last_active := updated_date when truthy
      val r = rows(0)
      val ud = if (upd >= 0) r.get(upd + 1, types(upd)) else null
      for (i <- 0 until n) s(i) = names(i) match {
        case "publication_date" | "last_active" if truthy(ud) => ud
        // popped only when truthy; '' survives the insert (merge.py:106)
        case "updated_date" if truthy(ud) => null
        case _ => r.get(i + 1, types(i))
      }
      sPrice = r.get(n + 1, LongType)
      1
    } else {
      val t = target.asInstanceOf[InternalRow]
      val tr = t.getStruct(0, n)
      for (i <- 0 until n) s(i) = tr.get(i, types(i))
      sPrice = t.get(1, LongType)
      0
    }
    for (j <- first until rows.length) sPrice = update(s, sPrice, rows(j))
    new GenericInternalRow(s)
  }

  /** One reference loop iteration (merge.py:29-94, update branch): every
    * rule reads the state before this row. Returns the new state price. */
  private def update(s: Array[Any], sPrice: Any, r: InternalRow): Any = {
    def rv(i: Int): Any = if (i < 0) null else r.get(i + 1, types(i))
    val ud = rv(upd)
    val udOk = truthy(ud)
    // `x is True` / `x is False`: a null flag is neither
    val unpubTransition = udOk && isTrue(rv(unpub)) &&
      s(unpub) != null && !s(unpub).asInstanceOf[Boolean]
    val rPrice = rv(price)
    val priceChanged = udOk && !unpubTransition &&
      rPrice != null && s(price) != null && !priceEq.equiv(rPrice, s(price))
    lazy val diff = r.getLong(n + 1) - sPrice.asInstanceOf[Long]
    for (i <- 0 until n) {
      val v = rv(i)
      def orElse(alt: => Any): Any = if (v != null) v else alt
      s(i) = names(i) match {
        // skipped by the update loop (merge.py:79-80); R2: never updated
        case "offer_id" | "updated_date" | "timestamp" | "image_urls" => s(i)
        // R4 + loop-overwrite: case-1 value, unless the row carries one
        case "unpublished_date" => orElse(if (unpubTransition) ud else s(i))
        // R5 price-change family
        case "price_change_value" => orElse(if (priceChanged) diff else s(i))
        case "price_change_date" => orElse(if (priceChanged) ud else s(i))
        case "total_price_changes" => orElse(if (priceChanged)
          (if (s(i) == null) 0L else s(i).asInstanceOf[Long]) + 1L else s(i))
        case "price_changes" => orElse(if (priceChanged)
          appendTo(s(i), UTF8String.fromString(diff.toString)) else s(i))
        case "price_changes_dates" => orElse(if (priceChanged)
          appendTo(s(i), r.getUTF8String(n + 2)) else s(i))
        // R6 + loop-overwrite
        case "last_active" => orElse(if (udOk) ud else s(i))
        // R7: description frozen while unpublishing
        case "description" => if (isTrue(rv(unpub))) s(i) else orElse(s(i))
        // extras open-vocabulary map: per-key non-null-source-wins
        case c if mapCols.contains(c) =>
          if (v == null) s(i) else if (s(i) == null) v
          else zipMaps(s(i).asInstanceOf[MapData], v.asInstanceOf[MapData],
            types(i).asInstanceOf[MapType])
        // R1: plain last-non-null-wins
        case _ => orElse(s(i))
      }
    }
    if (rPrice != null) r.get(n + 1, LongType) else sPrice
  }
}
