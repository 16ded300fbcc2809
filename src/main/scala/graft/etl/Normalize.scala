package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{Functions, RuntimeParam}

/** Normalize stage (reference data_process/normalize.py:94-163): status
  * derivation (B4), numeric parsing over the declared field list (F1),
  * Russian-date parsing over the date list (F2, asOf-parameterized),
  * temp-column cleanup (B3). Field lists are data, exactly like the
  * reference's.
  */
object Normalize {

  /** normalize.py:107-129 */
  val numericFields: Seq[String] = Seq(
    "price_value", "estimated_price", "security_deposit", "commission",
    "prepayment", "total_area", "living_area", "kitchen_area",
    "ceiling_height", "total_floors", "floor", "room_count",
    "total_views", "today_views", "unique_views", "sleeping_places",
    "distance", "room_area", "rooms_for_rent", "rooms_in_apartment",
    "price_change_value")

  /** normalize.py:135-141 */
  val dateFields: Seq[String] = Seq(
    "timestamp", "updated_date", "last_active", "publication_date",
    "unpublished_date", "price_change_date")

  /** normalize.py:148-159 */
  val tempCols: Seq[String] = Seq(
    "street_href", "building_href", "raw_address", "raw_full_address",
    "floor_combined", "offer_stats")

  /** @param asOf wall-clock anchor for relative Russian dates
    *             ("сегодня"/"вчера"/year-rollback); reference behavior =
    *             current_timestamp(). Bound as a [[RuntimeParam]], so
    *             batches with different anchors share generated code. */
  def apply(df: DataFrame, asOf: Column): DataFrame = {
    val asOfParam = RuntimeParam(asOf)
    // single bulk select (not a withColumn fold — that re-analyzes the
    // plan once per field); column order matches the historical chain:
    // input order with in-place transforms, temp cols dropped, status last
    val statusExpr =
      when(!coalesce(col("is_unpublished"), lit(false)), lit("active"))
        .otherwise(lit("non active"))
    val numSet = numericFields.toSet
    val dateSet = dateFields.toSet
    val kept = df.columns.filterNot(tempCols.toSet).toSeq.map { f =>
      if (f == "status") statusExpr.as(f)
      else if (numSet(f)) Functions.parseNumeric(col(f)).as(f)
      else if (dateSet(f)) Functions.parseRussianDate(col(f), asOfParam).as(f)
      else col(f)
    }
    val out = if (df.columns.contains("status")) kept
      else kept :+ statusExpr.as("status")
    df.select(out: _*)
  }
}
