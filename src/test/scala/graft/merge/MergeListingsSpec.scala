package graft.merge

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Golden multi-run tests for the MERGE centerpiece, driving the exact
  * lifecycle transitions of the reference (merge.py): insert →
  * price-change → unpublish → reappear, plus the J2 url-fallback and
  * intra-batch multi-row sequences.
  */
class MergeListingsSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("offer_id", StringType),
    StructField("offer_url", StringType),
    StructField("updated_date", StringType),
    StructField("price_value", DoubleType),
    StructField("is_unpublished", BooleanType),
    StructField("description", StringType),
    StructField("timestamp", StringType),
  ))

  private def batch(rows: Seq[(String, String, String, java.lang.Double,
      java.lang.Boolean, String, String)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r =>
        Row(r._1, r._2, r._3, r._4, r._5, r._6, r._7))), schema)

  private def emptyTarget: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  private def byId(df: DataFrame): Map[String, Map[String, Any]] = {
    val cols = df.columns
    df.collect().map { r =>
      r.getAs[String]("offer_id") ->
        cols.zipWithIndex.map { case (c, i) => c -> r.get(i) }.toMap
    }.toMap
  }

  test("insert, price change, unpublish, reappear across four runs") {
    // run 1: insert
    val b1 = batch(Seq(("1", "u1", "2026-01-01 10:00:00", 50000.0, false,
      "desc v1", "t1")))
    val m1 = MergeListings.mergeBatch(emptyTarget, b1, None)
    val r1 = byId(m1)("1")
    assert(r1("publication_date") == "2026-01-01 10:00:00")
    assert(r1("last_active") == "2026-01-01 10:00:00")
    assert(r1("price_value") == 50000.0)
    assert(r1("total_price_changes") == null)
    assert(r1("updated_date") == null)   // popped on truthy-ud insert

    // run 2: price drops — CDC fields fire
    val b2 = batch(Seq(("1", "u1", "2026-01-02 11:00:00", 45000.0, false,
      "desc v2", "t2")))
    val m2 = MergeListings.mergeBatch(m1, b2, None)
    val r2 = byId(m2)("1")
    assert(r2("price_value") == 45000.0)
    assert(r2("price_change_value") == -5000L)
    assert(r2("price_change_date") == "2026-01-02 11:00:00")
    assert(r2("total_price_changes") == 1L)
    assert(r2("price_changes") == "-5000")
    assert(r2("price_changes_dates") == "2026-01-02 11:00:00")
    assert(r2("last_active") == "2026-01-02 11:00:00")
    assert(r2("publication_date") == "2026-01-01 10:00:00") // unchanged
    assert(r2("description") == "desc v2")
    assert(r2("timestamp") == "t1")                         // R2: never updated

    // run 3: unpublish — unpublished_date stamped, description frozen
    val b3 = batch(Seq(("1", null, "2026-01-03 12:00:00", null, true,
      "should not overwrite", "t3")))
    val m3 = MergeListings.mergeBatch(m2, b3, None)
    val r3 = byId(m3)("1")
    assert(r3("is_unpublished") == true)
    assert(r3("unpublished_date") == "2026-01-03 12:00:00")
    assert(r3("description") == "desc v2")                  // R7
    assert(r3("price_value") == 45000.0)                    // R1 null-skip
    assert(r3("last_active") == "2026-01-03 12:00:00")
    assert(r3("offer_url") == "u1")                         // null never overwrites

    // run 4: reappears with a higher price — both transition families fire
    // across runs: price change counts again; is_unpublished returns false
    val b4 = batch(Seq(("1", "u1", "2026-01-04 13:00:00", 47000.0, false,
      "desc v4", "t4")))
    val m4 = MergeListings.mergeBatch(m3, b4, None)
    val r4 = byId(m4)("1")
    assert(r4("price_value") == 47000.0)
    assert(r4("total_price_changes") == 2L)
    assert(r4("price_changes") == "-5000, 2000")
    assert(r4("price_changes_dates")
      == "2026-01-02 11:00:00, 2026-01-04 13:00:00")
    assert(r4("is_unpublished") == false)
    // unpublished_date survives (reference never clears it)
    assert(r4("unpublished_date") == "2026-01-03 12:00:00")
    assert(r4("description") == "desc v4")
  }

  test("unmatched target rows pass through; unmatched source rows insert") {
    val tgt = MergeListings.mergeBatch(emptyTarget,
      batch(Seq(("1", "u1", "2026-01-01 10:00:00", 100.0, false, "a", "t1"))))
    val b = batch(Seq(("2", "u2", "2026-01-02 10:00:00", 200.0, false, "b", "t2")))
    val m = byId(MergeListings.mergeBatch(tgt, b))
    assert(m.keySet == Set("1", "2"))
    assert(m("1")("price_value") == 100.0)
    assert(m("2")("publication_date") == "2026-01-02 10:00:00")
  }

  test("J2: keyless source row adopts offer_id by url and unpublishes") {
    val tgt = MergeListings.mergeBatch(emptyTarget,
      batch(Seq(("7", "url-7", "2026-01-01 10:00:00", 100.0, false, "a", "t1"))))
    val b = batch(Seq((null, "url-7", "2026-01-05 09:00:00", null, null, null, null)))
    val m = byId(MergeListings.mergeBatch(tgt, b))
    assert(m.keySet == Set("7"))
    assert(m("7")("is_unpublished") == true)
    assert(m("7")("unpublished_date") == "2026-01-05 09:00:00")
    assert(m("7")("last_active") == "2026-01-05 09:00:00")
    // keyless row with unknown url is dropped
    val b2 = batch(Seq((null, "url-nope", "2026-01-06 09:00:00", null, null, null, null)))
    assert(byId(MergeListings.mergeBatch(tgt, b2)).keySet == Set("7"))
  }

  test("intra-batch: insert then update in one batch, ordered by seq") {
    val rows = Seq(
      ("9", "u9", "2026-01-01 10:00:00", 100.0, java.lang.Boolean.FALSE, "first", "t1"),
      ("9", "u9", "2026-01-01 11:00:00", 120.0, java.lang.Boolean.FALSE, "second", "t2"),
      ("9", "u9", "2026-01-01 12:00:00", 90.0, java.lang.Boolean.FALSE, "third", "t3"))
    val b = batch(rows.map(r => (r._1, r._2, r._3,
      r._4: java.lang.Double, r._5, r._6, r._7)))
      .withColumn("seq",
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(org.apache.spark.sql.functions.col("updated_date"))))
    val m = byId(MergeListings.mergeBatch(emptyTarget, b, Some("seq")))("9")
    // first row inserted, rows 2..3 update: two price changes fire
    assert(m("price_value") == 90.0)
    assert(m("total_price_changes") == 2L)
    assert(m("price_changes") == "20, -30")
    assert(m("publication_date") == "2026-01-01 10:00:00")
    assert(m("last_active") == "2026-01-01 12:00:00")
    assert(m("timestamp") == "t1")      // R2 holds within the batch too
    assert(m("description") == "third")
  }

  test("updated_date empty-string is falsy: no lifecycle stamping") {
    val b1 = batch(Seq(("3", "u3", "", 100.0, false, "a", "t1")))
    val m1 = byId(MergeListings.mergeBatch(emptyTarget, b1))("3")
    assert(m1("publication_date") == null)
    assert(m1("last_active") == null)
    // and on update: price differs but ud falsy → no CDC, no last_active
    val b2 = batch(Seq(("3", "u3", "", 200.0, false, "a", "t1")))
    val tgt = MergeListings.mergeBatch(emptyTarget,
      batch(Seq(("3", "u3", "2026-01-01 10:00:00", 100.0, false, "a", "t1"))))
    val m2 = byId(MergeListings.mergeBatch(tgt, b2))("3")
    assert(m2("price_value") == 200.0)   // field loop still applies
    assert(m2("total_price_changes") == null)
    assert(m2("last_active") == "2026-01-01 10:00:00")
  }

  test("merge is idempotent for R1-governed fields") {
    val tgt = MergeListings.mergeBatch(emptyTarget,
      batch(Seq(("5", "u5", "2026-01-01 10:00:00", 100.0, false, "a", "t1"))))
    val b = batch(Seq(("5", "u5", "2026-01-02 10:00:00", 100.0, false, "b", "t2")))
    val once = byId(MergeListings.mergeBatch(tgt, b))("5")
    val twice = byId(MergeListings.mergeBatch(
      MergeListings.mergeBatch(tgt, b), b))("5")
    // same price → no CDC either time; all fields identical
    assert(once == twice)
    assert(once("total_price_changes") == null)
  }

  test("the plan folds with one compiled function and keeps the full outer join") {
    import org.apache.spark.sql.catalyst.expressions.ArrayAggregate
    val tgt = MergeListings.mergeBatch(emptyTarget,
      batch(Seq(("1", "u1", "2026-01-01 10:00:00", 100.0, false, "a", "t1"))))
    val m = MergeListings.mergeBatch(tgt,
      batch(Seq(("1", "u1", "2026-01-02 10:00:00", 90.0, false, "b", "t2"))))
    assert(byId(m)("1")("price_changes") == "-10")
    assert(!m.queryExecution.optimizedPlan.exists(
      _.expressions.exists(_.exists(_.isInstanceOf[ArrayAggregate]))))
    val plan = m.queryExecution.executedPlan.toString
    assert(plan.contains("merge_fold(") && !plan.contains("aggregate("))
    assert("SortMergeJoin.*FullOuter".r.findFirstIn(plan).isDefined, plan)
  }

  test("J2: an adopted orphan's map column keeps its key order") {
    val withExtras = StructType(schema.fields :+
      StructField("extras", MapType(StringType, StringType)))
    def rows(rs: Row*) =
      spark.createDataFrame(spark.sparkContext.parallelize(rs), withExtras)
    val tgt = MergeListings.mergeBatch(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], withExtras),
      rows(Row("7", "url-7", "2026-01-01 10:00:00", 100.0, false, "a", "t1", null)))
    val m = MergeListings.mergeBatch(tgt,
      rows(Row(null, "url-7", "2026-01-05 09:00:00", null, null, null, null,
        Map("z" -> "1", "a" -> "2"))))
    assert(m.selectExpr("map_keys(extras)").head().getSeq[String](0) == Seq("z", "a"))
  }

  test("J2: orphans sharing one seq value each adopt their own key") {
    val tgt = MergeListings.mergeBatch(emptyTarget, batch(Seq(
      ("7", "url-7", "2026-01-01 10:00:00", 100.0, false, "a", "t1"),
      ("8", "url-8", "2026-01-01 10:00:00", 200.0, false, "b", "t1"))))
    val orphans = batch(Seq(
      (null, "url-7", "2026-01-05 09:00:00", null, null, null, null),
      (null, "url-8", "2026-01-05 09:00:00", null, null, null, null)))
      .withColumn("seq", org.apache.spark.sql.functions.lit(1000L))
    val m = byId(MergeListings.mergeBatch(tgt, orphans, Some("seq")))
    assert(m.keySet == Set("7", "8"))
    assert(m.values.forall(_("is_unpublished") == true))
  }
}
