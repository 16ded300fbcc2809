package graft.pipeline

import graft.SparkSpec
import graft.io.JsonTable
import org.apache.spark.sql.types._

class WorkListSpec extends SparkSpec {
  import spark.implicits._

  private lazy val master = Seq(
    ("1", Some(100.0), Some(55.0), false, Some("addr 1"), Option.empty[Double]),
    ("2", Some(100.0), None, false, Some("addr 2"), Some(1.5)),
    ("3", Some(100.0), None, true, Some("addr 3"), None),   // unpublished
    ("4", Some(100.0), None, false, None, None),            // no address
  ).toDF("offer_id", "price_value", "estimated_price", "is_unpublished",
    "address", "distance")

  test("P3 missing-estimation work list") {
    val ids = Pipeline.missingEstimationIds(master).as[String].collect().toSet
    assert(ids == Set("2", "4"))   // active + no estimation; 3 is unpublished
  }

  test("P4 distance work list") {
    val wl = Pipeline.distanceWorkList(master)
      .as[(String, String)].collect().toMap
    assert(wl.keySet == Set("1", "3"))   // 2 has distance, 4 has no address
  }

  test("G7 scrape work list honors run-mode flags") {
    val current = Seq("1", "2", "9").toDF("offer_id")
    val active = Seq("1", "2", "3").toDF("offer_id")
    val missing = Seq.empty[String].toDF("offer_id")
    def ids(u: Boolean, n: Boolean, c: Boolean) =
      Pipeline.scrapeWorkList(current, active, missing, u, n, c)
        .as[String].collect().toSet
    assert(ids(true, false, false) == Set("1", "2", "9"))  // update-all
    assert(ids(false, true, false) == Set("9"))            // new only (J4)
    assert(ids(false, false, true) == Set("3"))            // missing (J3)
    assert(ids(false, true, true) == Set("9", "3"))
  }

  test("JSON master round-trip with NaN scrub and missing-file fallback") {
    val dir = java.nio.file.Files.createTempDirectory("jsontbl").toString
    val schema = StructType(Seq(StructField("offer_id", StringType),
      StructField("price_value", DoubleType)))
    val empty = JsonTable.read(spark, s"$dir/nope", schema)
    assert(empty.count() == 0 && empty.schema == schema)
    val df = Seq(("1", Double.NaN), ("2", 5.0)).toDF("offer_id", "price_value")
    JsonTable.write(df, s"$dir/master")
    val back = JsonTable.read(spark, s"$dir/master", schema)
      .orderBy("offer_id").as[(String, Option[Double])].collect()
    assert(back.toSeq == Seq(("1", None), ("2", Some(5.0))))  // NaN → null
  }

  test("JSON master: a dead writer's part-files are not read") {
    val path = java.nio.file.Files.createTempDirectory("jsontbl").toString + "/master"
    val schema = StructType(Seq(StructField("offer_id", StringType),
      StructField("price_value", DoubleType)))
    JsonTable.write(Seq(("1", 1.0), ("2", 2.0)).toDF("offer_id", "price_value"), path)
    // a write that died before its commit: its files, no entry
    Seq(("3", 3.0)).toDF("offer_id", "price_value").write.mode("append").json(path)
    val back = JsonTable.read(spark, path, schema)
      .orderBy("offer_id").as[(String, Double)].collect()
    assert(back.toSeq == Seq(("1", 1.0), ("2", 2.0)))
  }
}
