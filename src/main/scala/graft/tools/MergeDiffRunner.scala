package graft.tools

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.merge.MergeListings

/** Dev harness for tools/diff_merge.py: folds the generated batch_*.json
  * files through MergeListings in order and dumps the final master as one
  * JSON array for field-by-field comparison with the reference output.
  */
object MergeDiffRunner {
  private val schema = StructType(Seq(
    StructField("offer_id", StringType),
    StructField("offer_url", StringType),
    StructField("updated_date", StringType),
    StructField("price_value", DoubleType),
    StructField("is_unpublished", BooleanType),
    StructField("description", StringType),
    StructField("timestamp", StringType),
    StructField("image_urls", ArrayType(StringType)),
  ))

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.GraftSession()

    val nBatches = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("batch_"))
    var master: DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    for (b <- 0 until nBatches) {
      // JSON array file → one row per element, order preserved via index
      val batch = spark.read.schema(schema)
        .option("multiLine", true).json(s"$dir/batch_$b.json")
        .withColumn("__seq0", monotonically_increasing_id())
      master = MergeListings.mergeBatch(master, batch, Some("__seq0"))
        .localCheckpoint() // keep the folded plan from growing per batch
    }
    val rows = master.toJSON.collect()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/actual.json"),
      rows.mkString("[", ",", "]"))
    println(s"wrote ${rows.length} keys to $dir/actual.json")
    spark.stop()
  }
}
