package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scale path for the master table: stored BUCKETED by offer_id, so the
  * per-batch MERGE's full-outer join reads the master side with its
  * partitioning already satisfied — no Exchange on the (huge) master,
  * only the (small) batch shuffles. At 100 TB this is the difference
  * between re-shuffling the whole accumulated state every hour and
  * shuffling just the day's scrape.
  *
  * Spark exploits bucketing only through the catalog (`saveAsTable` +
  * `bucketBy`); the [[AtomicParquet]] master (a [[TableLog]] root
  * table) stays the simple default, this is the opt-in for big deployments.
  */
object BucketedMaster {

  def write(df: DataFrame, table: String, buckets: Int = 64): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, "offer_id")
      .sortBy("offer_id")
      .format("parquet")
      .saveAsTable(table)

  def read(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** One merge round against the bucketed master. The returned plan's
    * master side has no shuffle (verified in ScaleOpsSpec by asserting
    * Exchange count). */
  def merge(spark: SparkSession, table: String, batch: DataFrame): DataFrame =
    graft.merge.MergeListings.mergeBatch(read(spark, table), batch)
}
