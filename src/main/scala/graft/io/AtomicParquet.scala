package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** S7 atomic publish of a parquet table rewritten whole (the master,
  * the streaming sample, compaction): the [[TableLog]] root table of
  * `path`. Readers see the old table or the new one, never a half-written
  * one (the reference's whole-file rewrite, parse_data.py:222).
  */
object AtomicParquet {

  /** The published table, built with no Spark job (a log-less `df.write`
    * directory as it is), or an empty one typed by `schemaSource`. */
  def read(spark: SparkSession, path: String,
      schemaSource: => DataFrame): DataFrame =
    TableLog.readRoot(spark, path, spark.read.parquet(_), schemaSource.schema)

  /** Replace the table with `df`, which may lazily read the current one. */
  def publish(df: DataFrame, path: String): Unit =
    TableLog.commit(df.sparkSession, path, Map.empty[String, String],
      TableLog.replace(TableLog.Root, df))

  /** True when `path` holds a published artifact. */
  def exists(spark: SparkSession, path: String): Boolean = TableLog.exists(spark, path)

  /** Delete what a dead publish left, so a plain read equals the table. */
  def recover(spark: SparkSession, path: String): Unit = TableLog.recover(spark, path)
}
