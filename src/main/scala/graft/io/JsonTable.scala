package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, StructType}

/** A1/A9: bit-compat JSON master-table IO. The reference stores the
  * master as one JSON array file rewritten per run; missing/corrupt →
  * empty table (parse_data.py:206-211), NaN scrubbed to null before
  * write (parse_data.py:187-204). Spark-side we use JSON-lines (one
  * object per line — the distributed-friendly framing); the array-file
  * shape is a trivial driver-side concat when bit-compat export matters.
  */
object JsonTable {

  /** The published rows; `schema` reads a log-less directory or types an empty one. */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    TableLog.readRoot(spark, path, spark.read.schema(schema).json(_), schema)

  /** NaN-scrubbed overwrite (A9): one commit of the [[TableLog]] root table, as `json`. */
  def write(df: DataFrame, path: String): Unit = {
    val scrubbed = df.select(df.schema.map(f => f.dataType match {
      case DoubleType | FloatType => when(!isnan(df(f.name)), df(f.name)).as(f.name)
      case _ => df(f.name)
    }): _*)
    TableLog.commit(df.sparkSession, path, Map.empty[String, String],
      TableLog.replace(TableLog.Root, scrubbed, "json"))
  }
}
