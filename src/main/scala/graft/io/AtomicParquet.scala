package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** S7 atomic publish for the MASTER, a single table rewritten whole:
  * write-tmp-then-swap directory rename — readers see the old or the
  * new table, never a half-written one (the reference's
  * whole-file-rewrite "transaction", parse_data.py:222). The
  * append-structured artifacts (the dedup prefix index and span-gram
  * state) publish through [[TableLog]] instead, which needs no
  * directory swap.
  */
object AtomicParquet {

  def read(spark: SparkSession, path: String,
      schemaSource: => DataFrame): DataFrame = {
    // restart entry: heal a crashed half-swap FIRST — otherwise a missing
    // main dir reads as an empty master and the next publish deletes
    // __old, the only surviving copy
    recover(spark, path)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(path))) spark.read.parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      schemaSource.schema)
  }

  def publish(df: DataFrame, path: String): Unit = {
    val fs = new Path(path).getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val main = new Path(path)
    val tmp = new Path(path + "__tmp")
    val old = new Path(path + "__old")
    if (fs.exists(tmp)) fs.delete(tmp, true) // debris from a dead writer
    df.write.mode("overwrite").parquet(tmp.toString)
    // rename returns false instead of throwing (dest exists, cross-fs,
    // src missing) — continuing would delete the only good copy, so each
    // step is checked. A crash between the two renames leaves the intact
    // master at __old; `recover` restores it on the next run.
    def renameOrThrow(src: Path, dst: Path): Unit =
      if (!fs.rename(src, dst))
        throw new java.io.IOException(s"atomic publish: rename $src -> $dst failed")
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(main)) renameOrThrow(main, old)
    renameOrThrow(tmp, main)
    fs.delete(old, true)
  }

  /** True when `path` holds a published artifact — AFTER healing a
    * crashed half-swap, so a caller's "state exists yet?" probe can
    * never read the post-crash window as an empty state (the data-loss
    * trap [[read]]'s comment names: treating a missing main dir as
    * empty makes the next publish delete `__old`, the only copy). */
  def exists(spark: SparkSession, path: String): Boolean = {
    recover(spark, path)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new Path(path))
  }

  /** Crash recovery: if a previous publish died between its two renames
    * (no main dir, __old still present), restore the saved master.
    * [[read]] invokes this on every restart; a no-op in the healthy
    * state. */
  def recover(spark: SparkSession, path: String): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val main = new Path(path)
    val old = new Path(path + "__old")
    if (!fs.exists(main) && fs.exists(old) && !fs.rename(old, main))
      throw new java.io.IOException(s"atomic publish: recovery rename failed for $path")
  }
}
