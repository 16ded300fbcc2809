package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file COMPACTION + publish MANIFEST — the table-maintenance
  * pair every long-lived 100 TB corpus needs: streaming sinks,
  * incremental merges, and per-batch appends each leave hundreds of
  * KB-sized parquet files behind, and a scan's task count (and the
  * namenode's memory) is per-FILE — periodic rewrite into
  * target-sized files is what keeps read parallelism matched to data,
  * not to write history.
  *
  * `compact` rewrites a parquet directory (a plain `df.write.parquet`
  * one is adopted as it is) into `ceil(rows / targetRowsPerFile)` files
  * in one [[TableLog]] commit via [[AtomicParquet.publish]]: readers
  * never observe a half-rewritten table, and a crash mid-compaction
  * leaves the original intact. Row-count targeting is deliberate (vs
  * byte targeting): row counts are engine-exact and cheap (one
  * aggregate), while on-disk bytes depend on encoder state; callers
  * translate a byte budget via their known row width.
  *
  * `writeManifest` stamps a publish with `_manifest.json`: row count
  * + an ORDER-FREE content fingerprint (sum of per-row md5-60 hashes
  * of the full row — commutative, so any engine, any partitioning,
  * any file layout reproduces it) + the file count. The manifest is
  * what downstream consumers check before trusting a handoff, and
  * q183's oracle independently recomputes both numbers from the
  * written files.
  */
object Compaction {

  /** Order-free content fingerprint of a DataFrame: the BIGINT sum of
    * a 44-bit md5 prefix over each row's \u0001-separated column
    * concatenation (the separator keeps column boundaries unambiguous).
    * Commutative and partition-independent. */
  def contentFingerprint(df: DataFrame): Long = {
    val concatted = concat_ws("",
      df.columns.map(c => col(c).cast("string")): _*)
    // 44-bit prefix (not the house md5-60): the SUM must stay inside
    // a signed long, which 44 bits guarantees out to ~5e11 rows --
    // corruption detection needs a moved sum, not collision-grade width
    val h44 = conv(substring(md5(concatted), 1, 11), 16, 10).cast("long")
    df.select(sum(h44).as("fp")).collect()(0).getLong(0)
  }

  /** Rewrite `dir` into ceil(rows / targetRowsPerFile) files,
    * atomically. Returns (rows, filesBefore, filesAfter). */
  def compact(spark: SparkSession, dir: String,
      targetRowsPerFile: Long): (Long, Int, Int) = {
    require(targetRowsPerFile >= 1,
      s"targetRowsPerFile must be >= 1, got $targetRowsPerFile")
    val before = parquetFiles(spark, dir)
    val df = AtomicParquet.read(spark, dir, spark.read.parquet(dir))
    val rows = df.count()
    val nFiles = math.max(1L, (rows + targetRowsPerFile - 1)
      / targetRowsPerFile).toInt
    AtomicParquet.publish(df.repartition(nFiles), dir)
    (rows, before, parquetFiles(spark, dir))
  }

  private def parquetFiles(spark: SparkSession, dir: String): Int = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
  }

  /** Stamp `dir` with `_manifest.json` (row_count, content_sum,
    * n_files). Call after any publish; re-stamping overwrites. */
  def writeManifest(spark: SparkSession, dir: String): Unit = {
    val df = spark.read.parquet(dir)
    val rows = df.count()
    val fp = contentFingerprint(df)
    val json = s"""{"row_count":$rows,"content_sum":$fp,""" +
      s""""n_files":${parquetFiles(spark, dir)}}"""
    val p = new Path(dir, "_manifest.json")
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  /** Read a manifest back (loud if absent — an unstamped handoff is
    * the failure this exists to catch), through the active session's
    * Hadoop configuration. */
  def readManifest(dir: String): (Long, Long, Int) = {
    val p = new Path(dir, "_manifest.json")
    val fs = p.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no _manifest.json under $dir — unstamped publish")
    val in = fs.open(p)
    val s = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    def field(k: String): String =
      s.split(s""""$k":""")(1).takeWhile(c => c == '-' || c.isDigit)
    (field("row_count").toLong, field("content_sum").toLong,
      field("n_files").toInt)
  }
}
