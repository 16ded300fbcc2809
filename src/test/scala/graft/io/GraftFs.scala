package graft.io

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** The local disk under its own scheme, `graftfs:///<abs path>` — a
  * Hadoop filesystem that is not `file:`. Code that reaches around the
  * `FileSystem` (java.io.File, java.nio, hardlinks) reads such a URI as
  * a relative local path and misses the files, so specs run persistence
  * paths on it to prove they go through Hadoop only. */
class GraftFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
  override def getScheme: String = "graftfs"
}

/** The local disk as `noentryfs:///<abs path>`, where a table log entry
  * never lands: renaming `log/<N>.json.tmp` into place fails, so a
  * commit dies after writing its data files and before its entry. */
class NoEntryFs extends GraftFs {
  override def getUri: java.net.URI = java.net.URI.create("noentryfs:///")
  override def getScheme: String = "noentryfs"
  override def rename(src: Path, dst: Path): Boolean =
    !src.getName.endsWith(".json.tmp") && super.rename(src, dst)
}

object GraftFs {
  /** Register the scheme on `spark` and return `localDir` under it. */
  def path(spark: SparkSession, localDir: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftFs].getName)
    s"graftfs://$localDir"
  }

  /** `localDir` under [[NoEntryFs]]'s scheme. */
  def noEntryPath(spark: SparkSession, localDir: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.noentryfs.impl", classOf[NoEntryFs].getName)
    s"noentryfs://$localDir"
  }
}
