package graft.io

import org.apache.hadoop.fs.RawLocalFileSystem
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

object GraftFs {
  /** Register the scheme on `spark` and return `localDir` under it. */
  def path(spark: SparkSession, localDir: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftFs].getName)
    s"graftfs://$localDir"
  }
}
