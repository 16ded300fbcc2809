package graft.io

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** One commit log for an artifact made of several parquet tables — the
  * Delta Lake log (Armbrust et al., VLDB 2020) cut down to one writer.
  * The append-structured dedup artifacts (prefix index, span-gram state)
  * use it; the master keeps [[AtomicParquet]]'s swap.
  *
  * Layout under `dir`: each table's part-files in `<table>/`, and
  * `log/<N>.json` for version N, holding the artifact's parameters and,
  * per table, its schema and live part-files relative to `dir` (a copied
  * directory reads its own files). Readers take the latest entry: the
  * parameters need no Spark job, and each table is read as its listed
  * files under the stored schema — no schema-inference job, no stray
  * file.
  *
  * A commit appends each frame into its table directory, lists the new
  * files, and publishes N+1 by renaming a fully written entry into place
  * through the path's Hadoop `FileSystem` — no hardlink, no directory
  * swap. A crash before the rename leaves N readable, one after it N+1;
  * either way the next commit deletes what the dead writer left.
  */
object TableLog {

  /** `schema` is a `StructType` in its JSON form. */
  final case class Table(schema: String, files: Seq[String])

  final case class Entry(version: Long, params: Map[String, String],
      tables: Map[String, Table])

  /** `df`'s rows added to the table's files, or replacing them. A
    * replacing frame may lazily read the table's current files: they
    * are deleted only after the commit. */
  final case class Change(table: String, df: DataFrame, replace: Boolean)

  def append(table: String, df: DataFrame): Change = Change(table, df, replace = false)
  def replace(table: String, df: DataFrame): Change = Change(table, df, replace = true)

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private val EntryName = """(\d+)\.json""".r

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The latest version of `dir`, or None before its first commit. */
  def latest(spark: SparkSession, dir: String): Option[Entry] = {
    val fs = fsOf(spark, dir)
    val log = new Path(dir, "log")
    val versions = if (!fs.exists(log)) Array.empty[Long]
      else fs.listStatus(log).map(_.getPath.getName).collect { case EntryName(n) => n.toLong }
    versions.maxOption.map { v =>
      val in = fs.open(new Path(log, s"$v.json"))
      try mapper.readValue(in: java.io.InputStream, classOf[Entry]) finally in.close()
    }
  }

  /** One table of `entry` as a lazy frame. */
  def read(spark: SparkSession, dir: String, entry: Entry, table: String): DataFrame = {
    val t = entry.tables(table)
    spark.read.schema(DataType.fromJson(t.schema).asInstanceOf[StructType])
      .parquet(t.files.map(f => s"$dir/$f"): _*)
  }

  /** Publish version N+1 of `dir`: the latest version's tables with
    * `changes` applied, under `params`. A commit that keeps any of the
    * latest version's rows must carry its parameters — rows built under
    * other parameters would silently mix. */
  def commit(spark: SparkSession, dir: String, params: Map[String, String],
      changes: Change*): Unit = {
    val fs = fsOf(spark, dir)
    val prev = latest(spark, dir)
    val prevTables = prev.map(_.tables).getOrElse(Map.empty[String, Table])
    val replaced = changes.filter(_.replace).map(_.table).toSet
    prev.foreach(e => require(e.params == params || e.tables.keySet.subsetOf(replaced),
      s"$dir was written with ${e.params}; cannot add rows built with $params"))
    def listed(t: String): Seq[String] = prevTables.get(t).map(_.files).getOrElse(Nil)

    // debris from a dead writer: whatever the latest entry does not list
    for (t <- prevTables.keySet ++ changes.map(_.table); td = new Path(dir, t)
         if fs.exists(td); s <- fs.listStatus(td)
         if !listed(t).contains(s"$t/${s.getPath.getName}"))
      fs.delete(s.getPath, true)

    val written = changes.map { c =>
      val td = new Path(dir, c.table)
      c.df.write.mode("append").parquet(td.toString)
      val fresh = fs.listStatus(td).toSeq.map(_.getPath.getName)
        .filterNot(n => n.startsWith("_") || n.startsWith("."))
        .map(n => s"${c.table}/$n").filterNot(listed(c.table).contains).sorted
      c.table -> Table(c.df.schema.json, (if (c.replace) Nil else listed(c.table)) ++ fresh)
    }
    val next = Entry(prev.fold(0L)(_.version + 1), params, prevTables ++ written)
    val log = new Path(dir, "log")
    val tmp = new Path(log, s"${next.version}.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(mapper.writeValueAsBytes(next)) finally out.close()
    if (!fs.rename(tmp, new Path(log, s"${next.version}.json")))
      throw new java.io.IOException(s"table log: rename $tmp failed")

    for (t <- replaced; f <- listed(t)) fs.delete(new Path(dir, f), false)
    for (s <- fs.listStatus(log) if s.getPath.getName != s"${next.version}.json")
      fs.delete(s.getPath, false)
  }
}
