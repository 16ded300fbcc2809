package graft.io

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** The one publish layer: a commit log for an artifact of one or more
  * tables, the Delta Lake log (Armbrust et al., VLDB 2020) cut down to one
  * writer. Single tables ([[AtomicParquet]], [[JsonTable]]) are its
  * [[Root]] table; the dedup artifacts use named tables.
  *
  * Layout under `dir`: the root table's files at the top level (a plain
  * `spark.read.parquet(dir)` reads them: Spark takes only a directory's
  * own files, never `log/`), each named table's in `<table>/`, and
  * `log/<N>.json` for version N: the parameters, each streaming writer's
  * last batch id, and per table its format, schema and live files
  * relative to `dir`. Readers take the latest entry: no Spark job.
  *
  * A commit deletes strays as [[recover]] does, appends each frame,
  * lists the new files, renames a fully written entry N+1 into place
  * through the path's Hadoop `FileSystem`, then deletes the files N+1
  * dropped and the older entries. A crash before the rename leaves N
  * readable, after it N+1.
  */
object TableLog {

  /** The table whose files sit at the top level of the artifact. */
  val Root = ""

  /** `schema` is a `StructType`'s JSON; `format` wrote `files` (`parquet`, `json`). */
  final case class Table(format: String, schema: String, files: Seq[String])

  /** `txns` maps a streaming writer (its checkpoint) to the last batch id
    * it committed — Delta's `txnAppId`/`txnVersion`. */
  final case class Entry(version: Long, params: Map[String, String],
      tables: Map[String, Table],
      @JsonDeserialize(contentAs = classOf[java.lang.Long]) txns: Map[String, Long])

  /** `df`'s rows added to the table's files, or replacing them. A
    * replacing frame may lazily read the table's current files: they
    * are deleted only after the commit. */
  final case class Change(table: String, df: DataFrame, replace: Boolean,
      format: String = "parquet")

  def append(table: String, df: DataFrame): Change = Change(table, df, replace = false)
  def replace(table: String, df: DataFrame, format: String = "parquet"): Change =
    Change(table, df, replace = true, format)

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private val EntryName = """(\d+)\.json""".r

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tableDir(dir: String, t: String): Path =
    if (t == Root) new Path(dir) else new Path(dir, t)

  /** `s`, a file in table `t`'s directory, relative to `dir`. */
  private def rel(t: String, s: FileStatus): String =
    if (t == Root) s.getPath.getName else s"$t/${s.getPath.getName}"

  private def isData(s: FileStatus): Boolean = s.isFile &&
    !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith(".")

  /** Data files in table `t`'s directory, relative to `dir`. */
  private def files(fs: FileSystem, dir: String, t: String): Seq[String] = {
    val td = tableDir(dir, t)
    if (!fs.exists(td)) Nil else fs.listStatus(td).toSeq.filter(isData).map(rel(t, _)).sorted
  }

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

  /** True when `dir` holds a version, or files its first commit adopts. */
  def exists(spark: SparkSession, dir: String): Boolean =
    latest(spark, dir).isDefined || files(fsOf(spark, dir), dir, Root).nonEmpty

  /** One table of `entry` as a lazy frame. */
  def read(spark: SparkSession, dir: String, entry: Entry, table: String): DataFrame = {
    val t = entry.tables(table)
    spark.read.format(t.format).schema(DataType.fromJson(t.schema).asInstanceOf[StructType])
      .load(t.files.map(f => s"$dir/$f"): _*)
  }

  /** The root table's latest version. A directory with no log yet is
    * read through `plain`: its files are what a plain `df.write` left,
    * and the first commit adopts them. With neither, an empty frame. */
  def readRoot(spark: SparkSession, dir: String, plain: String => DataFrame,
      schema: => StructType): DataFrame =
    latest(spark, dir) match {
      case Some(e) if e.tables.contains(Root) => read(spark, dir, e, Root)
      case None if files(fsOf(spark, dir), dir, Root).nonEmpty => plain(dir)
      case _ => spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    }

  /** Delete the data files the latest entry does not list (a dead
    * writer's), so that a plain read equals the latest version. */
  def recover(spark: SparkSession, dir: String): Unit =
    latest(spark, dir).foreach(e => sweep(fsOf(spark, dir), dir, e.tables, e.tables.keySet + Root))

  /** In each of `names`, delete what `tables` does not list; in the root
    * table's directory (the artifact's own) only data files. */
  private def sweep(fs: FileSystem, dir: String, tables: Map[String, Table],
      names: Set[String]): Unit =
    for (t <- names; td = tableDir(dir, t) if fs.exists(td); s <- fs.listStatus(td)
         if (t != Root || isData(s)) && !tables.get(t).exists(_.files.contains(rel(t, s))))
      fs.delete(s.getPath, true)

  private def writeEntry(fs: FileSystem, dir: String, e: Entry): Entry = {
    val log = new Path(dir, "log")
    val tmp = new Path(log, s"${e.version}.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(mapper.writeValueAsBytes(e)) finally out.close()
    if (!fs.rename(tmp, new Path(log, s"${e.version}.json")))
      throw new java.io.IOException(s"table log: rename $tmp failed")
    e
  }

  /** Publish version N+1 of `dir`: the latest version's tables with
    * `changes` applied, under `params`. A commit that keeps any of the
    * latest version's rows must carry its parameters — rows built under
    * other parameters would silently mix. */
  def commit(spark: SparkSession, dir: String, params: Map[String, String],
      changes: Change*): Unit = commit(spark, dir, params, None, changes)

  /** As above, also recording `txn`: a streaming writer and the batch id
    * it applied. The first commit to the root table of a directory with
    * no log first commits version 0: the directory's files, as they are. */
  def commit(spark: SparkSession, dir: String, params: Map[String, String],
      txn: Option[(String, Long)], changes: Seq[Change]): Unit = {
    val fs = fsOf(spark, dir)
    val prev = latest(spark, dir).orElse(changes.find(_.table == Root).map { c =>
      val own = files(fs, dir, Root)
      val adopted = if (own.isEmpty) Map.empty[String, Table] else
        Map(Root -> Table(c.format, spark.read.format(c.format).load(dir).schema.json, own))
      writeEntry(fs, dir, Entry(0L, params, adopted, Map.empty))
    })
    val prevTables = prev.map(_.tables).getOrElse(Map.empty[String, Table])
    val replaced = changes.filter(_.replace).map(_.table).toSet
    prev.foreach(e => require(e.params == params || e.tables.keySet.subsetOf(replaced),
      s"$dir was written with ${e.params}; cannot add rows built with $params"))
    def listed(t: String): Seq[String] = prevTables.get(t).map(_.files).getOrElse(Nil)

    sweep(fs, dir, prevTables, prevTables.keySet ++ changes.map(_.table) ++ prev.map(_ => Root))
    val written = changes.map { c =>
      c.df.write.mode("append").format(c.format).save(tableDir(dir, c.table).toString)
      val fresh = files(fs, dir, c.table).filterNot(listed(c.table).contains)
      c.table -> Table(c.format, c.df.schema.json, (if (c.replace) Nil else listed(c.table)) ++ fresh)
    }
    val next = writeEntry(fs, dir, Entry(prev.fold(0L)(_.version + 1), params,
      prevTables ++ written, prev.fold(Map.empty[String, Long])(_.txns) ++ txn))

    for (t <- replaced; f <- listed(t)) fs.delete(new Path(dir, f), false)
    for (s <- fs.listStatus(new Path(dir, "log")) if s.getPath.getName != s"${next.version}.json")
      fs.delete(s.getPath, false)
  }
}
