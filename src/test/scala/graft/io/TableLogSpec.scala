package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class TableLogSpec extends SparkSpec {
  import spark.implicits._

  private val p = Map("k" -> "1")

  private def rows(df: DataFrame): Seq[(Long, String)] =
    df.as[(Long, String)].collect().toSeq.sorted

  private def frame(ids: Range): DataFrame =
    ids.map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(2)

  private def read(dir: String, table: String = "t"): DataFrame =
    TableLog.read(spark, dir, TableLog.latest(spark, dir).get, table)

  /** Data files in `dir/table`, relative to `dir`. */
  private def onDisk(dir: String, table: String): Set[String] = {
    val td = new Path(dir, table)
    val fs = td.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(td).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
      .map(n => s"$table/$n").toSet
  }

  private def logNames(dir: String): Set[String] =
    new java.io.File(s"$dir/log").list().filterNot(_.startsWith(".")).toSet

  test("append and replace round trip: rows, params, schema, file lists") {
    val dir = Scratch.dir("tablelog-rt-") + "/a"
    assert(TableLog.latest(spark, dir).isEmpty)
    TableLog.commit(spark, dir, p, TableLog.append("t", frame(0 until 5)),
      TableLog.replace("u", frame(100 until 102)))
    TableLog.commit(spark, dir, p, TableLog.append("t", frame(5 until 9)))
    val e1 = TableLog.latest(spark, dir).get
    assert(e1.version == 1 && e1.params == p)
    assert(rows(read(dir)) == rows(frame(0 until 9)))
    assert(rows(read(dir, "u")) == rows(frame(100 until 102)))
    // the stored schema is what parquet inference reads back
    assert(read(dir).schema == spark.read.parquet(s"$dir/t").schema)
    assert(e1.tables("t").files.toSet == onDisk(dir, "t"))

    TableLog.commit(spark, dir, p, TableLog.replace("t", frame(20 until 23)))
    val e2 = TableLog.latest(spark, dir).get
    assert(rows(read(dir)) == rows(frame(20 until 23)))
    assert(rows(read(dir, "u")) == rows(frame(100 until 102)))
    // the replaced files and the older entries are gone
    assert(e2.tables("t").files.toSet == onDisk(dir, "t"))
    assert(e1.tables("t").files.toSet.intersect(onDisk(dir, "t")).isEmpty)
    assert(logNames(dir) == Set("2.json"))

    // keeping rows under other parameters is rejected; replacing all is not
    intercept[IllegalArgumentException] {
      TableLog.commit(spark, dir, Map("k" -> "2"),
        TableLog.append("t", frame(0 until 1)))
    }
    TableLog.commit(spark, dir, Map("k" -> "2"),
      TableLog.replace("t", frame(0 until 1)), TableLog.replace("u", frame(0 until 1)))
    assert(TableLog.latest(spark, dir).get.params == Map("k" -> "2"))
  }

  test("a writer's txn at or below its recorded id is a replay: nothing " +
      "is written and the commit returns false") {
    val dir = Scratch.dir("tablelog-txn-") + "/a"
    def commit(txn: Option[(String, Long)], ids: Range): Boolean =
      TableLog.commit(spark, dir, p, txn, Seq(TableLog.append("t", frame(ids))))
    assert(commit(Some("w" -> 5L), 0 until 2))
    val v0 = TableLog.latest(spark, dir).get
    val files0 = onDisk(dir, "t")
    assert(!commit(Some("w" -> 5L), 2 until 4))
    assert(!commit(Some("w" -> 4L), 2 until 4))
    assert(TableLog.latest(spark, dir).get == v0)
    assert(onDisk(dir, "t") == files0 && logNames(dir) == Set("0.json"))
    assert(rows(read(dir)) == rows(frame(0 until 2)))
    // a higher id, another writer, and no txn all apply
    assert(commit(Some("w" -> 6L), 2 until 3))
    assert(commit(Some("v" -> 1L), 3 until 4))
    assert(commit(None, 4 until 5))
    assert(commit(None, 5 until 6))
    val e = TableLog.latest(spark, dir).get
    assert(e.version == 4 && e.txns == Map("w" -> 6L, "v" -> 1L))
    assert(rows(read(dir)) == rows(frame(0 until 6)))
  }

  test("a crash before the log rename: readers see version N, and the " +
      "next commit deletes the strays") {
    val dir = Scratch.dir("tablelog-pre-") + "/a"
    TableLog.commit(spark, dir, p, TableLog.append("t", frame(0 until 5)),
      TableLog.append("u", frame(10 until 12)))
    val v0 = TableLog.latest(spark, dir).get
    // the writer dies inside the commit: `t`'s new files are written,
    // `u`'s write fails, no entry is published
    val boom = udf((i: Long) => if (i >= 0) throw new IllegalStateException("boom") else i)
    intercept[Exception] {
      TableLog.commit(spark, dir, p, TableLog.append("t", frame(5 until 9)),
        TableLog.append("u", frame(0 until 3).withColumn("id", boom(col("id")))))
    }
    // and another left a half-written entry behind
    val tmp = new java.io.File(s"$dir/log/1.json.tmp")
    java.nio.file.Files.writeString(tmp.toPath, "{\"params\":")
    assert(onDisk(dir, "t").size > v0.tables("t").files.size)
    assert(TableLog.latest(spark, dir).get == v0)
    assert(rows(read(dir)) == rows(frame(0 until 5)))
    assert(rows(read(dir, "u")) == rows(frame(10 until 12)))

    TableLog.commit(spark, dir, p, TableLog.append("u", frame(12 until 13)))
    val v1 = TableLog.latest(spark, dir).get
    assert(v1.version == 1)
    assert(onDisk(dir, "t") == v0.tables("t").files.toSet)
    assert(v1.tables("u").files.toSet == onDisk(dir, "u"))
    assert(rows(read(dir)) == rows(frame(0 until 5)))
    assert(rows(read(dir, "u")) == rows(frame(10 until 13)))
    assert(logNames(dir) == Set("1.json"))
  }

  test("a crash after the log rename: readers see version N+1 only, and " +
      "the next commit deletes the dropped files and the old entries") {
    val dir = Scratch.dir("tablelog-post-") + "/a"
    val snapshot = Scratch.dir("tablelog-post-snap-")
    TableLog.commit(spark, dir, p, TableLog.append("t", frame(0 until 5)))
    val v0 = TableLog.latest(spark, dir).get
    Scratch.deliver(dir, snapshot)
    TableLog.commit(spark, dir, p, TableLog.replace("t", frame(7 until 9)))
    // the writer died after publishing 1.json, before its clean-up:
    // version 0's entry and files are still on disk
    Scratch.deliver(snapshot, dir)
    assert(logNames(dir) == Set("0.json", "1.json"))
    assert(v0.tables("t").files.toSet.subsetOf(onDisk(dir, "t")))
    assert(TableLog.latest(spark, dir).get.version == 1)
    assert(rows(read(dir)) == rows(frame(7 until 9)))

    TableLog.commit(spark, dir, p, TableLog.append("t", frame(9 until 10)))
    val v2 = TableLog.latest(spark, dir).get
    assert(onDisk(dir, "t") == v2.tables("t").files.toSet)
    assert(v0.tables("t").files.toSet.intersect(onDisk(dir, "t")).isEmpty)
    assert(logNames(dir) == Set("2.json"))
    assert(rows(read(dir)) == rows(frame(7 until 10)))
  }

  test("a directory copied with Scratch.deliver reads the same rows") {
    val dir = Scratch.dir("tablelog-copy-") + "/a"
    TableLog.commit(spark, dir, p, TableLog.append("t", frame(0 until 5)))
    TableLog.commit(spark, dir, p, TableLog.append("t", frame(5 until 8)))
    val copy = Scratch.dir("tablelog-copy-dst-") + "/a"
    Scratch.deliver(dir, copy)
    assert(rows(read(copy)) == rows(frame(0 until 8)))
    // the copy is independent: a commit to it leaves the original alone
    TableLog.commit(spark, copy, p, TableLog.replace("t", frame(0 until 1)))
    assert(rows(read(copy)) == rows(frame(0 until 1)))
    assert(rows(read(dir)) == rows(frame(0 until 8)))
  }
}
