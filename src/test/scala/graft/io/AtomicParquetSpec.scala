package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class AtomicParquetSpec extends SparkSpec {
  import spark.implicits._

  private def fs(path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def frame(ids: Range): DataFrame =
    ids.map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(2)

  private def rows(df: DataFrame): Seq[(Long, String)] =
    df.select("id", "v").as[(Long, String)].collect().toSeq.sorted

  private def read(dir: String): DataFrame =
    AtomicParquet.read(spark, dir, frame(0 until 0))

  test("publish swaps atomically: readers see old table, then new, never neither") {
    val dir = Scratch.dir("graft_pub") + "/master"
    AtomicParquet.publish(Seq((1L, "a")).toDF("id", "v"), dir)
    assert(spark.read.parquet(dir).count() == 1)
    AtomicParquet.publish(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    assert(spark.read.parquet(dir).count() == 2)
    // no leftover tmp/old directories after a clean publish
    assert(!fs(dir).exists(new Path(dir + "__tmp")))
    assert(!fs(dir).exists(new Path(dir + "__old")))
  }

  test("a published master reads the same through a plain parquet read, " +
      "and building AtomicParquet.read's frame runs no Spark job") {
    val dir = Scratch.dir("graft_pub_master") + "/master"
    graft.streaming.StreamingMerge.mergeIntoMaster(spark,
      Seq(("1", "2026-01-01 10:00:00", 100.0), ("2", "2026-01-01 11:00:00", 200.0))
        .toDF("offer_id", "updated_date", "price_value"), dir)
    val (master, jobs) = jobsDuring(
      AtomicParquet.read(spark, dir, sys.error("a published master needs no schema")))
    assert(jobs == 0)
    val plain = spark.read.parquet(dir)
    assert(plain.schema == master.schema)
    assert(plain.count() == 2)
    assert(plain.exceptAll(master).isEmpty && master.exceptAll(plain).isEmpty)
  }

  test("a crash after the part-files append, before the entry: version N, " +
      "and after recover a plain read is version N too") {
    val dir = Scratch.dir("graft_crash_pre") + "/master"
    AtomicParquet.publish(frame(0 until 5), dir)
    // the dead writer's part-files, with no entry listing them
    frame(5 until 9).write.mode("append").parquet(dir)
    assert(spark.read.parquet(dir).count() == 9)
    assert(rows(read(dir)) == rows(frame(0 until 5)))
    AtomicParquet.recover(spark, dir)
    assert(rows(spark.read.parquet(dir)) == rows(frame(0 until 5)))
    // healthy state: recover is a no-op
    AtomicParquet.recover(spark, dir)
    assert(rows(spark.read.parquet(dir)) == rows(frame(0 until 5)))
  }

  test("a crash after the entry rename, before the deletes: version N+1, " +
      "and after recover a plain read is version N+1 too") {
    val dir = Scratch.dir("graft_crash_post") + "/master"
    val snapshot = Scratch.dir("graft_crash_post_snap")
    AtomicParquet.publish(frame(0 until 5), dir)
    Scratch.deliver(dir, snapshot)
    AtomicParquet.publish(frame(5 until 7), dir)
    // the writer died after publishing entry 1, before its clean-up:
    // version 0's part-files and entry are still on disk
    Scratch.deliver(snapshot, dir)
    assert(spark.read.parquet(dir).count() == 7)
    assert(rows(read(dir)) == rows(frame(5 until 7)))
    AtomicParquet.recover(spark, dir)
    assert(rows(spark.read.parquet(dir)) == rows(frame(5 until 7)))
  }

  test("a directory written by df.write.parquet reads all its rows, and a " +
      "crash inside its first publish loses none") {
    val dir = Scratch.dir("graft_adopt") + "/master"
    frame(0 until 6).write.parquet(dir)
    assert(AtomicParquet.exists(spark, dir))
    assert(rows(read(dir)) == rows(frame(0 until 6)))
    val boom = udf((i: Long) => if (i >= 0) throw new IllegalStateException("boom") else i)
    intercept[Exception] {
      AtomicParquet.publish(read(dir).withColumn("id", boom(col("id"))), dir)
    }
    // and a writer that died after its append left part-files behind
    frame(100 until 103).write.mode("append").parquet(dir)
    assert(rows(read(dir)) == rows(frame(0 until 6)))
    AtomicParquet.recover(spark, dir)
    assert(rows(spark.read.parquet(dir)) == rows(frame(0 until 6)))
    AtomicParquet.publish(read(dir).unionByName(frame(6 until 8)), dir)
    assert(rows(read(dir)) == rows(frame(0 until 8)))
    assert(rows(spark.read.parquet(dir)) == rows(frame(0 until 8)))
  }
}
