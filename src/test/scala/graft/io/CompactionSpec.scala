package graft.io

import org.apache.spark.sql.functions._
import graft.SparkSpec

class CompactionSpec extends SparkSpec {
  import spark.implicits._

  test("compact: 40-file mess becomes ceil(n/target) files with " +
      "identical content; manifest round-trips and detects drift") {
    val root = Scratch.dir("compact-spec-")
    val dir = s"$root/t"
    val data = (0L until 100L).map(i => (i, s"row$i")).toDF("id", "v")
    data.repartition(40).write.parquet(dir)
    val before = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(before > 10)
    val (rows, b, a) = Compaction.compact(spark, dir, 30L)
    assert(rows == 100L && b == before && a == 4) // ceil(100/30)
    val back = spark.read.parquet(dir).as[(Long, String)].collect().toSet
    assert(back == (0L until 100L).map(i => (i, s"row$i")).toSet)
    Compaction.writeManifest(spark, dir)
    val (mr, ms, mf) = Compaction.readManifest(dir)
    assert(mr == 100L && mf == 4)
    assert(ms == Compaction.contentFingerprint(spark.read.parquet(dir)))
    // a changed row moves the fingerprint
    val tampered = spark.read.parquet(dir)
      .withColumn("v", when($"id" === 7L, lit("TAMPERED")).otherwise($"v"))
    assert(Compaction.contentFingerprint(tampered) != ms)
    // fingerprint is partition-order-free
    assert(Compaction.contentFingerprint(
      spark.read.parquet(dir).repartition(13)) == ms)
    intercept[IllegalArgumentException] {
      Compaction.readManifest(s"$root/nope")
    }
  }

  test("compact and the manifest go through the path's Hadoop filesystem") {
    val dir = GraftFs.path(spark, Scratch.dir("compact-graftfs-")) + "/t"
    (0L until 100L).map(i => (i, s"row$i")).toDF("id", "v")
      .repartition(20).write.parquet(dir)
    val (rows, before, after) = Compaction.compact(spark, dir, 50L)
    assert(rows == 100L && before == 20 && after == 2)
    Compaction.writeManifest(spark, dir)
    val (mr, ms, mf) = Compaction.readManifest(dir)
    assert(mr == 100L && mf == 2)
    assert(ms == Compaction.contentFingerprint(spark.read.parquet(dir)))
  }
}
