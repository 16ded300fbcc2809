package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("foreachBatch merge: two micro-batches upsert into the master") {
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream").toString
    val masterPath = s"$dir/master"
    val ckpt1 = s"$dir/ckpt1"

    val stream = MemoryStream[(String, String, Double)]
    stream.addData(("1", "2026-01-01 10:00:00", 100.0),
      ("2", "2026-01-01 11:00:00", 200.0))
    val batches = stream.toDF()
      .toDF("offer_id", "updated_date", "price_value")
    val q1 = StreamingMerge.start(batches, masterPath, ckpt1)
    q1.awaitTermination(60000)

    val m1 = spark.read.parquet(masterPath)
    assert(m1.count() == 2)
    assert(m1.filter($"offer_id" === "1")
      .select("publication_date").as[String].collect().head
      == "2026-01-01 10:00:00")

    // batch 2 via a fresh AvailableNow run (cron-tick semantics): price drop
    val stream2 = MemoryStream[(String, String, Double)]
    stream2.addData(("1", "2026-01-02 09:00:00", 90.0))
    val q2 = StreamingMerge.start(
      stream2.toDF().toDF("offer_id", "updated_date", "price_value"),
      masterPath, s"$dir/ckpt2")
    q2.awaitTermination(60000)

    val m2 = spark.read.parquet(masterPath)
    assert(m2.count() == 2)
    val r = m2.filter($"offer_id" === "1").collect().head
    assert(r.getAs[Double]("price_value") == 90.0)
    assert(r.getAs[String]("price_changes") == "-10")
    assert(r.getAs[Long]("total_price_changes") == 1L)
  }

  test("a micro-batch replayed under the same batch id is merged once") {
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("graft-replay").toString
    val masterPath = s"$dir/master"
    val ckpt = s"$dir/ckpt"
    val stream = MemoryStream[(String, String, Double, Long)]
    def run(): Unit = StreamingMerge.start(
      stream.toDF().toDF("offer_id", "updated_date", "price_value", "seq"),
      masterPath, ckpt, Some("seq")).awaitTermination(60000)
    def changes: Long = spark.read.parquet(masterPath)
      .select("total_price_changes").as[Long].collect().head
    stream.addData(("1", "2026-01-01 10:00:00", 50000.0, 1L))
    run()
    stream.addData(("1", "2026-01-01 11:00:00", 40000.0, 2L),
      ("1", "2026-01-01 12:00:00", 45000.0, 3L))
    run()
    assert(changes == 2L)
    // the driver died after the master's commit, before the checkpoint's:
    // on restart the query runs batch 1 again
    val commit1 = new org.apache.hadoop.fs.Path(s"$ckpt/commits/1")
    assert(commit1.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(commit1, false))
    run()
    assert(changes == 2L)
  }

  test("watermarked hourly rollup finalizes windows") {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = stream.toDF().toDF("ts", "event_type", "value")
    val rolled = StreamOps.hourlyRollup(df)
    val q = rolled.writeStream.format("memory")
      .queryName("rollup").outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-roll").toString)
      .start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    stream.addData((t("2026-01-01 10:05:00"), "purchase", 10.0),
      (t("2026-01-01 10:45:00"), "purchase", 5.0),
      (t("2026-01-01 11:10:00"), "error", 1.0))
    q.processAllAvailable()
    // advance watermark far enough to close the 10:00 window
    stream.addData((t("2026-01-01 14:00:00"), "signup", 1.0))
    q.processAllAvailable()
    val rows = spark.table("rollup")
      .select($"window_start".cast("string"), $"event_type", $"n")
      .as[(String, String, Long)].collect().toSet
    q.stop()
    assert(rows.contains(("2026-01-01 10:00:00", "purchase", 2L)))
  }

  test("keyed lifecycle state emits insert and price-change CDC rows") {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[(String, Double, Long)]
    val cdc = StreamOps.lifecycle(stream.toDS(), quietMillis = 0L)
    val q = cdc.writeStream.format("memory").queryName("cdc")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-cdc").toString)
      .start()
    stream.addData(("a", 100.0, 1L), ("b", 50.0, 2L))
    q.processAllAvailable()
    stream.addData(("a", 120.0, 3L), ("b", 50.0, 4L))
    q.processAllAvailable()
    val rows = spark.table("cdc")
      .select($"key", $"kind", $"delta").as[(String, String, Option[Double])]
      .collect().toSet
    q.stop()
    assert(rows.contains(("a", "insert", None)))
    assert(rows.contains(("b", "insert", None)))
    assert(rows.contains(("a", "price_change", Some(20.0))))
    assert(!rows.exists(r => r._1 == "b" && r._2 == "price_change"))
  }

  test("event-time timeout unpublishes quiet keys when the watermark passes them") {
    implicit val sq = spark.sqlContext
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:00:00")
    val stream = MemoryStream[(String, Double, java.sql.Timestamp, Long)]
    val cdc = StreamOps.lifecycleEventTime(
      stream.toDS().toDF("key", "price", "ts", "seq"),
      quietMillis = 2L * 3600 * 1000, watermarkDelay = "1 hour")
    val q = cdc.writeStream.format("memory").queryName("etcdc")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-etcdc").toString)
      .start()
    stream.addData(("a", 100.0, ts(1), 1L), ("b", 50.0, ts(1), 2L))
    q.processAllAvailable()
    // b stays active; a goes quiet. watermark reaches 09:00 (10:00 - 1h)
    // > a's timeout (01:00 + 2h) -> 'a' unpublishes; b does not
    stream.addData(("b", 50.0, ts(10), 3L))
    q.processAllAvailable()
    stream.addData(("b", 50.0, ts(11), 4L))
    q.processAllAvailable()
    val rows = spark.table("etcdc")
      .select($"key", $"kind", $"ts").as[(String, String, Long)]
      .collect().toSet
    q.stop()
    assert(rows.contains(("a", "unpublished", ts(1).getTime)))
    assert(!rows.exists(r => r._1 == "b" && r._2 == "unpublished"))
  }

  test("streaming as-of join equals the batch operator, including " +
      "equal-ts visibility and duplicate-right tie-break") {
    implicit val sq = spark.sqlContext
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:00:00")
    // rights: user 1 at 01:00 (two duplicates — max value 20 must win),
    // 05:00; user 2 none
    val rightRows = Seq((1L, ts(1), 10.0), (1L, ts(1), 20.0),
      (1L, ts(5), 50.0))
    // lefts: before any right, AT a right ts (equal-ts visible),
    // between rights, after last; user 2 always unmatched
    val leftRows = Seq((100L, 1L, ts(0), 1.0), (101L, 1L, ts(1), 2.0),
      (102L, 1L, ts(3), 3.0), (103L, 1L, ts(7), 4.0),
      (200L, 2L, ts(2), 5.0))
    val stream = MemoryStream[(Int, Long, Long, java.sql.Timestamp, Double)]
    val out = StreamOps.asOfJoinStream(
      stream.toDS().toDF("side", "event_id", "user_id", "ts", "value"))
    val q = out.writeStream.format("memory").queryName("sasof")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-sasof").toString)
      .start()
    stream.addData(
      rightRows.map(r => (0, 0L, r._1, r._2, r._3)) ++
        leftRows.map(l => (1, l._1, l._2, l._3, l._4)): _*)
    q.processAllAvailable()
    val got = spark.table("sasof")
      .select($"event_id", $"asof_ts", $"asof_value")
      .as[(Long, Option[java.sql.Timestamp], Option[Double])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    q.stop()
    val batch = graft.ops.TemporalJoins.asOfJoin(
      leftRows.toDF("event_id", "user_id", "ts", "value"),
      rightRows.toDF("user_id", "ts", "value"),
      "user_id", "ts", Seq("value"))
      .select($"event_id", $"asof_ts", $"asof_value")
      .as[(Long, Option[java.sql.Timestamp], Option[Double])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == batch)
    assert(got(100L) == ((None, None)))                 // before any right
    assert(got(101L) == ((Some(ts(1)), Some(20.0))))    // equal-ts, max tie
    assert(got(102L) == ((Some(ts(1)), Some(20.0))))
    assert(got(103L) == ((Some(ts(5)), Some(50.0))))
    assert(got(200L) == ((None, None)))                 // keyless user
  }

  test("nearDupAgainstCorpusStream: micro-batch matches the batch " +
      "cross-corpus operator against a once-built index") {
    val dir = Files.createTempDirectory("graft-stream-xdedup").toString
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = Seq(
      (10L, base),
      (11L, "completely unrelated corpus text with no shared grams at all"),
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, base + " extra"),            // near-dup of 10
      (2L, "fresh novel document content nothing like the corpus here"),
    ).toDF("doc_id", "text")
    incoming.coalesce(1).write.parquet(s"$dir/in")
    val index = graft.ops.Dedup.indexCorpus(corpus, "doc_id", "text", n = 3)
    val q = StreamOps.nearDupAgainstCorpusStream(
      spark.readStream.schema(incoming.schema).parquet(s"$dir/in"),
      index, "text", tau = 0.5, s"$dir/out", s"$dir/ckpt")
    q.awaitTermination(120000)
    val got = spark.read.parquet(s"$dir/out")
      .select($"id_new", $"id_old").as[(Long, Long)].collect().toSet
    val batch = graft.ops.Dedup.crossCorpusJaccardPairs(
        incoming, corpus, "doc_id", "text", n = 3, tau = 0.5)
      .select($"id_new", $"id_old").as[(Long, Long)].collect().toSet
    assert(got == batch)
    assert(got == Set((1L, 10L)))
  }

  test("sampleExactStream: three-tick delivery equals the batch sample; " +
      "redelivered content cannot displace rows") {
    val dir = Files.createTempDirectory("graft-ssample").toString
    val all = (1L to 30L).toDF("id")

    def tick(lo: Long, hi: Long, ckptTag: String = "ckpt"): Unit = {
      all.filter($"id" >= lo && $"id" <= hi)
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
      StreamOps.sampleExactStream(
          spark.readStream.schema(all.schema).parquet(s"$dir/in"),
          "id", n = 5L, seed = "t1", s"$dir/sample", s"$dir/$ckptTag")
        .awaitTermination()
    }
    tick(1, 10); tick(11, 20); tick(21, 30)
    val got = spark.read.parquet(s"$dir/sample")
      .select($"id").as[Long].collect().toSet
    val batch = graft.ops.Sampling.sampleExact(all, "id", 5L, "t1")
      .select($"id").as[Long].collect().toSet
    assert(got == batch && got.size == 5)
    // redeliver already-sampled keys as a NEW file: dedup-by-key keeps
    // the published sample byte-identical
    tick(1, 10)
    val again = spark.read.parquet(s"$dir/sample")
      .select($"id").as[Long].collect().toSet
    assert(again == batch)
  }

  test("intervalJoinStreams: matches emit across micro-batches " +
      "(left buffered in state until the right side arrives)") {
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream-ij").toString
    val lStream = MemoryStream[(Long, Long, String)]
    val rStream = MemoryStream[(Long, Long, String)]
    val left = lStream.toDF().toDF("event_id", "user_id", "ts_s")
      .select($"event_id", $"user_id", $"ts_s".cast("timestamp").as("ts"))
    val right = rStream.toDF().toDF("purchase_id", "p_user_id", "p_ts_s")
      .select($"purchase_id", $"p_user_id",
        $"p_ts_s".cast("timestamp").as("p_ts"))
    val joined = StreamOps.intervalJoinStreams(left, right,
      keyExpr = "user_id = p_user_id", leftTsCol = "ts",
      rightTsCol = "p_ts", lowerSec = 300L, upperSec = 300L)
    val sink = "ij_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val q = joined.select($"event_id", $"purchase_id")
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .format("memory").queryName(sink).start()
    try {
      // batch 1: ONLY left rows — nothing can match yet
      lStream.addData((1L, 7L, "2026-01-01 10:00:00"),
        (2L, 7L, "2026-01-01 12:00:00"), // outside every window
        (3L, 8L, "2026-01-01 10:02:00"))
      q.processAllAvailable()
      assert(spark.table(sink).count() == 0)
      // batch 2: right rows arrive — buffered left joins now;
      // user 7's 10:00 event is within ±5m of the 10:04 purchase,
      // the 12:00 event is not; user 9 has no left at all
      rStream.addData((101L, 7L, "2026-01-01 10:04:00"),
        (102L, 9L, "2026-01-01 10:00:00"))
      q.processAllAvailable()
      val got = spark.table(sink)
        .as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 101L)))
    } finally q.stop()
  }

  test("quotaGate: per-user-day cap, counters carry across batches, " +
      "arrival order governs late events") {
    implicit val sq = spark.sqlContext
    def ts(d: Int, h: Int) =
      java.sql.Timestamp.valueOf(f"2026-01-0$d $h%02d:00:00")
    val stream = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val out = StreamOps.quotaGate(
      stream.toDS().toDF("ts", "user_id", "event_id"), perDay = 2)
    val sink = "quota_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val q = out.writeStream.outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-quota").toString)
      .format("memory").queryName(sink).start()
    try {
      // batch 1: user 1 files two events on day d (both accepted);
      // user 2 one event
      stream.addData((ts(1, 3), 1L, 10L), (ts(1, 5), 1L, 11L),
        (ts(1, 1), 2L, 20L))
      q.processAllAvailable()
      // batch 2: user 1's third event of the SAME day — over quota
      // even though its event time (02:00) precedes batch 1's events:
      // arrival order governs. A new day resets the count.
      stream.addData((ts(1, 2), 1L, 12L), (ts(2, 9), 1L, 13L))
      q.processAllAvailable()
      val rows = spark.table(sink)
        .select($"event_id", $"seq_in_day", $"accepted")
        .as[(Long, Int, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(rows(10L) == ((1, true)) && rows(11L) == ((2, true)))
      assert(rows(20L) == ((1, true)))
      assert(rows(12L) == ((3, false)), "cross-batch counter must carry")
      assert(rows(13L) == ((1, true)), "new day resets")
    } finally q.stop()
  }
}
