package graft.io

import java.nio.file.Files

import graft.SparkSpec

class PerfTrackerSpec extends SparkSpec {

  test("A13 tracker accumulates task metrics; log line is valid JSON") {
    val t = PerfTracker.install(spark)
    spark.range(100000).selectExpr("sum(id)").collect()
    // the listener bus is asynchronous — drain it before the snapshot
    t.awaitQuiesce()
    val s = t.snapshot()
    assert(s.processed > 0)
    assert(s.successful == s.processed && s.failed == 0)
    assert(s.executorRunTimeMs >= 0 && s.jvmHeapUsedMb > 0)

    val line = t.logLine()
    assert(line.startsWith("{") && line.endsWith("}"))
    for (k <- Seq("processed", "successful", "failed", "retried", "speed",
        "records_read", "bytes_read", "jvm_heap_used_mb", "jvm_gc_time_ms",
        "shuffle_bytes_read", "shuffle_bytes_written", "spilled_bytes"))
      assert(line.contains("\"" + k + "\":"), s"missing $k in $line")

    val f = Files.createTempFile("graft_perf", ".jsonl")
    t.writeLog(f.toString)
    t.writeLog(f.toString) // appends
    assert(Files.readAllLines(f).size == 2)
    assert(t.summaryLine().count(_ == '|') == 5)
  }

  test("shuffle and GC deltas populate across a shuffling job") {
    val t = PerfTracker.install(spark)
    import spark.implicits._
    spark.range(200000).select(($"id" % 97).as("k"))
      .groupBy($"k").count().collect()
    t.awaitQuiesce()
    val s = t.snapshot()
    // a groupBy over 32 partitions must move SOME shuffle bytes; GC and
    // spill may legitimately be zero on a small job
    assert(s.shuffleBytesWritten > 0 && s.shuffleBytesRead > 0)
    assert(s.jvmGcTimeMs >= 0 && s.spilledBytes >= 0)
  }
}
