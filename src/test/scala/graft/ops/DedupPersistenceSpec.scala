package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.io.{GraftFs, Scratch}

/** The persisted dedup artifacts (prefix index, span-gram state) through
  * their directory entry points: any Hadoop filesystem, and reads that
  * build their frames without a Spark job. */
class DedupPersistenceSpec extends SparkSpec {

  private def docs: DataFrame = graft.model.Tables
    .documents(spark, "/root/testdata/sf0.001")
    .select(col("doc_id"), col("text"))

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** Index write, two index ticks, three span-state appends (each one
    * past the first compacts); returns each tick's pairs and the bar. */
  private def run(root: String): (Seq[Set[Seq[Any]]], Set[Seq[Any]]) = {
    val idx = s"$root/idx"
    val spans = s"$root/spans"
    Dedup.writePrefixIndex(Dedup.indexCorpusPrefix(
      docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text"), idx)
    val pairs = Seq(0, 3).map(r => rows(Dedup.dedupAndMergePrefixIndexDir(
      spark, idx, docs.filter(col("doc_id") % 6 === r), "text")))
    for (r <- 0 until 3)
      Dedup.appendSpanGramState(Dedup.spanGramState(
        docs.filter(col("doc_id") % 3 === r), "doc_id", "text", 12),
        spans, compactAt = 1)
    (pairs, rows(Dedup.readSpanGramState(spark, spans).df))
  }

  test("prefix index and span-gram state work on a non-local Hadoop " +
      "filesystem: same pairs and bar as on file: paths") {
    val local = run(Scratch.dir("dedup-fs-local-"))
    val remote = run(GraftFs.path(spark, Scratch.dir("dedup-fs-graft-")))
    assert(local._1.forall(_.nonEmpty))
    assert(remote == local)
    assert(local._2 == rows(Dedup.spanGramState(docs, "doc_id", "text", 12).df))
  }

  test("building the readPrefixIndex and readSpanGramState frames runs " +
      "no Spark job") {
    val root = Scratch.dir("dedup-zero-job-")
    Dedup.writePrefixIndex(Dedup.indexCorpusPrefix(
      docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text"), s"$root/idx")
    Dedup.appendSpanGramState(
      Dedup.spanGramState(docs, "doc_id", "text", 12), s"$root/spans")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    val (idx, st) = try {
      val out = (Dedup.readPrefixIndex(spark, s"$root/idx"),
        Dedup.readSpanGramState(spark, s"$root/spans"))
      org.apache.spark.TestListenerBus.drain(sc)
      out
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 0)
    assert((idx.idCol, idx.n, idx.tau, st.l) == ("doc_id", 3, 0.5, 12))
    assert(idx.grams.count() > 0 && st.df.count() > 0)
  }
}
