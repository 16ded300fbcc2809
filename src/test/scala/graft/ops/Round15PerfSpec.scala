package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-15 OPTIMIZATION differentials — the round's contract is "same
  * results, less work", so every rewrite that changes an operator's
  * internals is pinned here against the implementation it replaced.
  */
class Round15PerfSpec extends SparkSpec {

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def docs: DataFrame = graft.model.Tables
    .documents(spark, "/root/testdata/sf0.001")
    .select(col("doc_id"), col("text"))

  test("appendSpanGramState (append-delta publish) equals " +
      "write(merge(read)): same aggregated bar, same coverage output, " +
      "across three ticks") {
    val batches = Seq(
      docs.filter(col("doc_id") % 3 === 0),
      docs.filter(col("doc_id") % 3 === 1),
      docs.filter(col("doc_id") % 3 === 2))
    val dirA = graft.io.Scratch.dir("graft-r15-span-a-") + "/state"
    val dirB = graft.io.Scratch.dir("graft-r15-span-b-") + "/state"
    // (relative name, size) of every data file under the state table —
    // the O(batch)-publish witness: each append must carry every prior
    // delta file through UNCHANGED (kept at its old name) and
    // only add the batch's files, where the rewrite path replaces the
    // whole file set every tick
    def stateFiles(dir: String): Map[String, Long] = {
      val d = new java.io.File(s"$dir/state")
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
        .map(f => f.getName -> f.length()).toMap
    }
    var prevFiles = Map.empty[String, Long]
    batches.foreach { b =>
      val st = Dedup.spanGramState(b, "doc_id", "text", l = 12)
      // reference path: read -> merge -> full rewrite
      val merged =
        if (graft.io.AtomicParquet.exists(spark, dirB))
          Dedup.mergeSpanGramState(
            Dedup.readSpanGramState(spark, dirB), st)
        else st
      Dedup.writeSpanGramState(merged, dirB)
      // append-delta path
      Dedup.appendSpanGramState(st, dirA)

      val a = Dedup.readSpanGramState(spark, dirA)
      val r = Dedup.readSpanGramState(spark, dirB)
      assert(a.l == r.l)
      assert(rows(a.df) == rows(r.df), "aggregated bar diverged")
      assert(rows(Dedup.duplicateCoverageAgainst(
          b, a, "doc_id", "text")) ==
        rows(Dedup.duplicateCoverageAgainst(b, r, "doc_id", "text")),
        "coverage output diverged")
      val now = stateFiles(dirA)
      assert(prevFiles.forall { case (n, sz) => now.get(n).contains(sz) },
        "append publish must carry every prior delta file through " +
          "unchanged (O(batch) publish, not a rewrite)")
      assert(now.size > prevFiles.size,
        "append publish must add the batch's delta files")
      prevFiles = now
    }
    // the delta directory genuinely holds MORE part-files than ticks
    // would leave under a rewrite-with-overwrite (append layout), yet
    // reads back as the single merged bar
    val statewide = rows(Dedup.readSpanGramState(spark, dirA).df)
    val full = rows(Dedup.spanGramState(docs, "doc_id", "text", 12).df)
    assert(statewide == full,
      "three appended batches must equal the full-corpus bar")
  }

  test("appendSpanGramState compaction (compactAt) rewrites to the same " +
      "aggregated bar and bounds the delta file count") {
    val batches = Seq(
      docs.filter(col("doc_id") % 3 === 0),
      docs.filter(col("doc_id") % 3 === 1),
      docs.filter(col("doc_id") % 3 === 2))
    val dir = graft.io.Scratch.dir("graft-r15-span-c-") + "/state"
    // compactAt = 1: every append after the first finds > 1 data file
    // and takes the compacting-rewrite branch
    batches.foreach(b => Dedup.appendSpanGramState(
      Dedup.spanGramState(b, "doc_id", "text", l = 12), dir,
      compactAt = 1))
    val bar = rows(Dedup.readSpanGramState(spark, dir).df)
    val full = rows(Dedup.spanGramState(docs, "doc_id", "text", 12).df)
    assert(bar == full, "compacted bar must equal the full-corpus bar")
  }

  test("appendSpanGramState rejects a cross-L append loudly") {
    val dir = graft.io.Scratch.dir("graft-r15-span-l-") + "/state"
    Dedup.appendSpanGramState(
      Dedup.spanGramState(docs, "doc_id", "text", l = 12), dir)
    val e = intercept[IllegalArgumentException] {
      Dedup.appendSpanGramState(
        Dedup.spanGramState(docs, "doc_id", "text", l = 8), dir)
    }
    assert(e.getMessage.contains("anchor length"))
  }

  test("frozenAugmentedVocab df-0-slice re-rank equals the vocab-wide " +
      "recompute it replaced, across two chained merges") {
    val oldSide = docs.filter(col("doc_id") % 3 =!= 0)
    val batch1 = docs.filter(col("doc_id") % 6 === 0)
    val batch2 = docs.filter(col("doc_id") % 6 === 3)
    val idx0 = Dedup.indexCorpusPrefix(oldSide, "doc_id", "text",
      n = 3, tau = 0.5)
    // chain two merges: batch1's novel grams sit at df = 0 when batch2
    // interleaves more members into those collision groups — the
    // inductive step the incremental re-rank relies on
    val idx1 = Dedup.mergePrefixIndex(idx0, batch1, "text")
    val idx2 = Dedup.mergePrefixIndex(idx1, batch2, "text")
    for ((v, tag) <- Seq((idx1.vocab, "merge-1"), (idx2.vocab, "merge-2"))) {
      // the replaced implementation, applied to the same row set:
      // recompute __cx vocab-wide over (__dfc, __th) ordered by __tok
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__dfc"), col("__th")).orderBy(col("__tok"))
      val ref = v.drop("__cx")
        .withColumn("__cx", row_number().over(w).cast("long"))
      assert(rows(v) == rows(ref),
        s"$tag: stored collision ranks diverged from the vocab-wide " +
          "recompute")
      assert(v.filter(col("__dfc") === 0L).count() > 0,
        s"$tag: test must exercise novel (df-0) grams")
    }
  }
}
