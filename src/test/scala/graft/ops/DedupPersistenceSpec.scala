package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.io.{GraftFs, Scratch, TableLog}

/** The persisted dedup artifacts: the prefix index ([[Dedup.PrefixIndex]])
  * and the span-gram state ([[Dedup.SpanGramState]]). Each incremental
  * path is pinned against the from-scratch operator it replaces (the
  * fresh-union cross pairs, the full-corpus bar and coverage, a full
  * rewrite of the directory); both artifacts cross a parquet round trip
  * and the read → merge → write-back-to-the-same-directory cycle; the
  * directory entry points work on any Hadoop filesystem, read without a
  * Spark job, compact past `CompactAt` files, and run a pinned number of
  * jobs per batch. */
class DedupPersistenceSpec extends SparkSpec {

  private def docs: DataFrame = graft.model.Tables
    .documents(spark, "/root/testdata/sf0.001")
    .select(col("doc_id"), col("text"))

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def pairs(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2))).toSet

  /** Rows with their multiplicities: a compaction must neither lose nor
    * duplicate one. */
  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).map {
      case (r, rs) => r -> rs.size }

  /** Names + types only: parquet legitimately relaxes nullability on
    * read (every file column is optional in the format), so the
    * contract is "same columns, same types" — value identity is
    * asserted separately on every output. */
  private def shape(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.toSeq.map(f => f.name -> f.dataType.sql)

  private def tmpDir(tag: String): String = Scratch.dir(s"graft-dedup-$tag-")

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
    val ((idx, st), jobs) = jobsDuring((Dedup.readPrefixIndex(spark, s"$root/idx"),
      Dedup.readSpanGramState(spark, s"$root/spans")))
    assert(jobs == 0)
    assert((idx.idCol, idx.n, idx.tau, st.l) == ("doc_id", 3, 0.5, 12))
    assert(idx.grams.count() > 0 && st.df.count() > 0)
  }

  test("indexed cross-corpus prefix path equals the fresh-union path — " +
      "built whole, built-then-merged, and merged in either order") {
    val newSide = docs.filter(col("doc_id") % 3 === 0)
    val oldSide = docs.filter(col("doc_id") % 3 =!= 0)
    val b1 = docs.filter(col("doc_id") % 3 === 1)
    val b2 = docs.filter(col("doc_id") % 3 === 2)
    val fresh = pairs(Dedup.crossCorpusPrefixFilterPairs(newSide,
      oldSide, "doc_id", "text", n = 3, tau = 0.5))
    assert(fresh.nonEmpty) // the fixture corpus has planted near-dups
    // index built over the whole old side in one pass
    val whole = Dedup.indexCorpusPrefix(oldSide, "doc_id", "text",
      n = 3, tau = 0.5)
    assert(pairs(Dedup.crossCorpusPrefixFilterPairsIndexed(
      newSide, whole, "text")) == fresh)
    // built on batch 1, batch 2 folded in through the mergeable
    // update (novel grams enter the frozen order at df = 0 — a
    // genuinely different order than the fresh union's)
    val merged12 = Dedup.mergePrefixIndex(
      Dedup.indexCorpusPrefix(b1, "doc_id", "text", n = 3, tau = 0.5),
      b2, "text")
    assert(pairs(Dedup.crossCorpusPrefixFilterPairsIndexed(
      newSide, merged12, "text")) == fresh)
    // ...and in the opposite fold order: the frozen dfs differ again,
    // the exact-verified output must not
    val merged21 = Dedup.mergePrefixIndex(
      Dedup.indexCorpusPrefix(b2, "doc_id", "text", n = 3, tau = 0.5),
      b1, "text")
    assert(pairs(Dedup.crossCorpusPrefixFilterPairsIndexed(
      newSide, merged21, "text")) == fresh)
    // chained DOUBLE merge: the second merge's novel grams land in
    // df = 0 collision groups that already hold the first merge's
    // novel grams — the cx recompute must keep the relative order of
    // existing members (by gram text) so prefixes persisted after
    // merge 1 stay valid through merge 2
    val b2a = b2.filter(col("doc_id") % 2 === 0)
    val b2b = b2.filter(col("doc_id") % 2 =!= 0)
    val chained = Dedup.mergePrefixIndex(
      Dedup.mergePrefixIndex(
        Dedup.indexCorpusPrefix(b1, "doc_id", "text", n = 3, tau = 0.5),
        b2a, "text"),
      b2b, "text")
    assert(pairs(Dedup.crossCorpusPrefixFilterPairsIndexed(
      newSide, chained, "text")) == fresh)
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

  test("PrefixIndex survives a parquet round trip: schema, query " +
      "output, merge-on-reloaded-index, and the write-back cycle") {
    val newSide = docs.filter(col("doc_id") % 3 === 0)
    val oldBulk = docs.filter(col("doc_id") % 3 =!= 0 &&
      col("doc_id") % 30 =!= 1)
    val slice = docs.filter(col("doc_id") % 30 === 1)
    val fresh = pairs(Dedup.crossCorpusPrefixFilterPairs(
      newSide, docs.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", n = 3, tau = 0.5))
    assert(fresh.nonEmpty)

    val built = Dedup.indexCorpusPrefix(oldBulk, "doc_id", "text",
      n = 3, tau = 0.5)
    val dir = tmpDir("pidx")
    Dedup.writePrefixIndex(built, dir)
    val reloaded = Dedup.readPrefixIndex(spark, dir)

    // schema pins (names + types; see `shape` for the nullability rule)
    assert(shape(reloaded.vocab) == shape(built.vocab))
    assert(shape(reloaded.grams) == shape(built.grams))
    assert(shape(reloaded.prefixes) == shape(built.prefixes))
    // scalar parameters come back from the log entry
    assert(reloaded.idCol == "doc_id" && reloaded.n == 3 &&
      reloaded.tau == 0.5)
    // vocab content identical — the frozen order IS these rows
    assert(rows(reloaded.vocab) == rows(built.vocab))

    // query through the reloaded index == query through the in-memory
    // index (pre-merge: both run against the bulk side only)
    assert(pairs(Dedup.crossCorpusPrefixFilterPairsIndexed(
        newSide, reloaded, "text")) ==
      pairs(Dedup.crossCorpusPrefixFilterPairsIndexed(
        newSide, built, "text")))

    // the deployment cycle: merge a batch INTO the reloaded index and
    // query — must equal the fresh whole-corpus path (q331 semantics);
    // the frozen-order and cx-recompute invariants crossed the
    // boundary iff this holds
    val mergedReloaded = Dedup.mergePrefixIndex(reloaded, slice, "text")
    assert(pairs(Dedup.crossCorpusPrefixFilterPairsIndexed(
      newSide, mergedReloaded, "text")) == fresh)

    // write the MERGED index back to the SAME directory (its frames
    // lazily read that directory's parquet — safe because the commit
    // deletes the old files only after publishing), re-read, query again
    Dedup.writePrefixIndex(mergedReloaded, dir)
    val rereloaded = Dedup.readPrefixIndex(spark, dir)
    assert(pairs(Dedup.crossCorpusPrefixFilterPairsIndexed(
      newSide, rereloaded, "text")) == fresh)

    // CRASH BEFORE THE LOG ENTRY LANDS: a write that died after its
    // table files were written leaves them beside the live ones — the
    // reader must see the published index only, not the strays
    val gramRows = rereloaded.grams.count()
    built.grams.write.mode("append").parquet(s"$dir/grams")
    built.prefixes.write.mode("append").parquet(s"$dir/prefixes")
    val healed = Dedup.readPrefixIndex(spark, dir)
    assert(pairs(Dedup.crossCorpusPrefixFilterPairsIndexed(
      newSide, healed, "text")) == fresh)
    assert(healed.grams.count() == gramRows) // strays not read
  }

  test("dedupAndMergePrefixIndexDir (append-structured publish) equals " +
      "write(merge(read)): same pairs, row-identical directory, same " +
      "next-batch behavior after a second dir merge") {
    val oldSide = docs.filter(col("doc_id") % 3 =!= 0)
    val batch1 = docs.filter(col("doc_id") % 6 === 0)
    val batch2 = docs.filter(col("doc_id") % 6 === 3)
    val built = Dedup.indexCorpusPrefix(oldSide, "doc_id", "text",
      n = 3, tau = 0.5)
    val dirA = tmpDir("dirmerge-a") + "/idx"
    val dirB = tmpDir("dirmerge-b") + "/idx"
    Dedup.writePrefixIndex(built, dirA)
    Dedup.writePrefixIndex(built, dirB)

    // reference path: read -> separate dedup + merge -> full rewrite
    val refIdx = Dedup.readPrefixIndex(spark, dirB)
    val refPairs = rows(Dedup.crossCorpusPrefixFilterPairsIndexed(
      batch1, refIdx, "text"))
    Dedup.writePrefixIndex(
      Dedup.mergePrefixIndex(refIdx, batch1, "text"), dirB)

    val dirPairs = rows(Dedup.dedupAndMergePrefixIndexDir(
      spark, dirA, batch1, "text"))
    assert(dirPairs == refPairs, "tick-1 pair set diverged")
    assert(dirPairs.nonEmpty)

    // the two directories must hold row-identical frames
    val a = Dedup.readPrefixIndex(spark, dirA)
    val b = Dedup.readPrefixIndex(spark, dirB)
    assert(rows(a.vocab) == rows(b.vocab), "vocab diverged")
    assert(rows(a.grams) == rows(b.grams), "grams diverged")
    assert(rows(a.prefixes) == rows(b.prefixes), "prefixes diverged")
    assert((a.idCol, a.n, a.tau) == (b.idCol, b.n, b.tau))

    // and answer the NEXT batch identically through ANOTHER dir merge
    val tick2A = rows(Dedup.dedupAndMergePrefixIndexDir(
      spark, dirA, batch2, "text"))
    val tick2B = rows(Dedup.crossCorpusPrefixFilterPairsIndexed(
      batch2, Dedup.readPrefixIndex(spark, dirB), "text"))
    assert(tick2A == tick2B, "tick-2 pair set diverged")
    assert(tick2A.nonEmpty)
  }

  /** An index over the old side whose `grams` and `prefixes` tables are
    * written `files` wide, at `dir`. */
  private def indexAt(dir: String, files: Option[Int]): String = {
    val built = Dedup.indexCorpusPrefix(
      docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text")
    Dedup.writePrefixIndex(files.fold(built)(f => built.copy(
      grams = built.grams.repartition(f),
      prefixes = built.prefixes.repartition(f))), dir)
    dir
  }

  private def listed(dir: String, table: String): Int =
    TableLog.latest(spark, dir).get.tables(table).files.size

  test("dedupAndMergePrefixIndexDir compacts grams and prefixes past 64 " +
      "files: session-wide tables, the rows of an appended copy, the same " +
      "next-tick pairs, and a crash before the entry keeps version N") {
    val batch1 = docs.filter(col("doc_id") % 6 === 0)
    val batch2 = docs.filter(col("doc_id") % 6 === 3)
    val root = tmpDir("compact")
    val wide = indexAt(s"$root/wide", Some(70))
    val narrow = indexAt(s"$root/narrow", None)
    val crash = indexAt(s"$root/crash", Some(70))
    assert(listed(wide, "grams") == 70 && listed(wide, "prefixes") == 70)
    assert(listed(narrow, "grams") <= 64)

    val p1 = rows(Dedup.dedupAndMergePrefixIndexDir(spark, wide, batch1, "text"))
    assert(p1.nonEmpty)
    assert(p1 == rows(Dedup.dedupAndMergePrefixIndexDir(spark, narrow, batch1, "text")))
    val par = spark.sparkContext.defaultParallelism
    for (t <- Seq("grams", "prefixes")) {
      assert(listed(wide, t) == par, s"$t not compacted")
      assert(new java.io.File(s"$wide/$t").list().count(_.endsWith(".parquet")) == par)
    }
    val (w, n) = (Dedup.readPrefixIndex(spark, wide), Dedup.readPrefixIndex(spark, narrow))
    assert(bag(w.vocab) == bag(n.vocab))
    assert(bag(w.grams) == bag(n.grams))
    assert(bag(w.prefixes) == bag(n.prefixes))
    assert(rows(Dedup.dedupAndMergePrefixIndexDir(spark, wide, batch2, "text")) ==
      rows(Dedup.dedupAndMergePrefixIndexDir(spark, narrow, batch2, "text")))

    // the writer dies after the compacting writes, before its entry
    val v0 = TableLog.latest(spark, crash).get
    val before = Dedup.readPrefixIndex(spark, crash)
    val (grams0, prefixes0) = (bag(before.grams), bag(before.prefixes))
    intercept[java.io.IOException] {
      Dedup.dedupAndMergePrefixIndexDir(spark,
        GraftFs.noEntryPath(spark, crash), batch1, "text")
    }
    assert(new java.io.File(s"$crash/grams").list()
      .count(_.endsWith(".parquet")) == 70 + par)
    assert(TableLog.latest(spark, crash).get == v0)
    val after = Dedup.readPrefixIndex(spark, crash)
    assert(bag(after.grams) == grams0 && bag(after.prefixes) == prefixes0)
    // ...and the retried tick compacts as if nothing had happened
    assert(rows(Dedup.dedupAndMergePrefixIndexDir(spark, crash, batch1, "text")) == p1)
    assert(listed(crash, "grams") == par && listed(crash, "prefixes") == par)
  }

  test("dedupAndMergePrefixIndexDir runs a pinned number of Spark jobs, " +
      "steady and compacting") {
    val batch = docs.filter(col("doc_id") % 6 === 0)
    val root = tmpDir("jobs")
    val steady = indexAt(s"$root/steady", None)
    val compacting = indexAt(s"$root/compacting", Some(70))
    val (_, steadyJobs) = jobsDuring(
      Dedup.dedupAndMergePrefixIndexDir(spark, steady, batch, "text"))
    val (_, compactingJobs) = jobsDuring(
      Dedup.dedupAndMergePrefixIndexDir(spark, compacting, batch, "text"))
    assert(listed(compacting, "grams") == spark.sparkContext.defaultParallelism)
    // the batch side is built once per call: computing its gram frame,
    // vocab extension or prefix rows twice would move both counts.
    // Compacting adds 2 jobs listing the 70-file scans and 2 for the
    // two repartition shuffles
    assert((steadyJobs, compactingJobs) == (21, 25))
  }

  test("SpanGramState survives a parquet round trip: l, counts, " +
      "coverage, merge-on-reloaded-state, and the write-back cycle") {
    val b0 = docs.filter(col("doc_id") % 2 === 0)
    val b1 = docs.filter(col("doc_id") % 2 =!= 0)
    val s0 = Dedup.spanGramState(b0, "doc_id", "text", l = 12)
    val dir = tmpDir("span")
    Dedup.writeSpanGramState(s0, dir)
    val r0 = Dedup.readSpanGramState(spark, dir)
    assert(r0.l == 12)
    assert(shape(r0.df) == shape(s0.df))
    assert(rows(r0.df) == rows(s0.df))

    // merge a fresh batch state into the RELOADED state; coverage of
    // the batch against it must equal the all-in-memory fold — and
    // equal full-corpus coverage restricted to the batch (the q334
    // replay identity, now across the persistence boundary)
    val s1 = Dedup.spanGramState(b1, "doc_id", "text", l = 12)
    val mergedReloaded = Dedup.mergeSpanGramState(r0, s1)
    val mergedMemory = Dedup.mergeSpanGramState(s0, s1)
    val covReloaded = rows(Dedup.duplicateCoverageAgainst(
      b1, mergedReloaded, "doc_id", "text"))
    assert(covReloaded == rows(Dedup.duplicateCoverageAgainst(
      b1, mergedMemory, "doc_id", "text")))
    assert(covReloaded == rows(Dedup.duplicateCoverage(
      docs, "doc_id", "text", l = 12).filter(col("doc_id") % 2 =!= 0)))
    assert(covReloaded.nonEmpty)

    // write the merged state back to the SAME directory (it lazily
    // reads that directory — the q336 foreachBatch cycle), re-read,
    // and check the counts are the full-corpus bar
    Dedup.writeSpanGramState(mergedReloaded, dir)
    val rAll = Dedup.readSpanGramState(spark, dir)
    val fullBar = rows(
      Dedup.spanGramState(docs, "doc_id", "text", l = 12).df)
    assert(rows(rAll.df) == fullBar)

    // crash before the log entry lands: a write that died after its
    // state files were written leaves extra partial counts on disk —
    // the probe still answers true AND the read returns the published
    // bar (summing the strays in would inflate every count)
    s1.df.write.mode("append").parquet(s"$dir/state")
    assert(graft.io.AtomicParquet.exists(spark, dir))
    assert(rows(Dedup.readSpanGramState(spark, dir).df) == fullBar)
    // ...and on a never-written dir the probe is simply false
    assert(!graft.io.AtomicParquet.exists(spark, tmpDir("empty") + "/x"))
  }

  test("span-gram state: fold order irrelevant; accumulated state " +
      "reproduces the full-corpus bar and coverage exactly") {
    val b = (0 to 2).map(k => docs.filter(col("doc_id") % 3 === k))
    val states = b.map(Dedup.spanGramState(_, "doc_id", "text", l = 12))
    def asMap(df: DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s012 = Dedup.mergeSpanGramState(
      Dedup.mergeSpanGramState(states(0), states(1)), states(2))
    val s210 = Dedup.mergeSpanGramState(states(2),
      Dedup.mergeSpanGramState(states(1), states(0)))
    val folded = asMap(s012.df)
    assert(folded == asMap(s210.df))
    // merged batch states == the single-pass full-corpus state
    assert(folded == asMap(
      Dedup.spanGramState(docs, "doc_id", "text", l = 12).df))
    assert(folded.nonEmpty)

    // replay differential: batch coverage against the accumulated
    // state equals full-corpus coverage restricted to the batch
    val incremental = rows(Dedup.duplicateCoverageAgainst(b(2), s012,
      "doc_id", "text"))
    val fullRestricted = rows(Dedup.duplicateCoverage(docs,
        "doc_id", "text", l = 12)
      .filter(col("doc_id") % 3 === 2))
    assert(incremental == fullRestricted)
    assert(incremental.nonEmpty)
    // self-state identity: spans against your own state ARE
    // duplicateSpans (the non-incremental operator delegates to the
    // same bar + merge)
    val selfState = Dedup.spanGramState(docs, "doc_id", "text", l = 12)
    assert(rows(Dedup.duplicateSpansAgainst(docs, selfState,
        "doc_id", "text")) ==
      rows(Dedup.duplicateSpans(docs, "doc_id", "text", l = 12)))
  }

  test("SpanGramState: cross-L merge is rejected loudly (r13 ADVICE — " +
      "cross-L hashes never match, so a silent merge would undercount)") {
    val s12 = Dedup.spanGramState(docs, "doc_id", "text", l = 12)
    val s10 = Dedup.spanGramState(docs, "doc_id", "text", l = 10)
    val e = intercept[IllegalArgumentException] {
      Dedup.mergeSpanGramState(s12, s10)
    }
    assert(e.getMessage.contains("anchor"))
  }

  test("appendSpanGramState (append-delta publish) equals " +
      "write(merge(read)): same aggregated bar, same coverage output, " +
      "across three ticks") {
    val batches = Seq(
      docs.filter(col("doc_id") % 3 === 0),
      docs.filter(col("doc_id") % 3 === 1),
      docs.filter(col("doc_id") % 3 === 2))
    val dirA = tmpDir("span-a") + "/state"
    val dirB = tmpDir("span-b") + "/state"
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
    val dir = tmpDir("span-c") + "/state"
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
    val dir = tmpDir("span-l") + "/state"
    Dedup.appendSpanGramState(
      Dedup.spanGramState(docs, "doc_id", "text", l = 12), dir)
    val e = intercept[IllegalArgumentException] {
      Dedup.appendSpanGramState(
        Dedup.spanGramState(docs, "doc_id", "text", l = 8), dir)
    }
    assert(e.getMessage.contains("anchor length"))
  }
}
