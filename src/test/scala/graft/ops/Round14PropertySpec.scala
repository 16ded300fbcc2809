package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-14 persistence contracts: the r13 "deployment artifacts"
  * ([[Dedup.PrefixIndex]], [[Dedup.SpanGramState]]) must survive an
  * ACTUAL parquet round trip — schema, frozen-order invariant, and the
  * cx-recompute assumptions of [[Dedup.mergePrefixIndex]] all cross
  * the persistence boundary — plus the read → merge → write-back-to-
  * the-same-directory cycle a streaming deployment runs per batch
  * (safe because a TableLog commit deletes the old files only after the
  * new version is published).
  * Also pins the consolidated [[DriverGate]] probe and the
  * [[Dedup.SpanGramState]] anchor-length guard (r13 ADVICE).
  */
class Round14PropertySpec extends SparkSpec {

  private def docs: DataFrame = graft.model.Tables
    .documents(spark, "/root/testdata/sf0.001")
    .select(col("doc_id"), col("text"))

  private def pairs(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2))).toSet

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** Names + types only: parquet legitimately relaxes nullability on
    * read (every file column is optional in the format), so the
    * contract is "same columns, same types" — value identity is
    * asserted separately on every output. */
  private def shape(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.toSeq.map(f => f.name -> f.dataType.sql)

  private def tmpDir(tag: String): String =
    graft.io.Scratch.dir(s"graft-r14-$tag-")

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

  test("SpanGramState: cross-L merge is rejected loudly (r13 ADVICE — " +
      "cross-L hashes never match, so a silent merge would undercount)") {
    val s12 = Dedup.spanGramState(docs, "doc_id", "text", l = 12)
    val s10 = Dedup.spanGramState(docs, "doc_id", "text", l = 10)
    val e = intercept[IllegalArgumentException] {
      Dedup.mergeSpanGramState(s12, s10)
    }
    assert(e.getMessage.contains("anchor"))
  }

  test("blockedPairCtesAt slice: the predicate lands in the toks " +
      "source and is the ONLY change; the default stays byte-identical") {
    import graft.queries.OracleSql
    assert(OracleSql.blockedPairCtesAt("0.7", 2) ==
      OracleSql.blockedPairCtesAt("0.7", 2, ""))
    val sliced = OracleSql.blockedPairCtesAt("0.7", 2, "doc_id % 4 = 1")
    assert(sliced.contains("FROM documents WHERE doc_id % 4 = 1"))
    assert(sliced.replace(" WHERE doc_id % 4 = 1", "") ==
      OracleSql.blockedPairCtesAt("0.7", 2))
    // the suffixed cross-blocking generator's "" instantiation IS the
    // house fragment (q338's per-tick oracle reuses the audited
    // construction, not a fork)
    assert(OracleSql.crossPrefixPairCtes ==
      OracleSql.crossPrefixPairCtesAt(""))
    val sfx = OracleSql.crossPrefixPairCtesAt("2")
    assert(sfx.contains("cand2 AS") && sfx.contains("FROM gw2") &&
      !sfx.contains("FROM gw\n"))
  }

  test("IVF maintenance: delete/append fold order irrelevant for " +
      "disjoint sets, deleted members never retrieved, appended twins " +
      "found, empty ops are identity, both delete paths agree") {
    val emb = graft.model.Tables
      .embeddings(spark, "/root/testdata/sf0.001")
    val bulk = emb.filter(col("vec_id") % 5 =!= 4)
    val appendBatch = emb.filter(col("vec_id") % 5 === 4)
    val delIds = bulk.filter(col("vec_id") % 7 === 3).select(col("vec_id"))
    val queries = emb.filter(col("vec_id") % 11 === 0)
    def results(idx: Similarity.IvfIndex): Set[(Long, Long, Double)] =
      Similarity.annSearchIvf(queries, idx, "vec_id", "embedding",
          k = 3, nProbe = 4)
        .select(col("id"), col("neighbor_id"), col("cosine"))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          BigDecimal(r.getDouble(2)).setScale(9,
            BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet

    val base = Similarity.buildIvfIndex(bulk, "vec_id", "embedding",
      numCentroids = 8)
    // fold order: (delete then append) == (append then delete) —
    // assignment is a pure function of the FROZEN centers, so
    // disjoint maintenance ops commute
    val da = results(Similarity.appendToIvfIndex(
      Similarity.deleteFromIvfIndex(base, delIds, "vec_id"),
      appendBatch, "vec_id", "embedding"))
    val ad = results(Similarity.deleteFromIvfIndex(
      Similarity.appendToIvfIndex(base, appendBatch, "vec_id",
        "embedding"),
      delIds, "vec_id"))
    assert(da == ad)
    assert(da.nonEmpty)
    // deleted members are never retrieved
    val deleted = delIds.collect().map(_.getLong(0)).toSet
    assert(da.forall { case (_, nb, _) => !deleted(nb) })
    // appended twins are found: a RE-ID'd duplicate of each appended
    // vector (the kernel excludes equal ids — annSearchIvf's r14 doc
    // fix) probed at nProbe = 1 retrieves the appended member at
    // cosine ~1: same vector + same frozen centers ⇒ the twin's
    // rank-0 probe cell IS the member's stored cell
    val appendedIds = appendBatch.select(col("vec_id")).collect()
      .map(_.getLong(0)).toSet
    val twinProbes = appendBatch.select(
      (col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val twinHits = Similarity.annSearchIvf(twinProbes,
        Similarity.appendToIvfIndex(base, appendBatch, "vec_id",
          "embedding"),
        "vec_id", "embedding", k = 1, nProbe = 1)
      .select(col("id"), col("neighbor_id"), col("cosine")).collect()
    assert(twinHits.nonEmpty && twinHits.forall(r =>
      r.getLong(1) == r.getLong(0) - 1000000L && r.getDouble(2) > 0.999999))
    assert(appendedIds.nonEmpty)
    // empty delete and empty append are identity on search output
    val emptyIds = delIds.filter(col("vec_id") < 0)
    val emptyBatch = appendBatch.filter(col("vec_id") < 0)
    assert(results(Similarity.deleteFromIvfIndex(base, emptyIds,
      "vec_id")) == results(base))
    assert(results(Similarity.appendToIvfIndex(base, emptyBatch,
      "vec_id", "embedding")) == results(base))
    // both delete implementations agree: the broadcast pack-local
    // filter (default) vs the distributed unpack → anti-join → repack
    // (forced via maxBroadcast = -1, the driverCap convention)
    assert(results(Similarity.deleteFromIvfIndex(base, delIds,
        "vec_id", maxBroadcast = -1L)) ==
      results(Similarity.deleteFromIvfIndex(base, delIds, "vec_id")))
    // deleting EVERY bulk member leaves only appended neighbors
    val allBulkGone = Similarity.appendToIvfIndex(
      Similarity.deleteFromIvfIndex(base,
        bulk.select(col("vec_id")), "vec_id"),
      appendBatch, "vec_id", "embedding")
    val onlyAppended = results(allBulkGone)
    assert(onlyAppended.nonEmpty &&
      onlyAppended.forall { case (_, nb, _) => appendedIds(nb) })
    // UPSERT semantics (r14 review): replaying the same append — or
    // re-appending an updated vector — must REPLACE, not duplicate.
    // A duplicate entry would burn a top-k slot and distort any
    // recall denominator; search results after the replay are
    // byte-identical to the single append
    val once = Similarity.appendToIvfIndex(base, appendBatch,
      "vec_id", "embedding")
    val replayed = Similarity.appendToIvfIndex(once, appendBatch,
      "vec_id", "embedding")
    assert(results(replayed) == results(once))
    // ...and the member count did not grow
    def memberCount(idx: Similarity.IvfIndex): Long = idx.memberPacks
      .select(explode(col("mv"))).count()
    assert(memberCount(replayed) == memberCount(once))
  }

  test("DriverGate probe: type guard skips the count, cap -1 forces " +
      "distributed, and an eligible frame collects the exact pairs") {
    val spark2 = spark
    import spark2.implicits._
    val longEdges = Seq((1L, 2L), (2L, 3L), (5L, 5L))
      .toDF("src", "dst")
    // engaged: all three rows back, order preserved
    val p = DriverGate.edges(longEdges, "src", "dst")
    assert(p.count.contains(3L))
    assert(p.edges.map(_.toSeq).contains(
      Seq((1L, 2L), (2L, 3L), (5L, 5L))))
    // forced distributed: count still taken (callers reuse it), no
    // collect
    val forced = DriverGate.edges(longEdges, "src", "dst", cap = -1L)
    assert(forced.count.contains(3L) && forced.edges.isEmpty)
    // type guard: string ids never engage AND never pay a count job
    val stringEdges = Seq(("a", "b")).toDF("src", "dst")
    assert(DriverGate.edges(stringEdges, "src", "dst") ==
      DriverGate.Probe(None, None))
    // over-cap: counted but not collected
    val overCap = DriverGate.edges(longEdges, "src", "dst", cap = 2L)
    assert(overCap.count.contains(3L) && overCap.edges.isEmpty)
  }
}
