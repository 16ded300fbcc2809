package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class Round12PropertySpec extends SparkSpec {
  import spark.implicits._

  test("crossCorpusPrefixFilterPairs equals crossCorpusJaccardPairs: " +
      "two independent cross-frame blockings, one exact pair truth") {
    val docs = graft.model.Tables
      .documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val newSide = docs.filter(col("doc_id") % 3 === 0)
    val oldSide = docs.filter(col("doc_id") % 3 =!= 0)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2))).toSet
    val lsh = pairs(Dedup.crossCorpusJaccardPairs(newSide, oldSide,
      "doc_id", "text", n = 3, tau = 0.5))
    val pf = pairs(Dedup.crossCorpusPrefixFilterPairs(newSide, oldSide,
      "doc_id", "text", n = 3, tau = 0.5))
    assert(pf == lsh, s"prefix-filter ${pf.size} vs LSH ${lsh.size}")
    assert(pf.nonEmpty) // the fixture corpus has planted near-dups
    // a verbatim copy planted across the frames scores jaccard 1.0
    val donor = oldSide.limit(1)
      .select((col("doc_id") + 3000000).as("doc_id"), col("text"))
    val donorId = donor.collect()(0).getLong(0)
    val matched = pairs(Dedup.crossCorpusPrefixFilterPairs(
      newSide.unionByName(donor.select(
        // keep the new-side id ≡ 0 (mod 3) irrelevant here — the op
        // takes the frames as given, no residue assumption
        col("doc_id"), col("text"))),
      oldSide, "doc_id", "text", n = 3, tau = 0.5))
    assert(matched.exists { case (a, _, j) => a == donorId && j == 1.0 },
      matched.toString)
  }

  test("planFingerprint2: invariant across rebuilds of the same query " +
      "(exprIds normalized away), distinct for a different plan") {
    val d = "/root/testdata/sf0.001"
    def built(): org.apache.spark.sql.DataFrame = {
      val df = graft.model.Tables.documents(spark, d)
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      df.count() // finalize the adaptive plan before fingerprinting
      df
    }
    val a = graft.Bench.planFingerprint2(built())
    val b = graft.Bench.planFingerprint2(built())
    // two builds allocate different expression ids — the normalized
    // fingerprint must not see them
    assert(a == b)
    // the harder case: a query with materialized intermediates and
    // HOF lambdas (whose variable names carry a global counter —
    // the first fingerprint version leaked it, three reps → three
    // "plans")
    def builtDedup(): org.apache.spark.sql.DataFrame = {
      val df = Dedup.ngramJaccardPairs(
        graft.model.Tables.documents(spark, d)
          .select(col("doc_id"), col("text")),
        "doc_id", "text", n = 3, tau = 0.5)
      df.count()
      df
    }
    assert(graft.Bench.planFingerprint2(builtDedup()) ==
      graft.Bench.planFingerprint2(builtDedup()))
    // ...and the typed-API case: MapPartitions nodes print the closure
    // as Class$$Lambda$<classload-order>/0x<addr>@<instance-hash> —
    // all three vary per rep/JVM and must normalize away (q171's three
    // reps fingerprinted as three different "plans" before this)
    def builtMapPartitions(): org.apache.spark.sql.DataFrame = {
      val dir = graft.sources.PngFixtures.write(spark, d)
      val bin = spark.read.format("binaryFile").load(s"$dir/*.png")
        .select(regexp_extract(col("path"), "img_(\\d+)\\.png", 1)
          .cast("long").as("doc_id"), col("content"))
      val df = Multimodal.resizeImages(bin, "doc_id", "content", 8, 8)
      df.count()
      df
    }
    assert(graft.Bench.planFingerprint2(builtMapPartitions()) ==
      graft.Bench.planFingerprint2(builtMapPartitions()))
    assert(a.length == 12 && a.forall(c => c.isDigit || ('a' to 'f')
      .contains(c)), a)
    val other = graft.model.Tables.documents(spark, d)
      .filter(col("n_chars") > 100).select(col("doc_id"))
    other.count()
    assert(graft.Bench.planFingerprint2(other) != a)
  }

  test("driver-local union-find equals both distributed CC loops on " +
      "paths, cycles, stars and random graphs") {
    val rnd = new scala.util.Random(41)
    def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val graphs: Seq[Seq[(Long, Long)]] = Seq(
      (1L to 30L).sliding(2).map(s => (s(0), s(1))).toSeq, // path
      (1L to 20L).sliding(2).map(s => (s(0), s(1))).toSeq :+
        ((20L, 1L)), // cycle
      (2L to 15L).map(i => (1L, i)), // star
      Seq.fill(60)((rnd.nextInt(40).toLong + 1, // random multigraph
        rnd.nextInt(40).toLong + 1)).filter(p => p._1 != p._2),
      Seq((5L, 5L), (7L, 7L), (3L, 9L)), // self-loops → singletons
    )
    graphs.zipWithIndex.foreach { case (g, gi) =>
      val pairs = g.toDF("id_a", "id_b")
      // driverCap = -1 forces the distributed loops; default engages
      // the union-find gate (small long-id graphs)
      // maxIter raised for the forced-distributed propagation run: the
      // 30-node path's diameter exceeds the default 25 (the documented
      // O(diameter) bound the star form exists to beat)
      val prop = labelsOf(Dedup.duplicateClusters(pairs,
        maxIter = 40, driverCap = -1L))
      val star = labelsOf(Dedup.duplicateClustersStar(pairs,
        driverCap = -1L))
      val ufProp = labelsOf(Dedup.duplicateClusters(pairs))
      val ufStar = labelsOf(Dedup.duplicateClustersStar(pairs))
      assert(ufProp == prop, s"graph $gi: union-find vs propagation")
      assert(ufStar == star, s"graph $gi: union-find vs star")
    }
    // non-long id columns must keep the distributed path (schema
    // stability): int ids still produce correct labels
    val intPairs = Seq((1, 2), (2, 3), (7, 8)).toDF("id_a", "id_b")
    val viaInt = Dedup.duplicateClusters(intPairs).collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(viaInt == Map(1 -> 1, 2 -> 1, 3 -> 1, 7 -> 7, 8 -> 7))
  }

  test("dedupByCoverage: survivors + dropped partition the corpus, " +
      "dropped is exactly the over-threshold coverage manifest") {
    val rnd = new scala.util.Random(31)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet")
    def sentence(n: Int): String =
      (1 to n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val boiler = "one two three four five six seven eight nine ten " +
      "eleven twelve"
    // docs 1/2: mostly boilerplate (high coverage); 3/4: a touch of it
    // (low); 5: clean; 6: too short for any anchor
    val docs = Seq(
      (1L, s"$boiler $boiler ${sentence(4)}"),
      (2L, s"${sentence(3)} $boiler $boiler"),
      (3L, s"${sentence(40)} $boiler ${sentence(40)}"),
      (4L, s"$boiler ${sentence(90)}"),
      (5L, sentence(60)),
      (6L, sentence(5)),
    ).toDF("doc_id", "text")
    val l = 12
    val maxPm = 500L
    val cov = Dedup.duplicateCoverage(docs, "doc_id", "text", l)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val r = Dedup.dedupByCoverage(docs, "doc_id", "text", l, maxPm)
    val kept = r.survivors.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val dropped = r.dropped.collect()
      .map(x => x.getLong(0) -> x.getLong(3)).toMap
    // partition: every doc on exactly one side
    assert(kept.intersect(dropped.keySet).isEmpty)
    assert(kept ++ dropped.keySet == cov.keySet)
    // the threshold is the coverage number, applied verbatim
    assert(kept == cov.filter(_._2 <= maxPm).keySet)
    assert(dropped == cov.filter(_._2 > maxPm))
    // survivors keep the FULL input schema
    assert(r.survivors.columns.toSeq == docs.columns.toSeq)
    // the planted boilerplate docs drop; the clean/short docs survive
    assert(!kept.contains(1L) && !kept.contains(2L))
    assert(kept.contains(5L) && kept.contains(6L))
  }
}
