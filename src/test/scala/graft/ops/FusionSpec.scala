package graft.ops

import graft.SparkSpec

class FusionSpec extends SparkSpec {
  import spark.implicits._

  test("rrfFuse: exact integer reciprocals, multi-run sum, tie to " +
      "smaller doc") {
    // query 1: doc 10 is rank 1 in BOTH runs; doc 20 rank 2 in run A
    // only; docs 30/40 tie on identical single-run rank 3
    val runs = Seq(
      (1L, 10L, 1L), (1L, 10L, 1L), (1L, 20L, 2L),
      (1L, 30L, 3L), (1L, 40L, 3L),
    ).toDF("q", "doc", "rank")
    val out = Fusion.rrfFuse(runs, "q", "doc", "rank").collect()
      .map(r => r.getAs[Long]("doc") ->
        ((r.getAs[Long]("n_runs"), r.getAs[Long]("rrf_ppb"),
          r.getAs[Int]("fused_rank")))).toMap
    assert(out(10L) == ((2L, 2L * (1000000000L / 61L), 1)))
    assert(out(20L) == ((1L, 1000000000L / 62L, 2)))
    // equal scores: doc ascending decides
    assert(out(30L)._3 == 3 && out(40L)._3 == 4)
    assert(out(30L)._2 == out(40L)._2)
  }

  test("mmrSelect: redundancy penalized, absent sims are 0, ties to " +
      "smaller doc, short groups emit < k") {
    // a most relevant; b near-duplicate of a; c less relevant but
    // novel → greedy picks a, then c (b's sim penalty buries it)
    val cands = Seq((1L, 1L, 100L), (1L, 2L, 90L), (1L, 3L, 80L),
      (2L, 7L, 50L)).toDF("qid", "doc", "rel_micro")
    val sims = Seq((1L, 1L, 2L, 1000000L), (1L, 2L, 3L, 0L))
      .toDF("qid", "doc_a", "doc_b", "sim_micro") // (1,3) pair absent → 0
    val out = Fusion.mmrSelect(cands, sims, k = 3, lambdaPermille = 700)
      .collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("mmr_rank")) ->
        ((r.getAs[Long]("doc"), r.getAs[Long]("obj")))).toMap
    assert(out((1L, 1)) == ((1L, 700L * 100L)))
    assert(out((1L, 2)) == ((3L, 700L * 80L))) // sim(3,1) absent → 0
    assert(out((1L, 3)) == ((2L, 700L * 90L - 300L * 1000000L)))
    // singleton group: one row, not k
    assert(out((2L, 1)) == ((7L, 700L * 50L)))
    assert(!out.contains((2L, 2)))
    // exact objective tie → smaller doc first
    val tied = Fusion.mmrSelect(
      Seq((1L, 5L, 10L), (1L, 4L, 10L)).toDF("qid", "doc", "rel_micro"),
      Seq.empty[(Long, Long, Long, Long)]
        .toDF("qid", "doc_a", "doc_b", "sim_micro"),
      k = 2, lambdaPermille = 700).collect()
      .map(r => r.getAs[Int]("mmr_rank") -> r.getAs[Long]("doc")).toMap
    assert(tied(1) == 4L && tied(2) == 5L)
  }

  test("mmrDiversifyEmbeddings: end-to-end shortlist + sims + greedy — " +
      "lambda steers between relevance and diversity") {
    import org.apache.spark.sql.functions.col
    // query [1,0]; d1/d2 nearly collinear with it (and each other),
    // d3 diverse at cos 0.6
    val emb = Seq(
      (100L, Seq(1.0, 0.0)),
      (1L, Seq(1.0, 0.05)),
      (2L, Seq(1.0, 0.1)),
      (3L, Seq(0.6, 0.8)),
    ).toDF("vec_id", "embedding")
    def picks(lambdaPm: Int): Map[Int, Long] =
      Fusion.mmrDiversifyEmbeddings(emb, "vec_id", "embedding",
          col("vec_id") % 100 === 0, shortlistN = 3, k = 2,
          lambdaPermille = lambdaPm)
        .collect()
        .map(r => r.getAs[Int]("mmr_rank") -> r.getAs[Long]("doc"))
        .toMap
    // relevance-heavy: top cosine d1 first, near-duplicate d2 second
    assert(picks(900) == Map(1 -> 1L, 2 -> 2L))
    // diversity-heavy: d1 first, but d2's ~0.999 sim to d1 buries it
    // under the diverse d3
    assert(picks(100) == Map(1 -> 1L, 2 -> 3L))
  }

  test("mmrDiversifyEmbeddings plan: the pair-sims stage broadcasts — " +
      "the full embedding table is never shuffled for a shortlist-" +
      "sized probe") {
    import org.apache.spark.sql.functions.col
    // kill the auto-broadcast threshold so ONLY the explicit hints can
    // produce broadcast joins — the assertion then pins the hints, not
    // the tiny test-data sizes
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val emb = (1L to 40L).map(i =>
          (i, Seq(math.sin(i.toDouble), math.cos(i.toDouble))))
        .toDF("vec_id", "embedding")
      val plan = Fusion.mmrDiversifyEmbeddings(emb, "vec_id",
          "embedding", col("vec_id") % 10 === 0, shortlistN = 4, k = 2,
          lambdaPermille = 700)
        .queryExecution.executedPlan.toString
      // both vector fetches are broadcast hash joins — never a
      // shuffled join keyed on doc_a/doc_b (a SortMergeJoin there
      // means the embedding side got exchanged for the probe)
      val n = "BroadcastHashJoin".r.findAllIn(plan).length
      assert(n >= 2, s"expected >= 2 BroadcastHashJoins, got $n:\n$plan")
      assert(!plan.contains("SortMergeJoin [doc_a"), plan)
      assert(!plan.contains("SortMergeJoin [doc_b"), plan)
      // the id PRUNE runs inside the eager materialization (invisible
      // in the final plan) — pin its shape directly: the explicit
      // broadcast hint must plan the semi join as a broadcast, at any
      // threshold (this is the join Fusion builds verbatim)
      val ids = (1L to 4L).toDF("doc")
      val prunePlan = emb.select(col("vec_id").as("doc"))
        .join(org.apache.spark.sql.functions.broadcast(ids),
          Seq("doc"), "left_semi")
        .queryExecution.executedPlan.toString
      assert(prunePlan.contains("BroadcastHashJoin"), prunePlan)
      assert(prunePlan.contains("LeftSemi"), prunePlan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("mmrDiversifyEmbeddings: vecs broadcast is gated on BYTES — " +
      "2M ids at dim 768 must not broadcast; estimate is dim-linear") {
    // the r11 hole: the row gate admits 2M ids, but 2M × 768-dim
    // doubles is ~12 GB — over Spark's 8 GB broadcast ceiling
    assert(Fusion.vecsBroadcastBytes(2000000L, 768L) >
      Fusion.VecsBroadcastCeilingBytes)
    assert(Fusion.vecsBroadcastBytes(2000000L, 1024L) >
      Fusion.VecsBroadcastCeilingBytes)
    // a genuinely probe-sized fetch stays under it
    assert(Fusion.vecsBroadcastBytes(10000L, 768L) <
      Fusion.VecsBroadcastCeilingBytes)
    // monotone in both arguments (a wider dim can only push a given id
    // set OVER the ceiling, never back under)
    assert(Fusion.vecsBroadcastBytes(1000L, 4096L) >
      Fusion.vecsBroadcastBytes(1000L, 768L))
  }

  test("sampledDim: null/empty/narrow leading rows cannot shrink the " +
      "width estimate — exact max, not a head or sample read") {
    // first row null, later rows wide: the old head(1) estimate read
    // size(null) = -1 and the byte gate admitted any frame (r12
    // advice); a prefix SAMPLE had the sibling hole — narrow summary
    // vectors ahead of wide ones (r13 review). The exact max sees the
    // widest row wherever it sits.
    val narrowFirst = (1L to 200L).map(i => (i, Seq.fill(8)(0.1))) :+
      ((201L, null.asInstanceOf[Seq[Double]])) :+
      ((202L, Seq.fill(4096)(0.25)))
    val vecs = narrowFirst.toDF("doc", "__v")
    assert(Fusion.sampledDim(vecs, "__v") == 4096L)
    // no measurable width at all → 0, which the caller must read as
    // DO-NOT-BROADCAST (dim > 0 is part of the gate)
    val nulls = Seq((1L, null.asInstanceOf[Seq[Double]]),
      (2L, Seq.empty[Double])).toDF("doc", "__v")
    assert(Fusion.sampledDim(nulls, "__v") == 0L)
  }

  test("mmrDiversifyEmbeddings: over the byte ceiling the pair joins " +
      "fall back to shuffles — and the output is unchanged") {
    import org.apache.spark.sql.functions.col
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val emb = (1L to 40L).map(i =>
          (i, Seq(math.sin(i.toDouble), math.cos(i.toDouble))))
        .toDF("vec_id", "embedding")
      // ceiling of 1 byte: every vecs frame is "too wide" — the gate
      // must route both pair joins to the shuffle path
      val wide = Fusion.mmrDiversifyEmbeddings(emb, "vec_id",
        "embedding", col("vec_id") % 10 === 0, shortlistN = 4, k = 2,
        lambdaPermille = 700, vecsCeilingBytes = 1L)
      val widePlan = wide.queryExecution.executedPlan.toString
      assert(!widePlan.contains("BroadcastHashJoin"), widePlan)
      assert(widePlan.contains("SortMergeJoin"), widePlan)
      // semantics identical to the broadcast path
      val bcast = Fusion.mmrDiversifyEmbeddings(emb, "vec_id",
        "embedding", col("vec_id") % 10 === 0, shortlistN = 4, k = 2,
        lambdaPermille = 700)
      val key = (df: org.apache.spark.sql.DataFrame) => df.collect()
        .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("mmr_rank")) ->
          ((r.getAs[Long]("doc"), r.getAs[Long]("obj")))).toMap
      assert(key(wide) == key(bcast))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("rrfFuse: invariant to input row order and run interleaving") {
    val rnd = new scala.util.Random(29)
    val rows = (1 to 200).map { _ =>
      (rnd.nextInt(5).toLong, rnd.nextInt(40).toLong,
        rnd.nextInt(10).toLong + 1) }
      .distinct
    def fused(rs: Seq[(Long, Long, Long)]): Set[(Long, Long, Long, Int)] =
      Fusion.rrfFuse(rs.toDF("q", "doc", "rank"), "q", "doc", "rank")
        .select($"query".cast("long"), $"doc", $"rrf_ppb", $"fused_rank")
        .as[(Long, Long, Long, Int)].collect().toSet
    assert(fused(rows) == fused(rnd.shuffle(rows)))
  }

  test("mmrSelect: selections ⊆ candidates, ranks contiguous from 1, " +
      "no doc selected twice, count == min(k, |cands|)") {
    val rnd = new scala.util.Random(31)
    val cands = (1 to 120).map { i =>
      (i % 7L, i.toLong, rnd.nextInt(1000).toLong) }
    val sims = for {
      q <- 0L until 7L
      a <- cands.filter(_._1 == q).map(_._2)
      b <- cands.filter(_._1 == q).map(_._2) if a < b && rnd.nextBoolean()
    } yield (q, a, b, rnd.nextInt(1000000).toLong)
    val out = Fusion.mmrSelect(cands.toDF("qid", "doc", "rel_micro"),
        sims.toDF("qid", "doc_a", "doc_b", "sim_micro"),
        k = 5, lambdaPermille = 600)
      .as[(Long, Long, Int, Long)].collect()
    val byQ = out.groupBy(_._1)
    val candsByQ = cands.groupBy(_._1)
    byQ.foreach { case (q, sel) =>
      val docs = sel.map(_._2)
      assert(docs.distinct.length == docs.length)
      assert(docs.toSet.subsetOf(candsByQ(q).map(_._2).toSet))
      assert(sel.map(_._3).sorted.toSeq ==
        (1 to math.min(5, candsByQ(q).size)).toSeq)
    }
  }

  test("mmrDiversifyEmbeddings: per-query ranks are contiguous 1..k, " +
      "selections are distinct and drawn from the true top-N shortlist") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(109)
    val emb = (0L until 60L).map(i =>
      (i, Seq.fill(8)(rnd.nextDouble() * 2 - 1)))
    val df = emb.toDF("vec_id", "embedding")
    val n = 6; val k = 3
    val out = Fusion.mmrDiversifyEmbeddings(df, "vec_id", "embedding",
        col("vec_id") % 20 === 0, shortlistN = n, k = k,
        lambdaPermille = 500)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("doc"),
        r.getAs[Int]("mmr_rank")))
    val shortlist = Similarity.cosineTopKKernelForQueries(df, "vec_id",
        "embedding", n, col("vec_id") % 20 === 0)
      .collect().map(r => (r.getAs[Long]("id"),
        r.getAs[Long]("neighbor_id"))).toSet
    out.groupBy(_._1).foreach { case (qid, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to k))
      assert(rows.map(_._2).distinct.length == k)
      rows.foreach { case (q, d, _) =>
        assert(shortlist.contains((q, d)), s"($q,$d) not in shortlist") }
    }
    assert(out.groupBy(_._1).size == 3) // vec_ids 0, 20, 40
  }
}
