package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("salted sum equals plain sum (hot-key split is transparent)") {
    val events = graft.model.Tables.events(spark, "/root/testdata/sf0.001")
    val plain = events.groupBy($"event_type")
      .agg(sum($"value").as("sum_value"), count(lit(1)).as("n"))
      .select($"event_type", round($"sum_value", 6).as("s"), $"n")
      .as[(String, Double, Long)].collect().toSet
    val salted = SkewOps.saltedSum(events.withColumnRenamed("value", "value"),
        Seq("event_type"), "value", saltBuckets = 8, spreadCol = Some("event_id"))
      .select($"event_type", round($"sum_value", 6).as("s"), $"n")
      .as[(String, Double, Long)].collect().toSet
    assert(salted == plain)
  }

  test("salted join equals plain join") {
    val fact = Seq((1, "a", 10.0), (1, "b", 20.0), (2, "c", 30.0))
      .toDF("k", "tag", "v")
    val dim = Seq((1, "one"), (2, "two")).toDF("k", "name")
    val plain = fact.join(dim, "k").select($"tag", $"name")
      .as[(String, String)].collect().toSet
    val salted = SkewOps.saltedJoin(fact, dim, "k", 4, "tag")
      .select($"tag", $"name").as[(String, String)].collect().toSet
    assert(salted == plain)
  }

  test("repetition-signals plan: hash aggregates with partial (map-side) combine, no Window") {
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = TextAnalysis.repetitionSignals(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"))           // top-1 via min(struct), not a sort
    assert(plan.contains("partial_"))          // map-side combine before the shuffle
    assert(plan.contains("HashAggregate"))
  }

  test("collocations plan: per-partition top-k (TakeOrdered), no " +
      "cartesian, map-side combined counts") {
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = TextAnalysis.collocations(docs, "text", minCount = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan) // no global sort
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("partial_"), plan)
  }

  test("exciseRepeatedSpans plan: no windows, no cartesian — anti-join " +
      "rebuild over hash keys") {
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = Dedup.exciseRepeatedSpans(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("kmeansQuantized final assignment plan: pure map over the " +
      "materialized lattice — no Exchange, no join") {
    val emb = graft.model.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val plan = Similarity.kmeansQuantized(emb, "vec_id", "embedding",
        k = 2, iters = 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("lengthBucketedBatches plan: bucket min-ranks broadcast back, " +
      "no per-bucket window") {
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", TextAnalysis.tokenCount($"text").as("n_tok"))
    val plan = Packing.lengthBucketedBatches(docs, "doc_id", "n_tok",
        batchSize = 16, boundaries = Seq(32, 64, 128))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("winnowing-pairs plan: no cartesian product, freq prune joins before the pair join") {
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = TextAnalysis.winnowingPairs(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("decontamination plan: equality gram join, no cartesian, map-side combined counts") {
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = Decontamination.flagContaminated(
        docs.filter($"doc_id" % 10 =!= 0), docs.filter($"doc_id" % 10 === 0),
        "doc_id", "text", "text", n = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
    assert(plan.contains("partial_count")) // audit counts combine map-side
  }

  test("sliding-chunks plan: pure map — no Exchange at all") {
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = Packing.slidingChunks(docs, "doc_id", "text", 64, 16)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("per-domain cap plan: exactly one shuffle, keyed by the group") {
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = Sampling.capPerGroup(docs.select($"doc_id", $"source"),
        "source", "doc_id", cap = 15, seed = "s")
      .queryExecution.executedPlan.toString
    assert(plan.split("\n").count(_.contains("Exchange")) == 1)
    assert(plan.contains("hashpartitioning(source"))
  }

  test("sketch gate plan: sketch pass is partial-merge (map-side combined HLL)") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val plan = SketchStats.statsGate(li, Seq("l_orderkey"),
        "l_extendedprice", Seq(0.5))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_approx_count_distinct"))
  }

  test("cross-corpus pairs plan: every join is equality-keyed, no cartesian") {
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = Dedup.crossCorpusJaccardPairs(
        docs.filter($"doc_id" % 3 === 0), docs.filter($"doc_id" % 3 =!= 0),
        "doc_id", "text", n = 3, tau = 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"))
  }

  test("boilerplate-strip plan: no window, no cartesian; doc freq is " +
      "map-side combined") {
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", concat($"text", lit("\nFOOTER")).as("t"))
    val plan = TextAnalysis.stripBoilerplateLines(docs, "doc_id", "t", 10L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"))
    assert(plan.contains("partial_count"))
  }

  test("encodeTokens plan: pure map over the scan — no Exchange, no " +
      "explode; the vocab rides as a task broadcast, not a join") {
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
    val vocab = TextAnalysis.buildVocab(docs, "doc_id", "text", minDf = 2L)
    val plan = TextAnalysis.encodeTokens(docs, "doc_id", "text", vocab)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Generate"), plan) // no explode of the token stream
    assert(!plan.contains("Join"), plan)
  }

  test("decodeImageStats plan: map-shaped — no Exchange") {
    val blob = Seq((1L, Array[Byte](1, 2, 3))).toDF("doc_id", "content")
    val plan = graft.ops.Multimodal.decodeImageStats(blob, "doc_id", "content")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("budget-mixing plan: rate table joins back without a forced " +
      "broadcast hint; survivor filter is a pure map") {
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"source", $"text")
    val plan = Sampling.mixToBudget(docs, "source", "doc_id",
        TextAnalysis.tokenCount($"text"), 10000L, Map("src0" -> 200L),
        30L, "mx")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"))
    // totals aggregate partial-combines map-side
    assert(plan.contains("partial_sum"))
  }

  test("scoreLinearHashed plan: pure map — the weight table rides as a " +
      "task broadcast, not a join") {
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
    val weights = spark.range(16).select($"id".cast("int").as("bucket"),
      lit(1L).as("weight_milli"))
    val plan = Scoring.scoreLinearHashed(docs, "doc_id", "text", weights, 16)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Generate"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("importanceWeights scoring pass plan: pure map (histograms are " +
      "call-time aggs, not plan-time joins)") {
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = Scoring.importanceWeights(docs,
        docs.filter($"source" === "src0"), "doc_id", "text", "text", 64)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("ngramDiversity plan: no Expand (the count+count_distinct trap), " +
      "no Window") {
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = TextAnalysis.ngramDiversity(docs, "text", Some("source"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("dedupDocLines and encodingSignals plans: pure maps, no Exchange") {
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
    val p1 = TextAnalysis.dedupDocLines(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p1.contains("Exchange"), p1)
    val p2 = TextAnalysis.encodingSignals(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p2.contains("Exchange"), p2)
    assert(p2.contains("*(1)"), p2) // the whole-stage-codegen star
  }

  test("exciseContaminatedLines plan: equality joins only, no window") {
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", concat($"text", lit("\nTAIL line")).as("t"))
    val bench = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter($"doc_id" % 10 === 0)
    val plan = Decontamination.exciseContaminatedLines(docs, bench,
        "doc_id", "t", "text", n = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      plan)
    assert(!plan.contains("Window"), plan)
  }

  test("renderConversations plan: one shuffle on the conversation key, " +
      "no window, no cartesian") {
    val turns = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(($"doc_id" % 50).as("conv_id"), $"doc_id".cast("int")
        .as("turn_idx"), lit("user").as("role"), $"text".as("content"))
    val plan = SftPrep.renderConversations(turns, "conv_id", "turn_idx",
        "role", "content")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      plan)
    // exactly one hash exchange — the conversation-key shuffle
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
  }

  test("fitContextBudget plan: windows are PARTITIONED by the " +
      "conversation key — no single-partition funnel") {
    val turns = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(($"doc_id" % 50).as("conv_id"), $"doc_id".cast("int")
        .as("turn_idx"), lit("user").as("role"), $"text".as("content"))
    val plan = SftPrep.fitContextBudget(turns, "conv_id", "turn_idx",
        "role", "content", budgetTokens = 100L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("Exchange SinglePartition"), plan)
  }

  test("preferencePairs plan: aggregation with map-side partials, " +
      "no window, no sort-per-group blowup") {
    val cands = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(($"doc_id" % 50).as("g"), $"doc_id".as("id"),
        length($"text").as("score"))
    val plan = Scoring.preferencePairs(cands, "g", "id", "score")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial"), plan) // map-side combined extrema
  }

  test("validateJsonRecords plan: pure map, no Exchange") {
    val recs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", concat(lit("{\"name\":\"x\",\"id\":"),
        $"doc_id".cast("string"), lit("}")).as("payload"))
    val plan = StructuredData.validateJsonRecords(recs, "doc_id",
        "payload", Seq("name", "id"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("gopherRules plan: pure map, no Exchange") {
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = docs.select($"doc_id",
        TextAnalysis.gopherRules($"text").as("g"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("qualityBuckets plan: group stats broadcast back, no per-group " +
      "window (groups are languages — a window would funnel a third " +
      "of the corpus through one task)") {
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", TextAnalysis.tokenCount($"text").as("score"),
        TextAnalysis.langId($"text").as("lang"))
    val plan = Scoring.qualityBuckets(docs, "doc_id", "score", "lang", 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
  }

  test("unigramViterbiSegment plan: broadcast vocab + one map stage — " +
      "no Exchange, no join") {
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
    val vocab = TextAnalysis.learnUnigramSeedVocab(docs, "text",
      maxPieceLen = 4, maxVocab = 50)
    val words = docs
      .select(explode(split(trim($"text"), "\\s+")).as("word")).distinct()
    val plan = TextAnalysis.unigramViterbiSegment(words, "word", vocab)
      .queryExecution.executedPlan.toString
    // the distinct upstream shuffles; after it the segmentation itself
    // must add no join — the vocab rides as a broadcast variable, not
    // a join side
    assert(!plan.contains("Join"), plan)
  }

  test("resolveClusters plan: map-side combined survivor aggregation, " +
      "no window, no cartesian") {
    val members = Seq((1L, 1L, 10L), (2L, 1L, 20L), (3L, 3L, 5L))
      .toDF("doc_id", "cluster_id", "n_tokens")
    val plan = Dedup.resolveClusters(members, "doc_id", "cluster_id",
        "n_tokens")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("partial_"), plan)
  }

  test("editDistancePairs plan: PassJoin candidates are equality joins " +
      "— no cartesian, no nested-loop") {
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
      .selectExpr("doc_id AS id", "substring(text, 1, 48) AS s")
    val plan = Dedup.editDistancePairs(docs, "id", "s", maxDist = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("rougeLPairs plan: prefix-filter candidates are equality joins " +
      "— no cartesian, at most the one-row minLen scalar broadcast, " +
      "no unpartitioned window") {
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
      .selectExpr("doc_id AS id",
        "slice(split(trim(text), '\\\\s+'), 1, 12) AS toks")
    val plan = Dedup.rougeLPairs(docs, "id", "toks", minPermille = 700)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // the only nested-loop joins are the broadcast of the ONE-ROW
    // corpus-minLen aggregate that tightens the prefix bound — a
    // scalar side-input, not a pair explosion. It prints twice
    // because the prefix frame sits on both sides of the candidate
    // self-join (AQE reuses the exchange at runtime).
    assert(plan.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin") <= 2, plan)
    assert(!plan.contains("Window"), plan)
  }

  test("bm25Scores plan: the query-term filter sits below the tf " +
      "aggregation (postings-sized shuffle), aggs map-side combined") {
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = Scoring.bm25Scores(docs, "doc_id", "text",
        Seq("hash", "join", "scan"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("Window"), plan)
  }

  // q214's scale claim: Spark rewrites INTERSECT ALL / EXCEPT ALL as
  // signed-multiplicity aggregates + generate — one shuffle per side,
  // never a row-by-row join that could explode on duplicate-heavy keys.
  test("bag set ops plan: INTERSECT ALL / EXCEPT ALL are aggregate+" +
      "generate, no join operator in either plan") {
    import spark.implicits._
    val a = Seq(1, 1, 1, 2, 3).toDF("k")
    val b = Seq(1, 1, 2, 2, 4).toDF("k")
    for (df <- Seq(a.intersectAll(b), a.exceptAll(b))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
        plan)
      assert(plan.contains("Generate") && plan.contains("HashAggregate"),
        plan)
    }
    // and the multiplicity semantics the DuckDB oracle pins:
    // min(m_a, m_b) copies / max(m_a - m_b, 0) copies
    assert(a.intersectAll(b).as[Int].collect().sorted.toSeq == Seq(1, 1, 2))
    assert(a.exceptAll(b).as[Int].collect().sorted.toSeq == Seq(1, 3))
  }

  test("hitsInt plan: equality joins keyed by node, map-side combined " +
      "contribution sums, no cartesian") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val plan = GraphOps.hitsInt(edges, iters = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // lineage-cut rounds: the final plan reads the last round's
    // materialized blocks, not a 2·iters-deep join tree
    assert(plan.count(_ == '\n') < 40, plan)
  }

  test("bitextMarginPairs plan: k-bounded equality joins after the " +
      "kernel — no cartesian beyond the intentional block-pair grid") {
    val d = (0L until 16L).map(i =>
        (i, Seq(math.sin(i.toDouble), math.cos(i.toDouble))))
      .toDF("vec_id", "embedding")
      .withColumn("side", $"vec_id" % 2)
    val plan = Similarity
      .bitextMarginPairs(d, "vec_id", "embedding", "side", 0L, k = 2,
        numBlocks = 2)
      .queryExecution.executedPlan.toString
    // the ONLY non-equality join allowed is the B×B packed-block grid
    // (each side ≤ numBlocks rows of packed vectors); everything after
    // the kernel must be equality-keyed
    val crossJoins = "CartesianProduct|BroadcastNestedLoopJoin".r
      .findAllIn(plan).size
    assert(crossJoins <= 1, plan)
    assert(plan.contains("SortMergeJoin") ||
      plan.contains("BroadcastHashJoin") ||
      plan.contains("ShuffledHashJoin"), plan)
  }

  test("lshPlan: per-tau chosen rank rides a Window over the " +
      "model-sized plan frame") {
    val df = Dedup.lshPlan(spark, 64, Seq(500000L))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan) // the per-tau chosen rank
    assert(df.count() == 7) // divisors of 64
  }

  test("rootToNodePaths plan: native UnionLoop recursion — no driver " +
      "loop materialization") {
    val tree = Seq((1L, None: Option[Long]), (2L, Some(1L)))
      .toDF("msg_id", "parent_id")
    val plan = Hierarchy.rootToNodePaths(tree, "msg_id", "parent_id")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("UnionLoop"), plan)
  }

  test("joinDelta plan: every term equality-keyed — no cartesian, no " +
      "nested loop") {
    val a = Seq((1L, 10L)).toDF("k", "pa")
    val da = Seq((2L, 20L, 1L)).toDF("k", "pa", "sgn")
    val b = Seq((1L, 30L)).toDF("k", "pb")
    val db = Seq((1L, 40L, -1L)).toDF("k", "pb", "sgn")
    val plan = Incremental.joinDelta(a, da, b, db, "k", "sgn")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoop"), plan)
  }

  test("weightedQuantilesLong plan: PrefixScan-backed — no " +
      "SinglePartition funnel, no window at all (r11 migration)") {
    val df = graft.model.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select($"l_extendedprice".cast("long").as("v"),
        $"l_quantity".cast("long").as("w"))
    val plan = SketchStats.weightedQuantilesLong(df, "v", "w", Seq(0.5))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"), plan)
    // the cumulative weights ride PrefixScan's streamed pass 2, not a
    // window — a Window reappearing here means the hand-rolled copy
    // came back
    assert(!plan.contains("Window"), plan)
  }

  test("dbscanGrid plan: equality-keyed joins throughout — no " +
      "cartesian (the 9-row offset replication broadcasts)") {
    val pts = Seq((1L, 0L, 0L), (2L, 5L, 5L)).toDF("id", "x", "y")
    val plan = GeoOps.dbscanGrid(pts, "id", "x", "y", 10L, 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Exchange SinglePartition"), plan)
  }

  test("cmsPointGate plan: estimate UDF runs over the MATERIALIZED " +
      "k-row top-k only — no sort, no shuffle in the final stage") {
    // without the materialize barrier the UDF project blocks the
    // sort+limit → TakeOrderedAndProject fusion and Catalyst plans a
    // GLOBAL range sort of every distinct key (measured) — the cut
    // keeps the heavy stage a plain agg+TakeOrdered and the UDF stage
    // k-row local
    val df = graft.model.Tables.events(spark, "/root/testdata/sf0.001")
    val out = SketchStats.cmsPointGate(df, "user_id", 5, 0.01, 0.9, 1)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Sort"), plan)
    assert(out.count() == 5)
  }

  test("poissonBootstrap plan: replica table broadcast, ONE hash " +
      "shuffle (the per-rep aggregation)") {
    val df = Seq((1L, 5L), (2L, 7L)).toDF("id", "v")
    val plan = Sampling.poissonBootstrap(df, "id", "v", 4, "s")
      .queryExecution.executedPlan.toString
    val hashShuffles = plan.split("\n")
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashShuffles == 1, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }
}
