package graft.ops

import graft.SparkSpec
import graft.functions.Sketch
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Model-scoring operators: hashed linear classifier + DSIR-style
  * importance weights. */
class ScoringSpec extends SparkSpec {
  import spark.implicits._

  private def bucket(tok: String, d: Int): Int =
    (Sketch.md5_60(UTF8String.fromString(tok)) % d).toInt

  test("scoreLinearHashed: integer logit sums, bias, null/empty text") {
    val docs = Seq(
      (1L, "alpha beta alpha"),
      (2L, ""),
      (3L, null.asInstanceOf[String]),
    ).toDF("doc_id", "text")
    // every bucket weighs 7: logit = bias + 7 * n_tokens regardless of
    // which buckets the tokens hash into
    val weights = spark.range(16).select(
      $"id".cast("int").as("bucket"), lit(7L).as("weight_milli"))
    val out = Scoring.scoreLinearHashed(docs, "doc_id", "text", weights,
        buckets = 16, biasMilli = 100L)
      .select($"doc_id", $"n_tokens", $"logit_milli", $"score")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((3L, 121L, 121.0 / 3000.0)))
    // zero tokens: logit is just the bias, score normalizes by max(n,1)
    assert(out(2L) == ((0L, 100L, 0.1)))
    assert(out(3L) == ((0L, 100L, 0.1)))
  }

  test("scoreLinearHashed: JVM bucketing matches the md5Hash60 column " +
      "(single-token docs, identity weights)") {
    val docs = Seq((1L, "hello"), (2L, "world"), (3L, "graft"))
      .toDF("doc_id", "text")
    val d = 32
    // weight_milli = bucket id, so each doc's logit IS its token's bucket
    val weights = spark.range(d).select(
      $"id".cast("int").as("bucket"), $"id".as("weight_milli"))
    val out = Scoring.scoreLinearHashed(docs, "doc_id", "text", weights,
        buckets = d)
      .select($"doc_id", $"logit_milli").as[(Long, Long)].collect().toMap
    val expected = docs
      .select($"doc_id", (Dedup.md5Hash60($"text") % d).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(out == expected)
  }

  test("scoreLinearHashed rejects out-of-range buckets loudly") {
    val docs = Seq((1L, "x")).toDF("doc_id", "text")
    val bad = Seq((99, 1L)).toDF("bucket", "weight_milli")
    intercept[IllegalArgumentException] {
      Scoring.scoreLinearHashed(docs, "doc_id", "text", bad, buckets = 8)
    }
  }

  test("importanceWeights: target-like docs score above corpus-mean, " +
      "formula is the exact histogram ratio") {
    val raw = Seq(
      (1L, "aa aa bb"),   // target-ish vocabulary
      (2L, "aa bb"),
      (3L, "zz zz yy"),   // vocabulary absent from target
      (4L, ""),           // zero tokens → null importance
    ).toDF("doc_id", "text")
    val target = Seq((10L, "aa aa aa bb")).toDF("doc_id", "text")
    val d = 8
    val out = Scoring.importanceWeights(raw, target, "doc_id", "text",
        "text", buckets = d)
      .select($"doc_id", $"n_tokens", $"sum_target", $"sum_raw",
        $"importance")
      .as[(Long, Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap

    // replicate the histograms in plain Scala with the same hash
    val rawToks = Seq("aa", "aa", "bb", "aa", "bb", "zz", "zz", "yy")
    val tgtToks = Seq("aa", "aa", "aa", "bb")
    val rh = rawToks.groupBy(bucket(_, d)).view.mapValues(_.size.toLong).toMap
    val th = tgtToks.groupBy(bucket(_, d)).view.mapValues(_.size.toLong).toMap
    val totR = rawToks.size.toLong
    val totT = tgtToks.size.toLong
    def exp(toks: Seq[String]) = {
      val st = toks.map(t => th.getOrElse(bucket(t, d), 0L)).sum
      val sr = toks.map(t => rh(bucket(t, d))).sum
      (st, sr, (st.toDouble * totR) / (sr.toDouble * totT))
    }
    val (st1, sr1, i1) = exp(Seq("aa", "aa", "bb"))
    assert(out(1L) == ((1L, 3L, st1, sr1, Some(i1))))
    val (st3, sr3, i3) = exp(Seq("zz", "zz", "yy"))
    assert(out(3L) == ((3L, 3L, st3, sr3, Some(i3))))
    assert(out(4L)._5.isEmpty && out(4L)._2 == 0L)
    // unless zz/yy collide into aa/bb's buckets, doc 3 scores 0 and
    // doc 1 scores > 1 (over-represented in target)
    if (Seq("zz", "yy").map(bucket(_, d))
        .intersect(Seq("aa", "bb").map(bucket(_, d))).isEmpty) {
      assert(i3 == 0.0 && i1 > 1.0)
    }
  }

  test("trainLinearHashed learns a separable planted concept and its " +
      "quantized artifact classifies through scoreLinearHashed") {
    val docs = (1L to 80L).map { i =>
      val label = (i % 2).toDouble
      val marker = if (label == 1.0) "good good signal" else "bad bad noise"
      (i, label, s"common filler words here $marker more shared text")
    }.toDF("doc_id", "label", "text")
    val (weights, biasMilli, loss) =
      Scoring.trainLinearHashed(docs, "text", "label",
        buckets = 64, iters = 60, lr = 2.0)
    assert(loss < 0.3, s"loss $loss did not converge")
    val scored = Scoring.scoreLinearHashed(docs, "doc_id", "text",
        weights, buckets = 64, biasMilli = biasMilli)
      .join(docs.select($"doc_id", $"label"), "doc_id")
      .select($"label", $"score").as[(Double, Double)].collect()
    // every positive scores above every negative
    val pos = scored.filter(_._1 == 1.0).map(_._2)
    val neg = scored.filter(_._1 == 0.0).map(_._2)
    assert(pos.min > neg.max,
      s"classes overlap: pos.min=${pos.min} neg.max=${neg.max}")
    assert(scored.forall { case (y, s) => (s > 0) == (y == 1.0) })
  }

  test("trainLinearHashed driver-local gate matches the forced-" +
      "distributed loop (r14): same verdicts, milli-level weights") {
    val docs = (1L to 60L).map { i =>
      val label = (i % 2).toDouble
      val marker = if (label == 1.0) "good good signal" else "bad bad noise"
      (i, label, s"common filler words here $marker more shared text")
    }.toDF("doc_id", "label", "text")
    val (wL, bL, lossL) = Scoring.trainLinearHashed(docs, "text", "label",
      buckets = 64, iters = 40, lr = 2.0)
    val (wD, bD, lossD) = Scoring.trainLinearHashed(docs, "text", "label",
      buckets = 64, iters = 40, lr = 2.0, localTokenCap = -1L)
    // gradient sums depend on aggregation order by contract (FP noise
    // only) — the quantized artifact must agree to the milli, and the
    // caller-visible verdicts exactly
    val mL = wL.select($"bucket", $"weight_milli")
      .as[(Int, Long)].collect().toMap
    val mD = wD.select($"bucket", $"weight_milli")
      .as[(Int, Long)].collect().toMap
    assert(mL.keySet == mD.keySet)
    val maxDiff = mL.keys.map(k => math.abs(mL(k) - mD(k))).max
    assert(maxDiff <= 1L, s"weights diverge beyond FP noise: $maxDiff")
    assert(math.abs(bL - bD) <= 1L)
    assert(math.abs(lossL - lossD) < 1e-9)
  }

  test("trainLinearHashed rejects bad labels and empty input loudly") {
    val bad = Seq((1L, 0.5, "x")).toDF("doc_id", "label", "text")
    intercept[org.apache.spark.SparkException] {
      Scoring.trainLinearHashed(bad, "text", "label", 8)
    }
    val empty = Seq.empty[(Long, Double, String)]
      .toDF("doc_id", "label", "text")
    intercept[IllegalArgumentException] {
      Scoring.trainLinearHashed(empty, "text", "label", 8)
    }
  }

  test("importanceWeights rejects an empty target loudly") {
    val raw = Seq((1L, "a")).toDF("doc_id", "text")
    val target = Seq.empty[(Long, String)].toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Scoring.importanceWeights(raw, target, "doc_id", "text", "text", 8)
    }
  }

  test("qualityBuckets: per-group integer thirds, best score = bucket " +
    "0, score ties broken by id") {
    // lang A: 6 docs, scores 60..10 → buckets 0,0,1,1,2,2;
    // lang B: 4 docs with TIED scores → rank falls to id asc:
    // (7,8,9,10) → rn 0..3 → (0*3)/4=0, 3/4=0, 6/4=1, 9/4=2
    val df = Seq(
      (1L, 60L, "A"), (2L, 50L, "A"), (3L, 40L, "A"),
      (4L, 30L, "A"), (5L, 20L, "A"), (6L, 10L, "A"),
      (7L, 5L, "B"), (8L, 5L, "B"), (9L, 5L, "B"), (10L, 5L, "B"),
    ).toDF("id", "score", "lang")
    val out = Scoring.qualityBuckets(df, "id", "score", "lang", 3)
      .select($"id", $"bucket").as[(Long, Int)].collect().toMap
    assert(out == Map(1L -> 0, 2L -> 0, 3L -> 1, 4L -> 1, 5L -> 2,
      6L -> 2, 7L -> 0, 8L -> 0, 9L -> 1, 10L -> 2))
  }

  test("quantileNormalize maps group ranks onto global order statistics, " +
      "endpoints exact, singleton group to the global median") {
    // global sorted values (value, id): 1,2,3,4,5,6,7 → N=7
    // group A = {1,3,5,7} (n=4): ranks 1..4 → global ranks
    //   1+(r-1)*6//3 = 1,3,5,7 → normalized 1,3,5,7 (already uniform)
    // group B = {2,6} (n=2): ranks 1,2 → global ranks 1,7 → 1,7
    // group C = {4} (n=1): → global rank (7+1)//2 = 4 → 4
    val df = Seq(
      (1L, "A", 1L), (3L, "A", 3L), (5L, "A", 5L), (7L, "A", 7L),
      (2L, "B", 2L), (6L, "B", 6L),
      (4L, "C", 4L),
    ).toDF("id", "g", "v")
    val out = Scoring.quantileNormalize(df, "g", "v", "id")
      .select($"id", $"group_rank", $"group_n", $"normalized")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out == Map(
      1L -> ((1L, 4L, 1L)), 3L -> ((2L, 4L, 3L)),
      5L -> ((3L, 4L, 5L)), 7L -> ((4L, 4L, 7L)),
      2L -> ((1L, 2L, 1L)), 6L -> ((2L, 2L, 7L)),
      4L -> ((1L, 1L, 4L))))
    // every input row survives exactly once with its columns intact
    assert(Scoring.quantileNormalize(df, "g", "v", "id")
      .select($"id", $"g", $"v").as[(Long, String, Long)]
      .collect().toSet == df.as[(Long, String, Long)].collect().toSet)
  }

  test("quantileNormalize pulls two skewed groups onto one scale") {
    // group "lo" has values 0..9, group "hi" has 1000..1009: after
    // normalization both land on the same pooled order statistics
    val df = ((0 until 10).map(i => (i.toLong, "lo", i.toLong)) ++
      (0 until 10).map(i => (100L + i, "hi", 1000L + i)))
      .toDF("id", "g", "v")
    val out = Scoring.quantileNormalize(df, "g", "v", "id")
    val byGroup = out.select($"g", $"normalized")
      .as[(String, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(byGroup("lo") == byGroup("hi"), byGroup)
  }

  test("simpsonsReversal: a constructed Berkeley-style reversal flags, " +
      "a consistent dataset does not") {
    // stratum X: A 50/100 vs B 6/10 (B better); stratum Y: A 1/10 vs
    // B 20/100 (B better); pooled: A 51/110 vs B 26/110 (A better)
    def rows(st: String, side: Boolean, succ: Int, fail: Int) =
      Seq.fill(succ)((st, side, true)) ++ Seq.fill(fail)((st, side, false))
    val d = (rows("X", false, 50, 50) ++ rows("X", true, 6, 4) ++
      rows("Y", false, 1, 9) ++ rows("Y", true, 20, 80))
      .toDF("st", "side", "succ")
    val out = Scoring.simpsonsReversal(d, "st", "side", "succ")
      .collect().map(r => r.getAs[String]("stratum") ->
        ((r.getAs[Long]("direction"), r.getAs[Boolean]("reversed"))))
      .toMap
    assert(out("X") == ((-1L, false)) && out("Y") == ((-1L, false)))
    assert(out("__pooled__") == ((1L, true)))
    // same strata but B wins pooled too → no reversal
    val ok = (rows("X", false, 10, 90) ++ rows("X", true, 60, 40) ++
      rows("Y", false, 1, 9) ++ rows("Y", true, 20, 80))
      .toDF("st", "side", "succ")
    val out2 = Scoring.simpsonsReversal(ok, "st", "side", "succ")
      .collect().map(r => r.getAs[String]("stratum") ->
        r.getAs[Boolean]("reversed")).toMap
    assert(!out2("__pooled__"))
  }

  test("tokenJsdMicro: identical slices give exactly 0, disjoint " +
      "vocabularies give exactly ln2 micro, random splits sit between") {
    val a = Seq("x y z", "x x w").toDF("text")
    val same = Scoring.tokenJsdMicro(a, a, "text").collect().head
    assert(same.getAs[Long]("sum_a_term") == 0L)
    assert(same.getAs[Double]("jsd_micro") == 0.0)
    val b = Seq("p q r", "p p s").toDF("text")
    val dis = Scoring.tokenJsdMicro(a, b, "text").collect().head
    assert(dis.getAs[Double]("jsd_micro") == 693147.0) // floor(1e6 ln2)
    assert(dis.getAs[Long]("vocab") == 8L)
    val rnd = new scala.util.Random(43)
    val words = (1 to 200).map(_ => s"w${rnd.nextInt(30)}")
    val docs = words.grouped(10).map(_.mkString(" ")).toSeq.toDF("text")
    val docs2 = rnd.shuffle(words).grouped(10).map(_.mkString(" "))
      .toSeq.toDF("text")
    val mid = Scoring.tokenJsdMicro(docs, docs2, "text").collect().head
      .getAs[Double]("jsd_micro")
    assert(mid >= 0.0 - 1.0 && mid <= 693148.0) // floors can dip ~0⁻
  }
}
