package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-8 analytics wave: association rules, Kaplan–Meier, Welch t,
  * Benford audit, autocorrelation, grid radius join, sliding distinct.
  * Every expectation below is hand-computed on paper-sized inputs.
  */
class InferenceStatsSpec extends SparkSpec {
  import spark.implicits._

  test("pairRules: counts, set semantics, support/confidence/lift") {
    // b4 carries a duplicate (4,1) row — set semantics must dedupe it
    val rows = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L),
      (3L, 2L), (3L, 3L), (4L, 1L), (4L, 1L), (4L, 2L))
    val out = Association.pairRules(rows.toDF("b", "i"), "b", "i",
      minPairCount = 2L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(out.keySet == Set((1L, 2L), (2L, 3L)))
    val p12 = out((1L, 2L))
    assert(p12.getLong(2) == 4L) // n_baskets
    assert(p12.getLong(3) == 3L) // c_pair: b1, b2, b4
    assert(p12.getLong(4) == 3L && p12.getLong(5) == 4L)
    assert(p12.getDouble(6) == 0.75) // support
    assert(p12.getDouble(7) == 1.0) // conf 1->2 = 3/3
    assert(p12.getDouble(8) == 0.75) // conf 2->1 = 3/4
    assert(p12.getDouble(9) == 1.0) // lift = 3*4/(3*4)
    val p23 = out((2L, 3L))
    assert(p23.getLong(3) == 2L && p23.getDouble(6) == 0.5)
    assert(p23.getDouble(9) == 1.0) // 2*4/(4*2)
  }

  test("kaplanMeier: censoring, at-risk suffix counts, serial product") {
    val subj = Seq((1, 1), (2, 0), (3, 1), (3, 1), (5, 0))
    val out = Survival.kaplanMeier(subj.toDF("t", "ev"), "t", "ev")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    // censored-only timepoints (t=2, t=5) are not event rows
    assert(out.keySet == Set(1L, 3L))
    assert(out(1L) == ((5L, 1L, 1.0 / 5, 4.0 / 5)))
    // at t=3: at-risk {3,3,5}, two events; S = 0.8 * (1/3)
    val (n3, d3, h3, s3) = out(3L)
    assert(n3 == 3L && d3 == 2L)
    assert(h3 == 2.0 / 3)
    assert(s3 == (4.0 / 5) * (1.0 / 3))
  }

  test("welchTTest: exact sums, t and Welch–Satterthwaite dof") {
    val rows = Seq(("g", false, 100L), ("g", false, 200L),
      ("g", false, 300L), ("g", true, 400L), ("g", true, 600L),
      // below-minimum side: group must be filtered out
      ("tiny", false, 100L), ("tiny", true, 100L))
    val out = SeriesStats.welchTTest(rows.toDF("g", "b", "cents"),
      "g", "b", "cents").collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getString(0) == "g")
    assert(r.getLong(1) == 3L && r.getLong(2) == 2L) // n_a, n_b
    assert(r.getDouble(3) == 2.0 && r.getDouble(4) == 5.0) // means
    assert(r.getDouble(5) == 1.0 && r.getDouble(6) == 2.0) // vars
    val se2 = 1.0 / 3 + 2.0 / 2
    assert(r.getDouble(7) == (2.0 - 5.0) / math.sqrt(se2)) // t
    assert(math.abs(r.getDouble(8) - 32.0 / 19) < 1e-12) // dof
  }

  test("welchTTest emits exactly the oracle's column contract") {
    val df = SeriesStats.welchTTest(
      Seq(("g", false, 1L), ("g", true, 2L)).toDF("g", "b", "c"),
      "g", "b", "c")
    assert(df.columns.toSet == Set("g", "n_a", "n_b", "mean_a",
      "mean_b", "var_a", "var_b", "t_stat", "dof"))
  }

  test("benfordAudit: digit from exact cents string, zero-filled digits") {
    val vals = Seq(1.00, 1.50, 2.00, 9.99, 0.0, 19.99)
    val out = SeriesStats.benfordAudit(vals.toDF("v"), "v")
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(out.keySet == (1 to 9).toSet)
    assert(out(1).getLong(1) == 3L) // 100, 150, 1999 cents
    assert(out(2).getLong(1) == 1L && out(9).getLong(1) == 1L)
    assert(out(3).getLong(1) == 0L) // absent digit present as zero row
    assert(out(1).getLong(2) == 5L) // zero value excluded from total
    assert(out(1).getDouble(3) == 0.6)
    // chi-square term recomputes from the emitted pieces exactly
    val r1 = out(1)
    val exp = r1.getLong(2) * r1.getDouble(4)
    assert(r1.getDouble(5) == (r1.getLong(1) - exp) * (r1.getLong(1) - exp) / exp)
  }

  test("autocorrelation: linear ramp lags, gap-aware pairing") {
    val s = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val out = SeriesStats.autocorrelation(s.toDF("t", "x"), "t", "x", 2)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(out(1) == ((4L, 0.4)))
    assert(out(2) == ((3L, -0.1)))
    // drop t=2: lag-1 pairs only (0,1) and (3,4)
    val gap = SeriesStats.autocorrelation(
      s.filter(_._1 != 2L).toDF("t", "x"), "t", "x", 1)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(gap(1) == 2L)
  }

  test("radiusPairs: boundary d2 == r², cross-cell neighbors, no dups") {
    val pts = Seq((1L, 0L, 0L), (2L, 3L, 4L), (3L, 9L, 0L),
      (4L, 0L, 4L), (5L, 4L, 0L), (6L, 6L, 3L))
    val out = GeoOps.radiusPairs(pts.toDF("id", "x", "y"),
      "id", "x", "y", r = 5L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(6)).toMap
    assert(out.get((1L, 2L)).contains(25L)) // exactly on the boundary
    assert(out.get((5L, 6L)).contains(13L)) // cells (0,0) vs (1,0)
    assert(out.get((2L, 6L)).contains(10L))
    // exact full pair set (hand-enumerated), each exactly once
    assert(out.keySet == Set((1L, 2L), (1L, 4L), (1L, 5L), (2L, 4L),
      (2L, 5L), (2L, 6L), (3L, 5L), (3L, 6L), (5L, 6L)))
    assert(out.keySet.forall { case (a, b) => a < b })
  }

  test("cusumInt: scaled integer recursion, resets, two-sided alarms") {
    // n=4, total=60 → mean 15; kDiv=20 → k=0, nk=0; hDiv=2 → nh=28
    val s = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 30L))
    val out = SeriesStats.cusumInt(s.toDF("t", "x"), "t", "x",
      kDiv = 20, hDiv = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getBoolean(5))).toMap
    // e = 4x - 60 = [-20,-20,-20,+60]
    assert(out(1L) == ((0L, -20L, false, false)))
    assert(out(2L) == ((0L, -40L, false, true)))
    assert(out(3L) == ((0L, -60L, false, true)))
    assert(out(4L) == ((60L, 0L, true, false))) // reset to 0 via min
  }

  test("cusumIntScan: bit-exact parity with cusumInt — hand case, " +
      "randomized series, and many-partition scans") {
    // the hand-verified cusumInt case
    val s = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 30L))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4), r.getBoolean(5))).toSet
    assert(
      rows(SeriesStats.cusumIntScan(s.toDF("t", "x"), "t", "x", 20, 2)) ==
      rows(SeriesStats.cusumInt(s.toDF("t", "x"), "t", "x", 20, 2)))
    // randomized longer series, forced through MANY range partitions so
    // the cross-partition (offset, extremum) fold is actually exercised
    val rng = new scala.util.Random(42)
    val long = (1L to 500L).map(t => (t, rng.nextInt(1000).toLong))
    for ((kd, hd) <- Seq((20, 2), (3, 5), (1, 1))) {
      val exact = rows(SeriesStats.cusumInt(
        long.toDF("t", "x"), "t", "x", kd, hd))
      assert(rows(SeriesStats.cusumIntScan(
        long.toDF("t", "x"), "t", "x", kd, hd, numPartitions = 13)) == exact)
      assert(rows(SeriesStats.cusumIntScan(
        long.toDF("t", "x"), "t", "x", kd, hd, numPartitions = 1)) == exact)
    }
    // DUPLICATE-t axis (r9 advice): a t-only sort left tied rows'
    // order nondeterministic, so the running prefix AT those rows
    // could diverge from cusumInt's full-struct sort; the (t, x) sort
    // must restore bit-exact parity on ties too — every t duplicated
    // with two different x values, shuffled input order, many
    // partitions so ties straddle range boundaries
    val dup = rng.shuffle((1L to 200L).flatMap(t =>
      Seq((t, rng.nextInt(1000).toLong), (t, rng.nextInt(1000).toLong))))
    for ((kd, hd) <- Seq((20, 2), (1, 1))) {
      val exact = rows(SeriesStats.cusumInt(
        dup.toDF("t", "x"), "t", "x", kd, hd))
      assert(rows(SeriesStats.cusumIntScan(
        dup.toDF("t", "x"), "t", "x", kd, hd, numPartitions = 13)) == exact)
    }
  }

  test("oneWayAnovaF: hand-computed three-group F, sorted-group fold") {
    // cents: g1 = [100, 200], g2 = [300, 300], g3 = [500, 700]
    // A = 300²/2 + 600²/2 + 1200²/2 = 945000; S = 2100, Q = 970000
    // SSB = (945000 − 735000)/1e4 = 21.0; SSW = 25000/1e4 = 2.5
    val d = Seq((1L, 100L), (1L, 200L), (2L, 300L), (2L, 300L),
      (3L, 500L), (3L, 700L)).toDF("g", "cents")
    val r = SeriesStats.oneWayAnovaF(d, "g", "cents").collect().head
    assert(r.getAs[Long]("k") == 3L && r.getAs[Long]("n") == 6L)
    assert(r.getAs[Double]("ss_between") == 21.0)
    assert(r.getAs[Double]("ss_within") == 2.5)
    assert(r.getAs[Long]("df1") == 2L && r.getAs[Long]("df2") == 3L)
    assert(r.getAs[Double]("f_stat") == (21.0 / 2) / (2.5 / 3))
    // fewer than 2 groups → empty, not a wrong row
    assert(SeriesStats.oneWayAnovaF(
      Seq((1L, 100L), (1L, 200L)).toDF("g", "cents"),
      "g", "cents").count() == 0L)
  }

  test("rocAucExact: perfect separation, all-ties, and tie-averaged mix") {
    def auc(rows: Seq[(Long, Long, Long)]): (Long, Long, Long, Double) = {
      val r = RankStats.rocAucExact(
        rows.toDF("y", "score", "uid"), "y", "score", "uid")
        .collect().head
      (r.getAs[Long]("n_pos"), r.getAs[Long]("n_neg"),
        r.getAs[Long]("u_x2"), r.getAs[Double]("auc"))
    }
    // positives strictly above negatives → AUC 1
    assert(auc(Seq((1L, 3L, 1L), (1L, 4L, 2L), (0L, 1L, 3L),
      (0L, 2L, 4L))) == ((2L, 2L, 8L, 1.0)))
    // one tied score everywhere → AUC 0.5 (the half-credit convention)
    assert(auc(Seq((1L, 2L, 1L), (0L, 2L, 2L)))._4 == 0.5)
    // mixed with a tie pair: pos = [1, 3], neg = [2, 2] → U⁺ = 2
    assert(auc(Seq((1L, 1L, 1L), (1L, 3L, 2L), (0L, 2L, 3L),
      (0L, 2L, 4L))) == ((2L, 2L, 4L, 0.5)))
  }

  test("calibrationBins: decile assignment, top-edge clamp, exact " +
      "ECE/Brier numerators") {
    val d = Seq((50000L, 0L), (999999L, 1L), (1000000L, 1L))
      .toDF("score_micro", "y")
    val out = graft.ops.Scoring.calibrationBins(d, "score_micro", "y")
      .collect().map(r => r.getAs[Long]("bin") -> r).toMap
    assert(out.keySet == Set(0L, 9L))
    val b0 = out(0L)
    assert(b0.getAs[Long]("n") == 1L && b0.getAs[Long]("n_pos") == 0L)
    assert(b0.getAs[Long]("ece_gap_num") == 50000L)
    assert(b0.getAs[Long]("brier_num") == 50000L * 50000L)
    val b9 = out(9L) // 1e6 clamps into the last bin, not an 11th
    assert(b9.getAs[Long]("n") == 2L && b9.getAs[Long]("n_pos") == 2L)
    assert(b9.getAs[Long]("ece_gap_num") == 1L)
    assert(b9.getAs[Long]("brier_num") == 1L)
    assert(b9.getAs[Double]("mean_pred") == 1999999.0 / 2 / 1000000.0)
    assert(b9.getAs[Double]("frac_pos") == 1.0)
  }

  test("sprtBernoulli: pinned micro-nat constants, exact walk, first " +
      "crossing flagged once") {
    // the q319 oracle embeds these literals — they must never drift
    assert(SeriesStats.sprtConstants(200, 300, 50, 50) ==
      ((405465L, -133532L, 2944438L, -2944439L)))
    // 8 successes on day 1 (llr 8·405465 = 3243720 ≥ 2944438 → h1,
    // decision), day 2 keeps walking but is NOT a decision step
    val ev = Seq.fill(8)((1L, true)) ++ Seq((2L, false), (2L, true))
    val out = SeriesStats.sprtBernoulli(ev.toDF("day", "succ"),
        "day", "succ", p0Pm = 200, p1Pm = 300).collect()
      .map(r => r.getAs[Long]("t") ->
        ((r.getAs[Long]("llr_cum_micro"), r.getAs[String]("crossed"),
          r.getAs[Boolean]("is_decision")))).toMap
    assert(out(1L) == ((8L * 405465L, "h1", true)))
    assert(out(2L) == ((8L * 405465L + 405465L - 133532L, "h1", false)))
    // all-failure stream walks down to h0
    val lo = SeriesStats.sprtBernoulli(
      (1L to 30L).map(d => (d, false)).toDF("day", "succ"),
      "day", "succ", p0Pm = 200, p1Pm = 300).collect()
      .filter(_.getAs[Boolean]("is_decision"))
    assert(lo.length == 1 && lo.head.getAs[String]("crossed") == "h0")
    // 23 failure days: 23·(−133532) = −3071236 ≤ −2944439; day 22 is
    // −2937704, still inside → decision exactly on day 23
    assert(lo.head.getAs[Long]("t") == 23L)
  }

  test("sprtBernoulliScan: bit-exact parity with sprtBernoulli on a " +
      "randomized stream across many partitions") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("t"),
        r.getAs[Long]("n_trials"), r.getAs[Long]("n_success"),
        r.getAs[Long]("llr_cum_micro"), r.getAs[String]("crossed"),
        r.getAs[Boolean]("is_decision"))).toSet
    // q319's shape: the hand-verified early-h1 walk
    val ev = (Seq.fill(8)((1L, true)) ++ Seq((2L, false), (2L, true)))
      .toDF("day", "succ")
    assert(
      rows(SeriesStats.sprtBernoulliScan(ev, "day", "succ", 200, 300)) ==
      rows(SeriesStats.sprtBernoulli(ev, "day", "succ", 200, 300)))
    // randomized 400-day stream with multiple trials per day, forced
    // through 13 range partitions so the driver's incoming-state fold
    // is actually exercised; a never-crossing parameterization too
    val rng = new scala.util.Random(7)
    val big = (1L to 400L).flatMap(d =>
      (0 until 1 + rng.nextInt(4)).map(_ => (d, rng.nextInt(4) == 0)))
      .toDF("day", "succ")
    for ((p0, p1) <- Seq((200, 300), (240, 260))) {
      val exact = rows(SeriesStats.sprtBernoulli(big, "day", "succ",
        p0, p1))
      assert(rows(SeriesStats.sprtBernoulliScan(big, "day", "succ",
        p0, p1, numPartitions = 13)) == exact)
    }
  }

  test("ewmaInt: seeded first value, sign-guarded truncating division") {
    val rows = Seq(("u", 1L, 16L), ("u", 2L, 0L), ("u", 3L, 100L),
      ("v", 1L, 16L), ("v", 2L, 1L))
    val out = SeriesStats.ewmaInt(rows.toDF("k", "o", "x"),
      "k", Seq("o"), "x", den = 8).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(3)).toMap
    assert(out(("u", 1)) == 16L) // s1 = x1
    assert(out(("u", 2)) == 14L) // 16 + (-16 div 8) = 14
    assert(out(("u", 3)) == 24L) // 14 + (86 div 8) = 14 + 10
    // negative delta truncates toward zero (NOT floor): -15/8 → -1
    assert(out(("v", 2)) == 15L)
  }

  test("JaroWinkler: textbook values, DuckDB edge semantics") {
    import graft.functions.JaroWinkler
    def jw(a: String, b: String): Double =
      JaroWinkler.sim(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    assert(jw("martha", "marhta") == 0.9611111111111111)
    assert(jw("dixon", "dicksonx") == 0.8133333333333332)
    assert(jw("", "") == 0.0) // DuckDB: empty similar to nothing
    assert(jw("a", "") == 0.0 && jw("", "abc") == 0.0)
    assert(jw("same", "same") == 1.0)
    // below the 0.7 boost threshold the shared prefix must NOT boost
    assert(jw("abd", "ac") == 0.611111111111111)
    // interpreted vs codegen parity through a real plan
    val df = Seq(("martha", "marhta"), ("abd", "ac")).toDF("a", "b")
    val got = df.select(JaroWinkler(col("a"), col("b"))).collect()
      .map(_.getDouble(0)).toSeq
    assert(got == Seq(0.9611111111111111, 0.611111111111111))
  }

  test("skyline2d: dominance incl. peer ties and exact duplicates") {
    // (id, price minimize, size maximize)
    val pts = Seq((1L, 100L, 10L), (2L, 100L, 8L), (3L, 50L, 5L),
      (4L, 200L, 20L), (5L, 50L, 5L), (6L, 60L, 4L))
    val out = Skyline.skyline2d(pts.toDF("id", "p", "s"),
      "id", "p", "s", salts = 4).collect().map(_.getLong(0)).toSet
    // 2 loses to 1 (equal price, smaller size); 6 loses to 3/5;
    // exact duplicates 3 and 5 BOTH survive (neither strict)
    assert(out == Set(1L, 3L, 4L, 5L))
    // single-salt path agrees
    val one = Skyline.skyline2d(pts.toDF("id", "p", "s"),
      "id", "p", "s", salts = 1).collect().map(_.getLong(0)).toSet
    assert(one == out)
  }

  test("histQuantileSketch: integer bins, exact rank join, bound flag") {
    val df = (1L to 100L).toDF("v")
    val out = SketchStats.histQuantileSketch(df, "v", nBins = 10,
      psPermille = Seq(500, 990)).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    // width = 99 div 10 + 1 = 10; p500 → r=50, bin 4 = [41,50]
    assert(out(500) == ((50L, 41L, 50L, 50L, true)))
    // p990 → r=99, bin 9 = [91,100]
    assert(out(990) == ((99L, 91L, 100L, 99L, true)))
  }

  test("shortestPathsBounded: relaxation beats direct edge, hop bound") {
    val edges = Seq((1L, 2L, 5L), (2L, 3L, 1L), (1L, 3L, 10L),
      (3L, 4L, 1L)).toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("node")
    val full = GraphOps.shortestPathsBounded(edges, seeds, maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full == Map(1L -> 0L, 2L -> 5L, 3L -> 6L, 4L -> 7L))
    val one = GraphOps.shortestPathsBounded(edges, seeds, maxHops = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // one hop: the direct (weight 10) edge wins; node 4 unreachable
    assert(one == Map(1L -> 0L, 2L -> 5L, 3L -> 10L))
  }

  test("slidingDistinct: trailing window, only real buckets emitted") {
    val pres = Seq((1L, 0L), (1L, 3L), (2L, 3L), (2L, 3L), (3L, 10L))
    val out = TemporalJoins.slidingDistinct(pres.toDF("u", "d"),
      "u", "d", windowLen = 7).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // phantom window-ends (1,2,4..9 etc.) must not appear
    assert(out == Map(0L -> 1L, 3L -> 2L, 10L -> 1L))
  }

  test("rocAucExact: AUC(y) + AUC(1−y) == 1 (midrank symmetry) and " +
      "AUC ∈ [0,1] on random tied data") {
    val rnd = new scala.util.Random(19)
    val rows = (1L to 300L).map(i =>
      (if (rnd.nextBoolean()) 1L else 0L, rnd.nextInt(20).toLong, i))
    val df = rows.toDF("y", "score", "uid")
    val flipped = rows.map { case (y, s, u) => (1L - y, s, u) }
      .toDF("y", "score", "uid")
    def auc(d: org.apache.spark.sql.DataFrame): Double =
      RankStats.rocAucExact(d, "y", "score", "uid")
        .collect().head.getAs[Double]("auc")
    val a = auc(df)
    val b = auc(flipped)
    assert(a >= 0.0 && a <= 1.0)
    assert(a + b == 1.0) // exact: u_x2 identities make it bit-true
  }

  test("calibrationBins: Σn == rows, Σn_pos == positives, brier and " +
      "gap numerators match a direct fold, bins stay in range") {
    val rnd = new scala.util.Random(23)
    val rows = (1 to 500).map { _ =>
      (rnd.nextInt(1000001).toLong, if (rnd.nextBoolean()) 1L else 0L)
    }
    val out = Scoring.calibrationBins(
      rows.toDF("score_micro", "y"), "score_micro", "y").collect()
    assert(out.map(_.getAs[Long]("n")).sum == rows.size)
    assert(out.map(_.getAs[Long]("n_pos")).sum == rows.count(_._2 == 1L))
    assert(out.forall { r =>
      val b = r.getAs[Long]("bin"); b >= 0 && b <= 9 })
    val brier = rows.map { case (s, y) =>
      val d = s - y * 1000000L; d * d }.sum
    assert(out.map(_.getAs[Long]("brier_num")).sum == brier)
    // per-bin gap equals the direct per-bin fold
    val direct = rows.groupBy { case (s, _) => math.min(s * 10 / 1000000, 9) }
      .map { case (b, rs) =>
        b -> math.abs(rs.map(_._1).sum - rs.map(_._2).sum * 1000000L) }
    out.foreach { r =>
      assert(r.getAs[Long]("ece_gap_num") ==
        direct(r.getAs[Long]("bin"))) }
  }

  test("oneWayAnovaF: SSB + SSW == total SS (the ANOVA partition), " +
      "both non-negative, on random groups") {
    val rnd = new scala.util.Random(41)
    val rows = (1 to 400).map(_ =>
      (rnd.nextInt(6).toLong + 1, rnd.nextInt(10000).toLong))
    val r = SeriesStats.oneWayAnovaF(rows.toDF("g", "cents"),
      "g", "cents").collect().head
    val ssb = r.getAs[Double]("ss_between")
    val ssw = r.getAs[Double]("ss_within")
    assert(ssb >= 0.0 && ssw >= 0.0)
    // total SS from the raw data (value units²)
    val xs = rows.map(_._2.toDouble / 100.0)
    val mean = xs.sum / xs.size
    val tot = xs.map(x => (x - mean) * (x - mean)).sum
    assert(math.abs(ssb + ssw - tot) < 1e-6 * tot)
  }
}
