package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the bench-emission contract: the driver captures only a
  * bounded tail of stdout, and round 4 lost seven queries' numbers to
  * an oversized summary line. These checks fail the build before a
  * future query addition regresses that fix.
  */
class BenchContractSpec extends AnyFunSuite {

  test("qNN short keys are unique across the query inventory") {
    val names = SparkEntry.queries.keys.toSeq
    val short = names.map(_.takeWhile(_ != '_'))
    assert(short.distinct.size == names.size,
      s"colliding qNN prefixes: ${short.diff(short.distinct).distinct}")
    // the base-36 summary keys go through toLong, so "q01"/"q1" would
    // silently merge even though their string prefixes differ
    val nums = short.map(_.stripPrefix("q").toLong)
    assert(nums.distinct.size == names.size,
      s"colliding numeric keys: ${nums.diff(nums.distinct).distinct}")
  }

  test("BENCH_ONLY selects the exact qNN key: q19 is not q190-q199") {
    val names = SparkEntry.queries.keys.toSeq
    assert(names.filter(Bench.selects(Set("q19"), _)) == Seq("q19_merge_upsert_cdc"))
    assert(names.filter(Bench.selects(Set("q190"), _)) == Seq("q190_cube_subtotals"))
    // the fresh-JVM probe passes the full name
    assert(names.filter(Bench.selects(Set("q190_cube_subtotals"), _)) ==
      Seq("q190_cube_subtotals"))
    assert(names.filter(Bench.selects(Set("q19", "q38"), _)).sorted ==
      names.filter(n => n.startsWith("q19_") || n.startsWith("q38_")).sorted)
    assert(!Bench.selects(Set("q1"), "q19_merge_upsert_cdc"))
  }

  test("final summary line is tiny and query-count-independent") {
    // r7: the combined total+map line (1,982 B at 216 queries) lost
    // its HEAD once sbt's ~70 B [success] epilogue shared the
    // bounded-tail window, and the round's bench total went
    // unparsed. Since r8 the FINAL line carries only the total —
    // worst-case template mirrored here — and must stay far inside
    // the window even alongside the epilogue. Its size must not
    // depend on the query inventory at all.
    val finalLine =
      """{"metric":"total","value":99999.999,"unit":"sec","sf":"sf0.001"""" +
        ""","load":99.9,"degraded":true}"""
    assert(finalLine.length < 120,
      s"final line would be ${finalLine.length} bytes — it must stay " +
        "fixed-size; never put per-query data back on it")
    assert(!finalLine.contains("queries"),
      "the final line must not carry the per-query map (r4/r7 clipping)")
  }

  test("per-query display clamp admits >10 s outliers (r8 hid a 21 s query)") {
    // mirrors Bench.f1c: clamp must be 99.9, not 9.9 — BENCH_rNN.json
    // alone must never understate an outlier by an order of magnitude
    def f1c(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f",
        java.lang.Double.valueOf(math.min(v, 99.9)))
    assert(f1c(21.2) == "21.2")
    assert(f1c(123.4) == "99.9")
  }

  test("every query has an oracle (the driver gate sees no no_oracle rows)") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle SQL: $missing")
  }

  test("per-rep ambient stamps ride every perf line (r12 verdict #5): " +
      "load_avg and heap_free_mb are part of the line contract") {
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f",
        java.lang.Double.valueOf(v))
    // the REAL emission fragment (timedRep appends Bench.ambientStamp
    // verbatim) — the degraded-capture adjudications (q99/q171/q282)
    // all reduced to "what was the box doing DURING this rep", so the
    // stamps must never be dropped from the line
    val stamp = Bench.ambientStamp(0.75, 14000L, f3)
    assert(stamp == ""","load_avg":0.750,"heap_free_mb":14000""")
    // a negative getSystemLoadAverage (unsupported platform) clamps
    // to 0 instead of emitting a negative stamp
    assert(Bench.ambientStamp(-1.0, 100L, f3)
      == ""","load_avg":0.000,"heap_free_mb":100""")
    // the stamp rides the emitted perf line verbatim
    val rep = Bench.Rep(1.5, 0.1, 2500L, 10L, "abcdef012345", 1L, 1L, 0L,
      4L, 100L, 0.75, 14000L, 0L, 0)
    assert(Bench.perfLine("q1", "q1_agg", Seq(rep)).contains(stamp))
  }

  test("structural fingerprint (plan2): invariant under union sibling " +
      "order, sensitive to everything else, deterministic (r13 next #4)") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.col
    // q334's failure mode in miniature: same-shape union subtrees in
    // either order — the TEXT fingerprint differs (tree print order),
    // the structural one must not (our hash compare is row-order-free,
    // so sibling order under Union is not a plan property)
    val a = spark.range(10).toDF("x").filter(col("x") > 5)
    val b = spark.range(20).toDF("x").filter(col("x") > 7)
    val ab = a.union(b)
    val ba = b.union(a)
    assert(Bench.planFingerprint2(ab) == Bench.planFingerprint2(ba))
    def planText(df: org.apache.spark.sql.DataFrame): String =
      Bench.normalizePlanText(df.queryExecution.executedPlan.toString)
    assert(planText(ab) != planText(ba),
      "plan texts coinciding would make this test vacuous")
    // ...but a genuinely different child is a different plan
    val c = spark.range(20).toDF("x").filter(col("x") > 9)
    assert(Bench.planFingerprint2(ab) != Bench.planFingerprint2(a.union(c)))
    // deterministic on a rebuild of the same non-union plan, and
    // sensitive to a real plan change there too
    val g1 = spark.range(30).toDF("x").groupBy((col("x") % 3).as("k"))
      .count()
    val g2 = spark.range(30).toDF("x").groupBy((col("x") % 3).as("k"))
      .count()
    assert(Bench.planFingerprint2(g1) == Bench.planFingerprint2(g2))
    assert(Bench.planFingerprint2(g1) != Bench.planFingerprint2(
      spark.range(30).toDF("x").groupBy((col("x") % 4).as("k")).count()))
    // 12 hex chars, same width contract as `plan`
    assert(Bench.planFingerprint2(ab).matches("[0-9a-f]{12}"))
  }

  test("plan text does not depend on the checkout directory") {
    // a fixture source prints its absolute directory in the scan node
    def scan(root: String) =
      s"BatchScan graft-html `$root/src/test/resources/fixtures`[url#12, html#13]"
    val a = Bench.normalizePlanText(scan("/home/a/repo"), cwd = "/home/a/repo")
    val b = Bench.normalizePlanText(scan("/srv/ci/checkout-2"), cwd = "/srv/ci/checkout-2")
    assert(a == b)
    assert(a == "BatchScan graft-html `<cwd>/src/test/resources/fixtures`[url#, html#]")
  }

  test("plan2 is stable under exprId-width-driven scan-metadata " +
      "truncation (the q334/q316 mechanism, root-caused r14)") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    // a filter long enough that the FileScan's DataFilters metadata
    // VALUE exceeds the 100-char raw truncation budget — the cut
    // point then depends on exprId digit width, i.e. on how many ids
    // the JVM has allocated so far
    def build() = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") % 3 === 2 &&
        size(split(trim(col("text")), "\\s+")) >= 12 &&
        length(col("text")) > 5)
      .select(col("doc_id"))
    val fp1 = Bench.planFingerprint2(build())
    // burn expression ids so a rebuild of the SAME query prints its
    // raw metadata at a different width (and so a different cut)
    (1 to 40).foreach { _ =>
      spark.range(1)
        .select((1 to 200).map(i => (col("id") + i).as("c" + i)): _*)
        .queryExecution.analyzed
    }
    assert(Bench.planFingerprint2(build()) == fp1)
  }

  test("per-query perf line publishes the median of 3 reps with sec_min " +
      "and sec_max, the median rep's fields, ambient stamps and plan2") {
    def rep(secs: Double, build: Double, plan2: String, load: Double) =
      Bench.Rep(secs, build, taskMs = (secs * 1000).toLong, gcMs = 3L,
        plan2 = plan2, shufR = 7L, shufW = 7L, spill = 0L, tasks = 5L,
        heapMb = 300L, loadAvg = load, heapFreeMb = 9000L, storeMb = 1L,
        storeRdds = 2)
    // a cold first rep is the max and is discarded by the median
    val reps = Seq(rep(4.6, 3.9, "aaaaaaaaaaaa", 0.5),
      rep(1.2, 0.3, "bbbbbbbbbbbb", 1.25), rep(1.0, 0.2, "cccccccccccc", 2.0))
    assert(Bench.median(reps) == reps(1))
    val line = Bench.perfLine("q50", "q50_x", reps)
    def num(key: String): Double =
      ("\"" + key + "\":(-?[0-9.]+)").r.findFirstMatchIn(line).get
        .group(1).toDouble
    assert(num("sec") == 1.2 && num("sec_min") == 1.0 && num("sec_max") == 4.6)
    assert(num("sec_min") <= num("sec") && num("sec") <= num("sec_max"))
    // every other field comes from the published (median) rep
    assert(num("build_sec") == 0.3 && num("task_ms") == 1200)
    assert(line.contains(""""plan2":"bbbbbbbbbbbb""""))
    assert(line.contains(Bench.ambientStamp(1.25, 9000L, Bench.f3)))
    assert(line.startsWith("""{"q":"q50","name":"q50_x","sec":1.200,"""))
    // one line per query: no per-rep or retry fields survive
    assert(!line.contains("\"rep\"") && !line.contains("retry_of") &&
      !line.contains("suspect") && !line.contains("\"plan\""))
  }
}
