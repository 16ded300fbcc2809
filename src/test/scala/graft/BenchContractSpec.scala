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

  test("twin map takes min per name across all reps and retries " +
      "(r9 finding)") {
    val sf = "/root/testdata/sf0.1"
    val lines = Seq(
      s"""{"ctx":"start","load_avg":0.5,"sf_dir":"$sf"}""",
      """{"q":"q1","name":"q1_agg","sec":4.200,"task_ms":10}""",
      // a worse retry rep must NOT become the twin (the old .toMap
      // kept the LAST line): the min wins...
      """{"q":"q1","name":"q1_agg","sec":9.000,"retry_of":4.200}""",
      // ...and when the FIRST rep was the load spike, the retry line
      // holds the only clean measurement — it must count too
      """{"q":"q3","name":"q3_join","sec":14.000,"task_ms":10}""",
      """{"q":"q3","name":"q3_join","sec":1.500,"retry_of":14.000}""",
      // median-rep lines: the MIN wins, not the last
      """{"q":"q2","name":"q2_scan","sec":2.000,"rep":1}""",
      """{"q":"q2","name":"q2_scan","sec":1.000,"rep":2}""",
      """{"q":"q2","name":"q2_scan","sec":3.000,"rep":3}""",
      s"""{"ctx":"end","load_avg":0.6,"sf_dir":"$sf"}""")
    val twins = Bench.parseTwins(lines, sf)
    assert(twins == Map("q1_agg" -> 4.2, "q2_scan" -> 1.0,
      "q3_join" -> 1.5))
  }

  test("twins only apply when the prior capture's sf_dir matches") {
    val lines = Seq(
      """{"ctx":"start","load_avg":0.5,"sf_dir":"/root/testdata/sf0.01"}""",
      """{"q":"q1","name":"q1_agg","sec":0.400}""")
    // a dev run at another scale factor must not arm the 3x guard
    assert(Bench.parseTwins(lines, "/root/testdata/sf0.1").isEmpty)
    assert(Bench.parseTwins(lines, "/root/testdata/sf0.01")
      == Map("q1_agg" -> 0.4))
    // a file with no ctx line at all (pre-r5 format) yields no twins
    assert(Bench.parseTwins(
      Seq("""{"q":"q1","name":"q1_agg","sec":0.400}"""),
      "/root/testdata/sf0.1").isEmpty)
  }

  test("code-state suspect flag: fires on the C2-deopt signature only " +
      "(task_ms ≈ wall, zero GC, >2x twin)") {
    // the SCALING.md q64 episode verbatim: 10.4 s against a 2.2 s
    // twin, task time ≈ wall (one effectively-serial JVM), no task GC
    assert(Bench.suspectCodeState(10.4, Some(2.2),
      taskMs = 10300, gcMs = 0))
    // ambient-LOAD spike: same slowdown but 32 busy cores → task_ms
    // ≫ wall — NOT code-state (the twin retry guard owns this mode)
    assert(!Bench.suspectCodeState(10.4, Some(2.2),
      taskMs = 180000, gcMs = 0))
    // GC-pressure mode: heavy task GC — not code-state either
    assert(!Bench.suspectCodeState(10.4, Some(2.2),
      taskMs = 10300, gcMs = 4000))
    // within the twin band: never suspect, whatever the shape
    assert(!Bench.suspectCodeState(2.5, Some(2.2),
      taskMs = 2400, gcMs = 0))
    // sub-second absolute excess: jitter, not a mode
    assert(!Bench.suspectCodeState(0.9, Some(0.3),
      taskMs = 900, gcMs = 0))
    // no twin → nothing to adjudicate against
    assert(!Bench.suspectCodeState(10.4, None,
      taskMs = 10300, gcMs = 0))
  }

  test("twin task_ms rides the min-sec (clean) rep, not the last line") {
    val sf = "/root/testdata/sf0.1"
    val lines = Seq(
      s"""{"ctx":"start","load_avg":0.5,"sf_dir":"$sf"}""",
      // the load-spike rep carries inflated task CPU; the clean retry's
      // task_ms must become the parallel-signature baseline
      """{"q":"q9","name":"q9_x","sec":14.000,"task_ms":180000}""",
      """{"q":"q9","name":"q9_x","sec":1.500,"task_ms":2500,"retry_of":14.000}""",
      // a line with no task_ms at all parses as 0 (pre-r13 files)
      """{"q":"q8","name":"q8_y","sec":2.000}""",
      s"""{"ctx":"end","load_avg":0.6,"sf_dir":"$sf"}""")
    val stats = Bench.parseTwinStats(lines, sf)
    assert(stats("q9_x") == ((1.5, 2500L)))
    assert(stats("q8_y") == ((2.0, 0L)))
    // parseTwins stays the seconds view of the same fold
    assert(Bench.parseTwins(lines, sf) ==
      Map("q9_x" -> 1.5, "q8_y" -> 2.0))
  }

  test("parallel-shape code-state flag: fires on per-task-CPU " +
      "multiplication in a widened (task_ms >> wall) query") {
    // the q99 episode verbatim: 6.27 s against a 2.41 s twin, 66 s of
    // task CPU against the twin's 2.5 s, negligible GC — parallel
    // shape, so the serial signature stays silent but this one fires
    assert(Bench.suspectCodeStateParallel(6.27, Some(2.41),
      taskMs = 66000, twinTaskMs = Some(2500), gcMs = 300))
    assert(!Bench.suspectCodeState(6.27, Some(2.41),
      taskMs = 66000, gcMs = 300))
    // wall over the twin but task CPU in line with it: scheduling /
    // ambient delay, not a code-state mode
    assert(!Bench.suspectCodeStateParallel(6.27, Some(2.41),
      taskMs = 66000, twinTaskMs = Some(40000), gcMs = 300))
    // serial shape (task_ms ≈ wall) belongs to suspectCodeState — the
    // two signatures are mutually exclusive by construction
    assert(!Bench.suspectCodeStateParallel(10.4, Some(2.2),
      taskMs = 10300, twinTaskMs = Some(2000), gcMs = 0))
    assert(Bench.suspectCodeState(10.4, Some(2.2),
      taskMs = 10300, gcMs = 0))
    // GC-pressure mode: >10% of task time in GC is its own story
    assert(!Bench.suspectCodeStateParallel(6.27, Some(2.41),
      taskMs = 66000, twinTaskMs = Some(2500), gcMs = 20000))
    // no twin task baseline (pre-r13 capture, task_ms absent → 0):
    // nothing to adjudicate against — never fires
    assert(!Bench.suspectCodeStateParallel(6.27, Some(2.41),
      taskMs = 66000, twinTaskMs = Some(0L), gcMs = 300))
    assert(!Bench.suspectCodeStateParallel(6.27, Some(2.41),
      taskMs = 66000, twinTaskMs = None, gcMs = 300))
    // within the twin wall band: whatever the CPU shape, not suspect
    assert(!Bench.suspectCodeStateParallel(2.5, Some(2.41),
      taskMs = 66000, twinTaskMs = Some(2500), gcMs = 300))
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
    // parseTwinStats tolerates the stamp riding a query line (the sec
    // and task_ms regexes must not be confused by the new keys)
    val sf = "/root/testdata/sf0.1"
    val line = """{"q":"q1","name":"q1_agg","sec":1.500,"build_sec":0.100,""" +
      """"task_ms":2500,"gc_ms":10,"plan":"abcdef012345","shuf_r":1,""" +
      """"shuf_w":1,"spill":0,"tasks":4,"heap_mb":100""" + stamp +
      ""","store_mb":0,"store_rdds":0}"""
    val twins = Bench.parseTwinStats(Seq(
      s"""{"ctx":"start","load_avg":0.5,"sf_dir":"$sf"}""", line), sf)
    assert(twins == Map("q1_agg" -> ((1.5, 2500L))))
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
    assert(Bench.planFingerprint(ab) != Bench.planFingerprint(ba),
      "text fingerprints coinciding would make this test vacuous")
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

  test("median-of-3 publishes the middle rep and carries ITS suspect " +
      "flag into the auto-probe decision") {
    import Bench.RepResult
    // the one-off spike is the discarded extreme — its flag dies with it
    val spiked = Seq(RepResult(1.0, false), RepResult(1.2, false),
      RepResult(9.7, true))
    assert(Bench.medianRep(spiked) == RepResult(1.2, false))
    // a real code-state episode shows in the middle rep → probe fires
    val stuck = Seq(RepResult(9.1, true), RepResult(9.4, true),
      RepResult(1.3, false))
    assert(Bench.medianRep(stuck) == RepResult(9.1, true))
    // deterministic on exact ties: the sort is stable, so the middle
    // INPUT position is published
    assert(Bench.medianRep(Seq(RepResult(2.0, false), RepResult(2.0, true),
      RepResult(2.0, false))).suspect)
    assert(!Bench.medianRep(Seq(RepResult(2.0, true), RepResult(2.0, false),
      RepResult(2.0, true))).suspect)
  }

  test("probe command is a fresh isolated JVM: own BENCH_ONLY, same " +
      "sf/cpus, recursion-proof") {
    val (argv, env) = Bench.probeCommand("a.jar:b.jar",
      "q109_incremental_dedup", "/root/testdata/sf0.1", "32")
    assert(argv.head.endsWith("/bin/java"))
    assert(argv.contains("graft.Bench"))
    assert(argv.contains("a.jar:b.jar"))
    assert(env("SPARK_GRAFT_BENCH_ONLY") == "q109_incremental_dedup")
    assert(env("SPARK_GRAFT_SF_DIR") == "/root/testdata/sf0.1")
    assert(env("SPARK_GRAFT_CPUS") == "32")
    // the child must never probe ITS suspects
    assert(env("SPARK_GRAFT_PROBE") == "1")
  }
}
