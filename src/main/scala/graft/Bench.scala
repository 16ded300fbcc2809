package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.io.PerfTracker

/** Benchmark main: times every registered query on the sf dir
  * from SPARK_GRAFT_SF_DIR and prints a JSON summary. Each query is
  * forced with a count() action (results are checked separately by
  * Verify; here we measure plan execution).
  *
  * Protocol, per query: one warm run at SPARK_GRAFT_WARM_DIR (HotSpot
  * compile volume for the generated code), then three timed reps at the
  * target sf; the MEDIAN is published. A cold first rep (r5's q50 paid
  * a 4.6 s cold build inside its timed window) lands as the max and is
  * discarded by the median. Each rep is split into build (query
  * construction, including any eager materialization) and exec.
  *
  * Output discipline: the driver captures only a bounded TAIL of
  * stdout that must also hold sbt's ~70 B [success] epilogue, so the
  * FINAL printed line is a tiny fixed-size total
  * ({"metric":"total","value":…,"unit":"sec","sf":…,"load":…} ≈ 80 B)
  * parseable at any query count; the per-query seconds map (base-36
  * keys) rides its own earlier line, best-effort. BENCH_PERF.jsonl in
  * the working directory is the durable evidence channel: one line per
  * query with the median `sec`, `sec_min` and `sec_max`, and the median
  * rep's build split, [[PerfTracker]] task/GC/shuffle deltas, ambient
  * stamps and `plan2` fingerprint, between two `ctx` run-context lines.
  */
object Bench {

  /** Timed reps per query; the median is published. */
  private val Reps = 3

  /** A full GC every this many queries drives the ContextCleaner, which
    * frees localCheckpoint blocks only when a driver GC collects their
    * weak refs (r6: without it q33-q37/q84 ran 2-4.6x slower under
    * accumulated suite pressure). */
  private val GcEvery = 10

  /** comma-decimal locales break JSON */
  private[graft] def f3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", java.lang.Double.valueOf(v))

  /** The per-run-identifier normalization under [[planFingerprint2]]:
    * expression ids, lambda counters, plan ids, closure names, the
    * streaming harness's UUID sinks and temp paths, and the checkout
    * directory `cwd` (fixture sources print their absolute path). */
  private[graft] def normalizePlanText(s: String,
      cwd: String = System.getProperty("user.dir")): String = s
    .replace(cwd, "<cwd>")
    .replaceAll("#\\d+", "#")
    .replaceAll("_\\d+#", "#") // lambda variable counters (x_3 → x)
    .replaceAll("plan_id=\\d+", "plan_id=")
    // typed-API closures print as Class$$Lambda$123/0xabc@instancehash
    // — the id is classload-order and the hash is per-instance
    .replaceAll("\\$\\$Lambda\\$\\d+/0x[0-9a-f]+", "\\$\\$Lambda")
    .replaceAll("@[0-9a-f]{6,}", "@")
    .replaceAll("graft_stream\\w*", "graft_stream")
    // run-random filesystem locations (streaming/sink queries scan or
    // checkpoint under fresh temp dirs every run)
    .replaceAll("file:[^\\s\\]),]+", "file:")
    .replaceAll("/tmp/[^\\s\\]),]+", "/tmp/")

  private def md5hex12(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString

  /** 12-hex-char STRUCTURAL fingerprint of the executed (final adaptive)
    * plan, so "did this query's plan change" is a field compare across
    * captures. The tree is hashed bottom-up — each node = md5(normalized
    * node text + child hashes) — with child hashes SORTED under
    * UnionExec (sibling order there changes row order, not semantics:
    * q334's union subtrees print in an execution-context-dependent
    * order). The walk descends through the wrappers whose payload lives
    * outside `children` (AQE root, query stages, exchange reuse) and
    * appends subquery plans. */
  private[graft] def planFingerprint2(df: DataFrame): String = {
    import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def walk(p: SparkPlan): String = {
      val kids: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case other => other.children
      }
      val kh = kids.map(walk)
      val ordered = p match {
        case _: UnionExec => kh.sorted
        case _ => kh
      }
      val sub = p.subqueries.map(walk) // order-kept
      // codegen stage ids number nodes in tree-print order, so a sibling
      // swap renumbers both subtrees. Scan nodes also drop the
      // DataFilters…PushedFilters metadata span: each metadata VALUE is
      // truncated at a 100-char raw budget
      // (spark.sql.maxMetadataStringLength), so the cut point shifts
      // with expression-id DIGIT WIDTH, i.e. with how many exprIds
      // earlier queries in the JVM consumed (q334/q316, root-caused
      // r14). The strip runs to the last ", ReadSchema:" (schema text
      // has no exprIds); a filter that stops or starts being pushed
      // still shows as a Filter node above the scan.
      val self = normalizePlanText(p.simpleString(Int.MaxValue))
        .replaceAll("WholeStageCodegen \\(\\d+\\)", "WholeStageCodegen")
        .replaceAll("codegen id : \\d+", "codegen id :")
        .replaceAll("DataFilters: .*, ReadSchema: ",
          "DataFilters: _, ReadSchema: ")
      md5hex12(self + "|" + (ordered ++ sub).mkString(","))
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Query selection for SPARK_GRAFT_BENCH_ONLY: a query is selected by
    * its full name or by its exact `qNN` key, so `q19` selects
    * q19_merge_upsert_cdc and not q190–q199. */
  private[graft] def selects(keys: Set[String], name: String): Boolean =
    keys.contains(name) || keys.contains(name.takeWhile(_ != '_'))

  /** The per-rep ambient stamp carried by every perf line: what the box
    * was doing during the published rep, sampled at rep start. */
  private[graft] def ambientStamp(loadAvg: Double, heapFreeMb: Long,
      f3: Double => String): String =
    s""","load_avg":${f3(math.max(0.0, loadAvg))}""" +
      s""","heap_free_mb":$heapFreeMb"""

  /** Build one registered query and force it with count(): the built
    * frame, its build seconds and its row count. Throws what the query
    * throws. Bench times this; QuerySmokeSpec runs it once per query. */
  private[graft] def runQuery(spark: SparkSession, name: String,
      sfDir: String): (DataFrame, Double, Long) = {
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, sfDir)
    val buildSecs = (System.nanoTime() - t0) / 1e9
    (df, buildSecs, df.count())
  }

  /** Drop what a query leaves behind: persisted intermediates, and the
    * streaming harness's UUID-named memory sinks, whose rows live on the
    * driver heap for the rest of the suite otherwise. */
  private[graft] def cleanUp(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("graft_stream"))
      .foreach(t => spark.catalog.dropTempView(t.name))
  }

  /** One timed rep: wall seconds plus the rest of its perf-line fields
    * (BENCH_PERF.jsonl key order). */
  private[graft] case class Rep(secs: Double, buildSecs: Double,
      taskMs: Long, gcMs: Long, plan2: String, shufR: Long, shufW: Long,
      spill: Long, tasks: Long, heapMb: Long, loadAvg: Double,
      heapFreeMb: Long, storeMb: Long, storeRdds: Int)

  /** The published rep: the middle one by seconds. */
  private[graft] def median(reps: Seq[Rep]): Rep =
    reps.sortBy(_.secs).apply(reps.size / 2)

  /** A query's BENCH_PERF.jsonl line: the median rep's seconds and
    * fields, plus the min and max seconds over all reps. */
  private[graft] def perfLine(q: String, name: String,
      reps: Seq[Rep]): String = {
    val m = median(reps)
    s"""{"q":"$q","name":"$name","sec":${f3(m.secs)}""" +
      s""","sec_min":${f3(reps.map(_.secs).min)}""" +
      s""","sec_max":${f3(reps.map(_.secs).max)}""" +
      s""","build_sec":${f3(m.buildSecs)},"task_ms":${m.taskMs}""" +
      s""","gc_ms":${m.gcMs}""" +
      (if (m.plan2.nonEmpty) s""","plan2":"${m.plan2}"""" else "") +
      s""","shuf_r":${m.shufR},"shuf_w":${m.shufW},"spill":${m.spill}""" +
      s""","tasks":${m.tasks},"heap_mb":${m.heapMb}""" +
      ambientStamp(m.loadAvg, m.heapFreeMb, f3) +
      s""","store_mb":${m.storeMb},"store_rdds":${m.storeRdds}}"""
  }

  def main(args: Array[String]): Unit = {
    // ambient load is sampled FIRST, before the session and the warms,
    // so "load"/"degraded" describe the machine we landed on, not our
    // own warm-up (r10)
    val osBean = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
    val launchLoad = osBean.getSystemLoadAverage
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // sf0.01, not sf0.001: HotSpot's C2 tier needs invocation VOLUME to
    // compile the generated methods — 50-row warms left q48's fold
    // interpreted and its timed number swung 2-16 s
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.01")
    val spark = GraftSession()
    // one optimizer configuration for the whole suite: q70 registers the
    // extensions at query-build time, which would otherwise flip the
    // RewriteHofCosine rule on mid-run and make later plans depend on
    // suite order (register is idempotent, so q70's own call is a no-op)
    graft.plans.GraftExtensions.register(spark)
    val tracker = PerfTracker.install(spark)
    try SparkEntry.entry(spark).count() catch { case e: Throwable =>
      System.err.println(s"[bench] entry warm failed: ${e.getClass.getName}")
    }
    // dev knob: SPARK_GRAFT_BENCH_ONLY=q104,q114 times just those queries
    // (see `selects`); full-suite captures never set it
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(selects(_, n)))
    // `qNN` prefix — unique today; fall back to full names if a future
    // query breaks that rather than silently merging two keys
    val short: Map[String, String] = {
      val pfx = names.map(n => n -> n.takeWhile(_ != '_')).toMap
      if (pfx.values.toSet.size == names.size) pfx
      else names.map(n => n -> n).toMap
    }
    val perfLog = new java.io.PrintWriter(
      new java.io.FileWriter("BENCH_PERF.jsonl", false))
    // run-context stamp: a captured number is only interpretable next to
    // the machine state that produced it. "start" carries the launch
    // load; "end" samples live.
    def ctxLine(tag: String): String =
      s"""{"ctx":"$tag","load_avg":${f3(
        if (tag == "start") launchLoad else osBean.getSystemLoadAverage)}""" +
        s""","avail_cpus":${osBean.getAvailableProcessors}""" +
        s""","heap_max_mb":${Runtime.getRuntime.maxMemory() / (1024 * 1024)}""" +
        s""","sf_dir":"$sfDir"}"""
    perfLog.println(ctxLine("start")); perfLog.flush()

    def timedRep(name: String): Rep = {
      val loadAvg = osBean.getSystemLoadAverage
      val rt = Runtime.getRuntime
      val heapFreeMb =
        (rt.maxMemory() - (rt.totalMemory() - rt.freeMemory())) / (1024L * 1024L)
      spark.catalog.clearCache()
      tracker.awaitQuiesce(stableMs = 50, timeoutMs = 2000)
      val before = tracker.snapshot()
      val t0 = System.nanoTime()
      val run = try Some(runQuery(spark, name, sfDir)) catch {
        case _: Throwable => None
      }
      val secs = (System.nanoTime() - t0) / 1e9
      if (run.isEmpty) System.err.println(s"[bench] $name FAILED")
      // fingerprint AFTER the timed window
      val plan2 = run.flatMap { case (df, _, _) =>
        scala.util.Try(planFingerprint2(df)).toOption }.getOrElse("")
      cleanUp(spark)
      // listener delivery is async — settle so this rep's task metrics
      // land in its own delta, not the next one's
      tracker.awaitQuiesce(stableMs = 50, timeoutMs = 2000)
      val after = tracker.snapshot()
      val infos = spark.sparkContext.getRDDStorageInfo
      Rep(secs, run.map(_._2).getOrElse(0.0),
        after.executorRunTimeMs - before.executorRunTimeMs,
        after.jvmGcTimeMs - before.jvmGcTimeMs, plan2,
        after.shuffleBytesRead - before.shuffleBytesRead,
        after.shuffleBytesWritten - before.shuffleBytesWritten,
        after.spilledBytes - before.spilledBytes,
        after.processed - before.processed, after.jvmHeapUsedMb.toLong,
        loadAvg, heapFreeMb, infos.map(_.memSize).sum / (1024 * 1024),
        infos.length)
    }

    val results = names.zipWithIndex.map { case (name, i) =>
      if (warmDir != sfDir)
        try { runQuery(spark, name, warmDir); cleanUp(spark) }
        catch { case e: Throwable => System.err.println(
          s"[bench] $name warm failed: ${e.getClass.getName}") }
      val reps = Seq.fill(Reps)(timedRep(name))
      perfLog.println(perfLine(short(name), name, reps))
      perfLog.flush()
      if ((i + 1) % GcEvery == 0) System.gc()
      name -> median(reps).secs
    }
    perfLog.println(ctxLine("end"))
    perfLog.close()
    // seconds at 1 decimal, DISPLAY-clamped to 99.9 (r8's 9.9 clamp hid
    // a 21 s outlier); keys are the qNN number in base 36, recoverable
    // as "q" + Integer.parseInt(key, 36)
    def f1c(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f",
        java.lang.Double.valueOf(math.min(v, 99.9)))
    val qs = results.map { case (k, v) =>
      val key = java.lang.Long.toString(short(k).stripPrefix("q").toLong, 36)
      "\"" + key + "\":" + f1c(v)
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val sfName = sfDir.stripSuffix("/").split('/').last
    // the final line self-describes the machine state that produced it:
    // "load" is the launch 1-min load average, "degraded" marks > 1.5
    val loadField = s""","load":${f1c(math.max(0.0, launchLoad))}""" +
      (if (launchLoad > 1.5) ""","degraded":true""" else "")
    println(s"""{"metric":"queries","queries":$qs,"sf":"$sfName"}""")
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","sf":"$sfName"$loadField}""")
    Console.out.flush()
    spark.stop()
  }
}
