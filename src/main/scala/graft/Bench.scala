package graft
import org.apache.spark.sql.SparkSession
import graft.io.PerfTracker

/** Driver-run benchmark: executes every registered query on the sf dir
  * from SPARK_GRAFT_SF_DIR and prints a JSON summary. Each query is
  * forced with a count() action (results are checked separately by
  * Verify; here we measure plan execution).
  *
  * Output discipline: the driver captures only a bounded TAIL of
  * stdout that must also hold sbt's ~70 B [success] epilogue, so the
  * FINAL printed line is a tiny fixed-size total
  * ({"metric":"total","value":…,"unit":"sec","sf":…} ≈ 60 B) —
  * parseable at any query count. The per-query seconds map rides its
  * own earlier line (base-36 compressed keys, best-effort: at 216
  * queries it is ~1.9 KB and may lose its head to the window; r4 and
  * r7 both lost the combined line that way, which is why the total no
  * longer shares a line with the map). Per-query stage metrics (task time, GC,
  * shuffle bytes, spill) are deltas from a [[PerfTracker]] listener,
  * streamed as JSON lines to BENCH_PERF.jsonl in the working directory
  * — the durable evidence channel for drift attribution that doesn't
  * compete with the summary line for tail bytes.
  *
  * Timed-window discipline (r5 finding): each query warms TWICE before
  * the timed rep — once at the small warm sf (HotSpot C2 volume for the
  * generated code) and once at the TARGET sf (amortizes cold build-time
  * materialization and target-scale codegen placement that the small
  * warm cannot reach) — and the timed rep reports a build/exec split
  * (`build_sec` in BENCH_PERF.jsonl) so an eager-materialization query
  * can be adjudicated from the files alone. BENCH_PERF.jsonl opens and
  * closes with a `ctx` run-context line (load average, heap ceiling):
  * a captured number is only trustworthy next to the machine state
  * that produced it.
  */
object Bench {

  /** Twin-map parser for the committed-twin load guard, factored out
    * for the contract spec. Discipline (r9 findings): (a) MIN sec per
    * name ACROSS ALL of a query's lines — a plain .toMap kept the LAST
    * line, so a retried query's worse rep became next round's twin;
    * retry and median-rep lines are included in the min because each
    * is a genuine measurement of the same plan (when the prior capture
    * was degraded, the retry line often holds the ONLY clean rep);
    * (b) twins apply only when the file's ctx line was captured at the
    * SAME sf_dir — a dev run at another scale factor would otherwise
    * make the >3x guard fire on every query (or never). */
  private[graft] def parseTwins(lines: Seq[String],
      sfDir: String): Map[String, Double] =
    parseTwinStats(lines, sfDir).map { case (k, v) => k -> v._1 }

  /** [[parseTwins]] plus the twin's TASK time: (min sec across all of a
    * query's lines, that same line's task_ms). The task_ms rides the
    * clean (min-sec) rep because it feeds the PARALLEL-shape code-state
    * signature ([[suspectCodeStateParallel]]) — the per-task-CPU
    * baseline must come from the rep the wall twin comes from, or the
    * ratio compares across machine states. Lines without task_ms
    * (probe evidence lines) carry no "sec" key either, so they never
    * enter the fold. */
  private[graft] def parseTwinStats(lines: Seq[String],
      sfDir: String): Map[String, (Double, Long)] = {
    val sfRe = """"sf_dir":"([^"]+)"""".r
    val priorSf = lines.find(_.contains(""""ctx":"start""""))
      .flatMap(l => sfRe.findFirstMatchIn(l).map(_.group(1)))
    if (!priorSf.contains(sfDir)) Map.empty
    else {
      val nameRe = """"name":"([^"]+)"""".r
      val secRe = """"sec":([0-9.]+)""".r
      val taskRe = """"task_ms":(-?[0-9]+)""".r
      lines.flatMap { l =>
        for {
          nm <- nameRe.findFirstMatchIn(l).map(_.group(1))
          sc <- secRe.findFirstMatchIn(l).map(_.group(1).toDouble)
        } yield nm -> (sc,
          taskRe.findFirstMatchIn(l).map(_.group(1).toLong).getOrElse(0L))
      }.groupMapReduce(_._1)(_._2)((a, b) => if (b._1 < a._1) b else a)
    }
  }

  /** Mechanical C2-DEOPT adjudication signature (r10 brief): SCALING.md
    * names a code-state variance mode where a query runs 2-5x slow in
    * ONE JVM with task_ms ≈ wall and zero task GC (q64: 10.4 s twice
    * in-JVM, 2.2 s in a fresh JVM — the generated code deoptimized and
    * never re-tiered), where an ambient-LOAD spike instead shows
    * task_ms ≫ wall (32 busy cores) or heavy GC. A rep is flagged
    * suspect when (a) it lands >2x its committed twin with >1 s excess,
    * (b) total task time sits within [0.5, 1.5]x of wall (the
    * effectively-serial signature on a 32-thread runner), and (c) task
    * GC is near-zero (<150 ms). The flag rides the perf line as
    * "suspect":"code-state" — the prescription is a fresh-JVM
    * SPARK_GRAFT_BENCH_ONLY probe, now mechanical instead of manual. */
  private[graft] def suspectCodeState(secs: Double, twin: Option[Double],
      taskMs: Long, gcMs: Long): Boolean =
    twin.exists(t => secs > 2 * t && secs - t > 1.0) &&
      taskMs >= 0.5 * secs * 1000 && taskMs <= 1.5 * secs * 1000 &&
      gcMs < 150

  /** PARALLEL-shape sibling of [[suspectCodeState]] (r12 verdict #2):
    * widened queries never satisfy task_ms ≈ wall — their tasks run
    * 32-wide, so a C2 deopt shows as per-task-CPU MULTIPLICATION
    * instead (the q99 episode: 66 s task CPU against a 2.5 s twin on
    * an identical-fingerprint plan). A rep is flagged when (a) wall
    * lands >2× its committed twin with >1 s excess (the shared
    * guards), (b) the shape is genuinely parallel (task_ms > 1.5×
    * wall — the serial signature owns the rest), (c) task CPU is >2×
    * the twin rep's task CPU with >2 s excess, and (d) task GC is
    * under 10% of task time (GC pressure is its own mode). Ambient
    * core contention can inflate task wall-in-task too — the flag is
    * a PROBE TRIGGER, not a verdict; the fresh-JVM probe adjudicates
    * either way and publishes its number alongside. */
  private[graft] def suspectCodeStateParallel(secs: Double,
      twin: Option[Double], taskMs: Long, twinTaskMs: Option[Long],
      gcMs: Long): Boolean =
    twin.exists(t => secs > 2 * t && secs - t > 1.0) &&
      taskMs > 1.5 * secs * 1000 &&
      twinTaskMs.exists(tt => tt > 0 && taskMs > 2 * tt &&
        taskMs - tt > 2000) &&
      gcMs < math.max(150L, taskMs / 10)

  /** One timed rep's outcome — seconds plus whether the C2-deopt
    * signature fired, so the caller can decide if the PUBLISHED rep
    * (median of 3, or the single/retried rep) still carries the flag
    * and warrants the fresh-JVM probe. */
  private[graft] case class RepResult(secs: Double, suspect: Boolean)

  /** The rep a median-of-3 publishes: middle by seconds (the sort is
    * stable, so exact ties publish the middle INPUT position —
    * deterministic for the probe decision). */
  private[graft] def medianRep(reps: Seq[RepResult]): RepResult =
    reps.sortBy(_.secs).apply(reps.size / 2)

  /** 12-hex-char fingerprint of the EXECUTED plan (the post-AQE final
    * plan), with per-run identifiers normalized out — expression ids
    * (#123), plan ids, and the streaming harness's UUID-named memory
    * sinks — so byte-identical code + data produce the same value
    * across JVMs and rounds. A cross-round regression hunt then starts
    * with a mechanical field compare: same "plan" → the wall delta is
    * ambient/JIT, different "plan" → the plan genuinely changed and
    * the diff is worth reading. (Deliberately the FINAL adaptive plan:
    * an AQE decision flip — broadcast to SMJ on a borderline size — IS
    * a plan change a reader wants surfaced.) */
  private[graft] def planFingerprint(
      df: org.apache.spark.sql.DataFrame): String =
    md5hex12(normalizePlanText(
      df.queryExecution.executedPlan.toString))

  /** The per-run-identifier normalization shared by [[planFingerprint]]
    * (whole-tree text) and [[planFingerprint2]] (per-node text). */
  private[graft] def normalizePlanText(s: String): String = s
    .replaceAll("#\\d+", "#")
    .replaceAll("_\\d+#", "#") // lambda variable counters (x_3 → x)
    .replaceAll("plan_id=\\d+", "plan_id=")
    // typed-API closures print as Class$$Lambda$123/0xabc@instancehash
    // — the id is classload-order and the hash is per-instance
    .replaceAll("\\$\\$Lambda\\$\\d+/0x[0-9a-f]+", "\\$\\$Lambda")
    .replaceAll("@[0-9a-f]{6,}", "@")
    .replaceAll("graft_stream\\w*", "graft_stream")
    // run-random filesystem locations (r13: ~10 streaming/sink
    // queries scan or checkpoint under fresh temp dirs every run —
    // their fingerprints read CHANGED across byte-identical code,
    // polluting the plan_diff read)
    .replaceAll("file:[^\\s\\]),]+", "file:")
    .replaceAll("/tmp/[^\\s\\]),]+", "/tmp/")

  private def md5hex12(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString

  /** STRUCTURAL plan fingerprint, canonical under same-shape sibling
    * REORDERING beneath Union nodes (r13 verdict "next" #4): q334's
    * executed plan prints its (semantically order-free) union subtrees
    * in an order that depends on execution context — byte-identical
    * code fingerprints differently inside the full suite vs under
    * SPARK_GRAFT_BENCH_ONLY, so the one query reads permanently
    * CHANGED in plan_diff. This variant hashes the tree bottom-up —
    * each node = md5(normalized node text + child hashes) — and SORTS
    * child hashes under UnionExec (order there changes row order, not
    * semantics, and our hash compare is order-free); every other
    * node's child order is significant and kept. The walk descends
    * through the wrapper nodes whose payload lives OUTSIDE `children`
    * (AQE root, query stages, exchange reuse) and appends subquery
    * plans, so it sees the same final adaptive plan the text
    * fingerprint prints.
    *
    * Emitted as `plan2` ALONGSIDE `plan` for a transition round:
    * plan_diff prefers plan2 when both captures carry it and falls
    * back to plan against pre-r14 captures, so the r13-vs-r14 read
    * stays mechanical instead of every row flipping CHANGED under a
    * new scheme. */
  private[graft] def planFingerprint2(
      df: org.apache.spark.sql.DataFrame): String = {
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
      // codegen stage ids number nodes in TREE-PRINT order, so a
      // sibling swap renumbers both subtrees — normalized here ONLY
      // (the shared normalizer must keep `plan` byte-compatible with
      // pre-r14 captures). Scan nodes additionally drop the
      // DataFilters…PushedFilters metadata span: each metadata VALUE
      // is truncated at a 100-char RAW budget
      // (spark.sql.maxMetadataStringLength), so the cut point shifts
      // with expression-id DIGIT WIDTH — i.e. with how many exprIds
      // earlier queries in the JVM consumed (q334's r13 "context-
      // sensitive fingerprint", root-caused r14 via PlanProbe). The
      // strip runs to the last ", ReadSchema:" (schema text has no
      // exprIds, so its own truncation is context-free); pushdown
      // changes stay visible — a filter that stops (or starts) being
      // pushed adds (or removes) the Filter node above the scan.
      val self = normalizePlanText(p.simpleString(Int.MaxValue))
        .replaceAll("WholeStageCodegen \\(\\d+\\)", "WholeStageCodegen")
        .replaceAll("codegen id : \\d+", "codegen id :")
        .replaceAll("DataFilters: .*, ReadSchema: ",
          "DataFilters: _, ReadSchema: ")
      md5hex12(self + "|" + (ordered ++ sub).mkString(","))
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Query selection for SPARK_GRAFT_BENCH_ONLY / _MEDIAN: a query is
    * selected by its full name or by its exact `qNN` key, so `q19`
    * selects q19_merge_upsert_cdc and not q190–q199. */
  private[graft] def selects(keys: Set[String], name: String): Boolean =
    keys.contains(name) || keys.contains(name.takeWhile(_ != '_'))

  /** Fresh-JVM probe command for a suspect query (r11 brief #5): the
    * same Bench main, one query, in an isolated working directory (its
    * own BENCH_PERF.jsonl — never the parent's), with
    * SPARK_GRAFT_PROBE=1 so a probe can never recurse. Returned as
    * (argv, extra env) so the contract spec can pin the shape without
    * spawning anything. */
  private[graft] def probeCommand(classpath: String, name: String,
      sfDir: String, cpus: String): (Seq[String], Map[String, String]) = (
    Seq(System.getProperty("java.home") + "/bin/java",
      "-Xmx16g", "-cp", classpath, "graft.Bench"),
    Map("SPARK_GRAFT_BENCH_ONLY" -> name, "SPARK_GRAFT_SF_DIR" -> sfDir,
      "SPARK_GRAFT_CPUS" -> cpus, "SPARK_GRAFT_PROBE" -> "1"))

  /** The project + spark classpath as seen through the context
    * classloader chain (under sbt runMain, java.class.path is only the
    * sbt launcher — the real classpath lives in layered
    * URLClassLoaders). */
  private def liveClasspath(): String = {
    def walk(cl: ClassLoader): Seq[String] = cl match {
      case null => Nil
      case u: java.net.URLClassLoader =>
        u.getURLs.toSeq.flatMap(x =>
          scala.util.Try(new java.io.File(x.toURI).getPath).toOption) ++
          walk(cl.getParent)
      case other => walk(other.getParent)
    }
    (walk(Thread.currentThread().getContextClassLoader) ++
      System.getProperty("java.class.path").split(
        java.io.File.pathSeparator).toSeq)
      .distinct.mkString(java.io.File.pathSeparator)
  }

  /** Spawn the fresh-JVM probe and return its measured seconds for
    * `name` (the child's final total — it runs exactly one query), or
    * None on any failure (probe evidence is best-effort: a broken
    * probe must never fail the capture). */
  private def runProbe(name: String, sfDir: String,
      cpus: String): Option[Double] = {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_probe_").toFile
    try {
      val (argv, env) = probeCommand(liveClasspath(), name, sfDir, cpus)
      val pb = new ProcessBuilder(argv: _*)
      pb.directory(tmp)
      // both streams go to the OS, not pipes (r12 ADVICE): reading
      // stdout to EOF in-process would (a) deadlock if the child fills
      // the unread stderr pipe (Spark's startup INFO alone can) and
      // (b) make the 300 s waitFor below dead code — readAllBytes
      // only returns once the child has exited or closed stdout, so a
      // hung probe JVM would block the whole capture. stdout lands in
      // a file inside the probe's own temp dir and is read AFTER the
      // timeout-guarded wait.
      pb.redirectError(ProcessBuilder.Redirect.DISCARD)
      val outFile = new java.io.File(tmp, "probe_stdout")
      pb.redirectOutput(ProcessBuilder.Redirect.to(outFile))
      env.foreach { case (k, v) => pb.environment().put(k, v) }
      val p = pb.start()
      if (!p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)) {
        System.err.println(s"[bench] probe for $name timed out — killing")
        p.destroyForcibly()
        p.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)
        None
      } else {
        val out = new String(
          java.nio.file.Files.readAllBytes(outFile.toPath), "UTF-8")
        val totalRe = """"metric":"total","value":([0-9.]+)""".r
        totalRe.findFirstMatchIn(out).map(_.group(1).toDouble)
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] probe for $name failed: " +
        e.getClass.getName)
      None
    } finally {
      // recursive (r12 ADVICE): the child Spark session creates nested
      // dirs in its cwd (spark-warehouse, metastore_db) that a flat
      // listFiles().delete() silently skipped, leaking one
      // graft_probe_* tree per probe. The WHOLE cleanup is Try-wrapped
      // (r13 review): a killed child can still be mutating its cwd
      // while we walk it, and Files.walk throws from the eager sort on
      // a vanished entry — an exception escaping this finally would
      // bypass the catch above and abort the capture, breaking the
      // "broken probe must never fail the capture" contract. A leaked
      // temp tree is the acceptable worst case.
      scala.util.Try {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(tmp.toPath)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(p =>
            scala.util.Try(java.nio.file.Files.deleteIfExists(p)))
        finally walk.close()
      }
    }
  }

  /** The per-rep ambient stamp appended to every perf line (r12
    * verdict #5) — factored so the contract spec pins the REAL
    * emission fragment, not a parallel literal. */
  private[graft] def ambientStamp(loadAvg: Double, heapFreeMb: Long,
      f3: Double => String): String =
    s""","load_avg":${f3(math.max(0.0, loadAvg))}""" +
      s""","heap_free_mb":$heapFreeMb"""

  def main(args: Array[String]): Unit = {
    // ambient load is sampled FIRST — before the SparkSession and the
    // entry warm — so "load"/"degraded" describe the machine we
    // LANDED on, not our own warm-up (r10 finding: reading it after
    // the warm flagged an idle-start capture load 0.1 as 3.0/degraded;
    // a 1-min average needs only ~30 s of 32-core warm to hit 3)
    val launchLoad = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // one optimizer configuration for the whole suite: q70 registers the
    // extensions at query-build time, which would otherwise flip the
    // RewriteHofCosine rule on mid-run and make later plans depend on
    // suite order (register is idempotent, so q70's own call is a no-op)
    graft.plans.GraftExtensions.register(spark)
    val tracker = PerfTracker.install(spark)
    // warm the JVM/codegen once on the smallest sf so per-query numbers
    // measure execution, not first-query classloading
    try SparkEntry.entry(spark).count() catch {
      case e: Throwable =>
        System.err.println(s"[bench] entry warm failed: ${e.getClass.getName}")
    }
    // r6 drift finding: q33-q37/q84 ran 2-4.6× slower with byte-identical
    // shuffle volumes and 14-22 GB heap — accumulated suite pressure, not
    // a plan regression. localCheckpoint blocks are freed by the
    // ContextCleaner only when a DRIVER GC collects the weak refs; with a
    // 128 GiB heap that may never happen across 135 queries, so blocks
    // (and their storage memory) pile up. Default: force a full
    // collection every 10 queries to drive the cleaner; SPARK_GRAFT_BENCH_GC=1
    // keeps the per-query bisection mode.
    val gcBetween = sys.env.get("SPARK_GRAFT_BENCH_GC").contains("1")
    val gcEvery = sys.env.get("SPARK_GRAFT_BENCH_GC_EVERY").map(_.toInt)
      .getOrElse(if (gcBetween) 1 else 10)
    // comma-decimal locales break JSON
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f",
        java.lang.Double.valueOf(v))
    // committed-twin load guard (r8 finding): the round-8 official capture
    // ran at load_avg 4.03 and published five fake per-query "regressions"
    // (q132 14.8 s vs 1.0 s clean, byte-identical code). Before truncating
    // BENCH_PERF.jsonl, read the PRIOR (committed) per-query seconds: any
    // timed rep that lands >3x its committed twin gets ONE retry and
    // publishes the better rep, so ambient-load spikes can't masquerade as
    // plan regressions. The retry is annotated in the perf line
    // ("retry_of") so the evidence channel still shows both values.
    // committed twins via [[parseTwins]] (min per name ACROSS ALL of a
    // query's lines — retry and median-rep lines INCLUDED, sf_dir-
    // matched — see the parser's scaladoc)
    val priorStats: Map[String, (Double, Long)] = {
      val f = new java.io.File("BENCH_PERF.jsonl")
      if (!f.exists()) Map.empty
      else {
        val src = scala.io.Source.fromFile(f)
        try {
          val lines = src.getLines().toVector
          val twins = parseTwinStats(lines, sfDir)
          if (twins.isEmpty && lines.nonEmpty)
            System.err.println("[bench] prior BENCH_PERF.jsonl has no " +
              s"usable twins for $sfDir — running without the retry guard")
          twins
        } finally src.close()
      }
    }
    val priorSecs: Map[String, Double] =
      priorStats.map { case (k, v) => k -> v._1 }
    val priorTaskMs: Map[String, Long] =
      priorStats.map { case (k, v) => k -> v._2 }
    // Median-of-3 queries (r9 brief): the VM's measured idle
    // run-to-run band (±8% totals, per-query swings to ~1.4× on
    // byte-identical code) is the limiting factor for regression
    // detection at the top of the time distribution — single reps
    // can't adjudicate a 4 s query that swings 2 s. The TOP-20 slowest
    // queries by committed twin get THREE timed reps and publish the
    // MEDIAN (all reps ride BENCH_PERF.jsonl with a "rep" field); the
    // rest stay single-rep under the 3× twin retry guard. Median, not
    // min: min hides a real regression that shows in every rep's tail,
    // median discards exactly the one-off spike.
    // SPARK_GRAFT_BENCH_MEDIAN adds explicitly-flagged names to the
    // median set (matched as BENCH_ONLY, see `selects`) — for
    // adjudicating a specific watch query that sits below the top-20
    // cutoff. The driver never sets it.
    val medianExtra: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_MEDIAN")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    val medianSet: Set[String] =
      // deterministic tie-break (name asc) so queries tied at the
      // cutoff can't flip in/out of the rep protocol between captures
      priorSecs.toSeq.sortBy { case (n, s) => (-s, n) }
        .take(20).map(_._1).toSet ++
        priorSecs.keySet.filter(selects(medianExtra, _))
    val perfLog = new java.io.PrintWriter(
      new java.io.FileWriter("BENCH_PERF.jsonl", false))
    // run-context stamp: a captured number is only interpretable next to
    // the machine state that produced it (r5: ambient load inflated two
    // captured numbers ~8× with nothing in-file saying so)
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    // the "start" ctx carries the PRE-WARM launch load (see launchLoad
    // above); "end" samples live — by then the reader knows the suite
    // itself was running
    def ctxLine(tag: String): String =
      s"""{"ctx":"$tag","load_avg":${f3(
        if (tag == "start") launchLoad else osBean.getSystemLoadAverage)}""" +
        s""","avail_cpus":${osBean.getAvailableProcessors}""" +
        s""","heap_max_mb":${Runtime.getRuntime.maxMemory() / (1024 * 1024)}""" +
        s""","sf_dir":"$sfDir"}"""
    // dev knob: SPARK_GRAFT_BENCH_ONLY=q104,q114 times just those
    // queries (see `selects`) — for iterating on one
    // query's plan without paying the full-suite wall time. The driver
    // never sets it, so captured rounds always run the whole suite.
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
    // per-query-line keys compress the qNN number to BASE-36 ("q190"
    // → "5a"), recoverable as `"q" + Integer.parseInt(key, 36)`.
    // Since r8 that map line is best-effort display only (the FINAL
    // line is a tiny fixed-size total that the driver parses at any
    // query count), but keeping it compact maximizes the chance it
    // survives the bounded-tail window too. BENCH_PERF.jsonl keeps
    // the qNN key AND the full name per line — the durable channel a
    // reader should join against anyway.
    val tiny: Map[String, String] =
      short.map { case (n, s) =>
        n -> java.lang.Long.toString(s.stripPrefix("q").toLong, 36) }
    // per-query codegen/JIT warm scale: first execution of a plan with a
    // giant generated method pays 2-8 s of Janino+HotSpot compilation by
    // compile-queue luck (measured on q48 — see SCALING.md). Warm at
    // sf0.01, not sf0.001: Janino compiles at any size, but HotSpot's C2
    // tier needs invocation VOLUME before it compiles the generated
    // methods — 50-row warms left q48's fold interpreted and its timed
    // number still swung 2-16 s; the ~60k-row warm drives the hot loops
    // past the compile threshold so the timed run measures steady-state
    // execution at the target sf
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.01")
    perfLog.println(ctxLine("start")); perfLog.flush()
    def logWarmFailure(name: String, scale: String, e: Throwable): Unit =
      System.err.println(
        s"[bench] $name warm ($scale) failed: ${e.getClass.getName}")
    // storage attribution for the drift columns: how much block-manager
    // memory the suite is dragging along (localCheckpoint blocks live
    // here until the cleaner frees them)
    def storageStats: (Long, Int) = {
      val infos = spark.sparkContext.getRDDStorageInfo
      (infos.map(_.memSize).sum / (1024 * 1024), infos.length)
    }
    val startLoad = launchLoad
    // one timed rep: clean cache, quiesce the listener, run the query
    // split into build (query construction — includes any eager
    // materialization) and exec (the count action), then clean up the
    // suite-pressure sources and emit a BENCH_PERF line. Returns the
    // wall seconds so the caller can decide whether to retry.
    def timedRep(name: String, fn: (org.apache.spark.sql.SparkSession,
        String) => org.apache.spark.sql.DataFrame,
        retryOf: Option[Double], rep: Option[Int] = None): RepResult = {
      // per-rep ambient stamp (r12 verdict #5): the q99/q171/q282
      // adjudications all reduced to "what was the box doing DURING
      // this rep" — sampled at rep START so it reflects the trailing
      // minute (prior queries + external load), before this rep's own
      // work moves it
      val repLoad = osBean.getSystemLoadAverage
      val rt = Runtime.getRuntime
      val heapFreeMb =
        (rt.maxMemory() - (rt.totalMemory() - rt.freeMemory())) /
          (1024L * 1024L)
      spark.catalog.clearCache()
      tracker.awaitQuiesce(stableMs = 50, timeoutMs = 2000)
      val before = tracker.snapshot()
      val t0 = System.nanoTime()
      var buildSecs = 0.0
      var builtDf: org.apache.spark.sql.DataFrame = null
      val n = try {
        val df = fn(spark, sfDir)
        builtDf = df
        buildSecs = (System.nanoTime() - t0) / 1e9
        df.count()
      } catch { case _: Throwable => -1L }
      val secs = (System.nanoTime() - t0) / 1e9
      // fingerprints AFTER the timed window (string build + md5 is
      // milliseconds, but it is not this query's execution)
      val planFp = if (n >= 0 && builtDf != null)
        try planFingerprint(builtDf) catch { case _: Throwable => "" }
      else ""
      val planFp2 = if (n >= 0 && builtDf != null)
        try planFingerprint2(builtDf) catch { case _: Throwable => "" }
      else ""
      if (n < 0) System.err.println(s"[bench] $name FAILED")
      // operators may persist() intermediates; drop them so successive
      // queries measure from a clean heap
      spark.catalog.clearCache()
      // the streaming harness queries sink through UUID-named memory
      // tables whose rows live on the DRIVER heap; without dropping
      // them every invocation's full result rides along for the rest
      // of the suite — one attributed source of the r6/r7
      // suite-pressure drift
      spark.catalog.listTables().collect()
        .filter(t => t.isTemporary && t.name.startsWith("graft_stream"))
        .foreach(t => spark.catalog.dropTempView(t.name))
      // listener delivery is async — settle briefly so this query's task
      // metrics land in its own delta, not the next one's
      tracker.awaitQuiesce(stableMs = 50, timeoutMs = 2000)
      val after = tracker.snapshot()
      val taskMs = after.executorRunTimeMs - before.executorRunTimeMs
      val gcMs = after.jvmGcTimeMs - before.jvmGcTimeMs
      val suspectSerial =
        suspectCodeState(secs, priorSecs.get(name), taskMs, gcMs)
      val suspectPar = !suspectSerial && suspectCodeStateParallel(secs,
        priorSecs.get(name), taskMs, priorTaskMs.get(name), gcMs)
      val suspect = suspectSerial || suspectPar
      val line = s"""{"q":"${short(name)}","name":"$name","sec":${f3(secs)}""" +
        s""","build_sec":${f3(buildSecs)}""" +
        s""","task_ms":$taskMs""" +
        s""","gc_ms":$gcMs""" +
        (if (suspectSerial) s""","suspect":"code-state"""" else "") +
        (if (suspectPar) s""","suspect":"code-state-par"""" else "") +
        (if (planFp.nonEmpty) s""","plan":"$planFp"""" else "") +
        (if (planFp2.nonEmpty) s""","plan2":"$planFp2"""" else "") +
        s""","shuf_r":${after.shuffleBytesRead - before.shuffleBytesRead}""" +
        s""","shuf_w":${after.shuffleBytesWritten - before.shuffleBytesWritten}""" +
        s""","spill":${after.spilledBytes - before.spilledBytes}""" +
        s""","tasks":${after.processed - before.processed}""" +
        s""","heap_mb":${after.jvmHeapUsedMb.toLong}""" +
        ambientStamp(repLoad, heapFreeMb, f3) +
        retryOf.map(v => s""","retry_of":${f3(v)}""").getOrElse("") +
        rep.map(i => s""","rep":$i""").getOrElse("") + {
          val (storeMb, storeRdds) = storageStats
          s""","store_mb":$storeMb,"store_rdds":$storeRdds}"""
        }
      perfLog.println(line)
      perfLog.flush()
      RepResult(secs, suspect)
    }
    var probesSpent = 0
    val results = names.zipWithIndex.map { case (name, qIdx) =>
      val fn = SparkEntry.queries(name)
      if (warmDir != sfDir)
        try fn(spark, warmDir).count()
        catch { case e: Throwable => logWarmFailure(name, warmDir, e) }
      // target-sf warm: eager build-time materialization (localCheckpoint
      // in the dedup/text operators) runs jobs at the TARGET scale during
      // query construction, whose codegen/JIT the small warm cannot
      // amortize — r5's captured q50 published 10.3 s for a 1 s query
      // because rep 1 paid a 4.6 s cold build inside the timed window
      try fn(spark, sfDir).count()
      catch { case e: Throwable => logWarmFailure(name, sfDir, e) }
      val published: RepResult =
        if (medianSet.contains(name)) {
          // top-20-by-twin: three reps, publish the median (the twin
          // retry guard is subsumed — a one-off spike is the discarded
          // extreme rep, a real regression shows in the median)
          val reps = (1 to 3).map(i =>
            timedRep(name, fn, retryOf = None, rep = Some(i)))
          medianRep(reps)
        } else {
          val first = timedRep(name, fn, retryOf = None)
          // committed-twin guard: >3x the prior committed capture AND
          // >1 s absolute excess (sub-second jitter is not worth a
          // rerun) → one retry, publish the better rep. Both reps are
          // in BENCH_PERF.
          priorSecs.get(name) match {
            case Some(twin) if first.secs > 3 * twin &&
                first.secs - twin > 1.0 =>
              System.err.println(s"[bench] $name ${f3(first.secs)}s vs " +
                s"committed twin ${f3(twin)}s — retrying once " +
                "(ambient-load guard)")
              val second = timedRep(name, fn, retryOf = Some(first.secs))
              if (second.secs < first.secs) second else first
            case _ => first
          }
        }
      // auto-probe (r11 brief #5): a code-state-suspect rep that
      // SURVIVES into the published number gets the fresh-JVM probe
      // automatically — the manual SPARK_GRAFT_BENCH_ONLY prescription,
      // now mechanical. Bounded at 3 probes per capture (each costs a
      // JVM + session start) and disabled inside probes themselves.
      if (published.suspect && probesSpent < 3 &&
          !sys.env.contains("SPARK_GRAFT_PROBE")) {
        probesSpent += 1
        System.err.println(s"[bench] $name published rep is code-state " +
          "suspect — spawning fresh-JVM probe")
        runProbe(name, sfDir, cpus) match {
          case Some(probeSec) =>
            perfLog.println(s"""{"q":"${short(name)}","name":"$name"""" +
              s""","probe_sec":${f3(probeSec)},"probe":"fresh-jvm"""" +
              s""","published_sec":${f3(published.secs)}}""")
            perfLog.flush()
          case None =>
            System.err.println(s"[bench] $name probe produced no total")
        }
      }
      if (gcEvery > 0 && (qIdx + 1) % gcEvery == 0) System.gc()
      name -> published.secs
    }
    perfLog.println(ctxLine("end"))
    perfLog.close()
    // seconds at 1 decimal, DISPLAY-clamped to 99.9: the map line is
    // best-effort display since the r8 split (BENCH_PERF.jsonl carries
    // the true f3 value), but r8's 9.9 clamp hid a 21 s ambient-load
    // outlier from readers of BENCH_rNN.json alone — one extra byte per
    // outlier buys an honest order of magnitude
    def f1c(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f",
        java.lang.Double.valueOf(math.min(v, 99.9)))
    val qs = results.map { case (k, v) => "\"" + tiny(k) + "\":" + f1c(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val sfName = sfDir.stripSuffix("/").split('/').last
    // r7 finding: one combined line (1,982 B at 216 queries) lost its
    // HEAD to the driver's bounded-tail capture once sbt's ~70 B
    // [success] epilogue shared the window, and the round's bench
    // total went unparsed. Split the emission: the per-query map rides
    // its own EARLIER line (best-effort — BENCH_PERF.jsonl is the
    // durable per-query channel regardless), and the FINAL line is a
    // tiny fixed-size object (~60 B) that parses at ANY query count.
    // the final line self-describes the machine state that produced it
    // (r8: a load_avg-4 capture published as the official total with the
    // evidence only in BENCH_PERF's ctx lines): "load" is the start
    // 1-min load average, and "degraded" appears when it exceeded 1.5
    val loadField = s""","load":${f1c(math.max(0.0, startLoad))}""" +
      (if (startLoad > 1.5) ""","degraded":true""" else "")
    println(s"""{"metric":"queries","queries":$qs,"sf":"$sfName"}""")
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","sf":"$sfName"$loadField}""")
    Console.out.flush()
    spark.stop()
  }
}
