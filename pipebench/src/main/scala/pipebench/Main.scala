package pipebench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** Heap left live after a full collection, in MB. Taken at the end of
  * every measured hour, outside its timing; the largest is reported.
  * The second collection frees what Spark's cleaner released after the
  * first (shuffle, broadcast and checkpoint state of finished jobs). */
object Heap {
  def liveMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** One run: set up, a closed loop of hours for `--seconds`, the ground-
  * truth check, then the result as the last stdout line.
  *
  *   pipebench.Main --workload hourly --seed 1 --seconds 10 --trace 0 --work DIR
  *
  * `--trace 0` reports the end-to-end metrics. `--trace 1` alternates
  * traced and plain hours (the first one traced) and reports the
  * per-layer metrics; the plain hours give the tracing overhead.
  */
object Main {
  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  private def median(xs: Seq[Double]): Double = Stats.quantile(xs, 0.5)

  private def loadAvg: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def cpuS: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Seconds of CPU the hypervisor took from this VM (Linux `steal`),
    * or NaN where /proc/stat is absent. */
  private def stealS: Double = {
    val f = new java.io.File("/proc/stat")
    if (!f.canRead) Double.NaN
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().next().trim.split("\\s+").lift(8).map(_.toDouble / 100).getOrElse(Double.NaN)
      finally src.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val name = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val wl = Workload.all.find(_.name == name).getOrElse(sys.error(
      s"unknown workload $name; one of ${Workload.all.map(_.name).mkString(", ")}"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val work = arg(args, "--work").getOrElse(sys.error("--work is required"))
    val load0 = loadAvg
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(p: String): Unit = System.err.println(
      f"[pipebench] $p done at ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s")

    // the session graft.Main builds, at the available core count
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("pipebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = if (trace) Some(new LayerListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val r = new Runner(spark, wl, seed, s"$work/store")
    phase("session")

    // ---- set-up: generate the first hour, seed the store, warm up
    val st0 = System.nanoTime()
    val warmS = r.setup()
    val setupS = (System.nanoTime() - st0) / 1e9
    phase("setup")

    // ---- timed phase: closed loop, the next hour starts when the last is done
    var heapPeakMb = 0.0
    listener.foreach(_ => Layers.drain(spark))
    val before = listener.map(Snapshot.of).getOrElse(Snapshot.empty)
    val walls = ArrayBuffer.empty[Double]
    val tracedWalls = ArrayBuffer.empty[Double]
    val traces = ArrayBuffer.empty[BatchTrace]
    var cards = 0L
    var failedBatches = 0
    var attempted = 0
    val (cpu0, steal0) = (cpuS, stealS)
    var runS = 0.0 // wall seconds inside measured hours (heap probes excluded)
    def more =
      if (trace) walls.isEmpty || tracedWalls.isEmpty else walls.size < wl.minHours
    while ((runS < seconds || more) && failedBatches == 0) {
      val b = r.nextBatch()
      val tr = if (trace && attempted % 2 == 0) Some(new BatchTrace) else None
      attempted += 1
      val bt = System.nanoTime()
      try {
        if (trace && tr.isEmpty) Layers.timed(spark, "plain")(r.batch(b, None))
        else r.batch(b, tr)
        val w = (System.nanoTime() - bt) / 1e9
        runS += w
        tr match {
          case Some(t) => tracedWalls += w; traces += t
          case None => walls += w
        }
        cards += b.cards.size
        heapPeakMb = math.max(heapPeakMb, Heap.liveMb())
      } catch {
        case e: Exception =>
          failedBatches += 1
          System.err.println(s"[pipebench] hour ${b.hour} failed: $e")
          e.printStackTrace()
      }
    }
    val (cpuRun, stealRun) = (cpuS - cpu0, stealS - steal0)
    listener.foreach(_ => Layers.drain(spark))
    val after = listener.map(Snapshot.of).getOrElse(Snapshot.empty)
    phase("timed phase")

    // ---- ground-truth check of the final state
    val check = Check.run(spark, r, wl)
    phase("check")
    check.detail.foreach(System.err.println)

    val (tailQ, tailV) = Stats.tail(walls.toSeq)
    val failed = failedBatches + check.failures
    println("[pipebench] context " + Json.obj(
      "workload" -> wl.name, "seed" -> seed, "trace" -> trace,
      "nproc" -> cores, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "load_avg_start" -> load0, "load_avg_end" -> loadAvg,
      "spark_version" -> spark.version,
      "commit" -> sys.env.getOrElse("PIPEBENCH_COMMIT", "unknown"),
      "run_seconds" -> seconds, "warmup_s" -> warmS,
      "run_s" -> Json.obj("value" -> runS, "unit" -> "s"),
      "error_rate" -> Json.obj("value" -> failed.toDouble / math.max(1, attempted),
        "unit" -> "ratio"),
      "run_cpu_s" -> cpuRun, "run_steal_s" -> stealRun,
      "batches_attempted" -> attempted, "batches_failed" -> failedBatches,
      "batch_samples" -> walls.size, "traced_samples" -> tracedWalls.size,
      "batch_tail_s" -> Json.obj("value" -> tailV, "unit" -> "s", "quantile" -> tailQ),
      "batch_walls_s" -> walls.toSeq, "traced_walls_s" -> tracedWalls.toSeq,
      "cards" -> cards,
      "check" -> check.report))

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("batch_p50_s", median(walls.toSeq), "s"),
        ("listings_per_s", cards / runS, "1/s"),
        ("store_bytes", r.storeBytes.toDouble, "bytes"),
        ("heap_peak_mb", heapPeakMb, "MB"))
      else Trace.metrics(after.minus(before), traces.toSeq, r,
        median(tracedWalls.toSeq) - median(walls.toSeq))
    println(Json.obj(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.Raw(metrics.map { case (n, v, u) =>
        Json.str(n) + ":" + Json.obj("value" -> v, "unit" -> u)
      }.mkString("{", ",", "}"))))
    spark.stop()
    sys.exit(if (failed == 0) 0 else 1)
  }
}
