package pipebench

import java.io.File

/** Per-layer listener counters at one instant. */
final case class Snapshot(byLayer: Map[String, Map[String, Long]]) {
  def minus(o: Snapshot): Snapshot = Snapshot(byLayer.map { case (l, m) =>
    l -> m.map { case (k, v) => k -> (v - o.byLayer.get(l).flatMap(_.get(k)).getOrElse(0L)) }
  })
  def get(layer: String, k: String): Long =
    byLayer.get(layer).flatMap(_.get(k)).getOrElse(0L)
  def sum(k: String, layers: String => Boolean): Long =
    byLayer.collect { case (l, m) if layers(l) => m.getOrElse(k, 0L) }.sum
}

object Snapshot {
  val empty = Snapshot(Map.empty)
  def of(l: LayerListener): Snapshot = Snapshot(l.layers.map { n =>
    val a = l.acc(n)
    n -> Map("jobs" -> a.jobs.sum(), "tasks" -> a.tasks.sum(),
      "task_ms" -> a.taskMs.sum(), "gc_ms" -> a.gcMs.sum(),
      "failures" -> a.failures.sum(), "shuffle_bytes" -> a.shuffleBytes.sum(),
      "bytes_written" -> a.bytesWritten.sum())
  }.toMap)
}

/** The traced run's per-layer metrics. Figures are per traced batch
  * (means), except file counts (state at the end of the run) and the
  * dedup totals, which cover the whole run. */
object Trace {
  /** Layer names whose jobs count as the traced batches' own work;
    * `trace` holds the counting jobs the trace adds, `plain` the
    * untraced batches of the same run. */
  private val own = Set("parse", "etl", "merge", "publish", "views",
    "dedup.index", "dedup.spans", Layers.Unattributed)

  def metrics(d: Snapshot, traces: Seq[BatchTrace],
      r: Runner, overheadS: Double): Seq[(String, Double, String)] = {
    val n = math.max(1, traces.size).toDouble
    def wall(k: String) = traces.map(_.wall.getOrElse(k, 0.0)).sum / n
    def cnt(k: String) = traces.map(_.count.getOrElse(k, 0.0)).sum / n
    def task(l: String) = d.get(l, "task_ms") / n
    val rowsIn = traces.map(_.count.getOrElse("parse.rows_in", 0.0)).sum
    val kept = traces.map(_.count.getOrElse("parse.rows_kept", 0.0)).sum
    Seq(
      ("parse.wall_s", wall("parse"), "s"),
      ("parse.task_ms", task("parse"), "ms"),
      ("parse.rows_in", cnt("parse.rows_in"), "count"),
      ("parse.ok_ratio", if (rowsIn > 0) kept / rowsIn else 0.0, "ratio"),
      ("etl.wall_s", wall("etl"), "s"),
      ("etl.task_ms", task("etl"), "ms"),
      ("merge.build_s", wall("merge.build"), "s"),
      ("merge.plan_s", wall("merge.plan"), "s"),
      ("merge.wall_s", wall("merge"), "s"),
      ("merge.task_ms", task("merge"), "ms"),
      ("merge.shuffle_bytes", d.get("merge", "shuffle_bytes") / n, "bytes"),
      ("merge.rows_matched", cnt("merge.rows_matched"), "count"),
      ("merge.rows_inserted", cnt("merge.rows_inserted"), "count"),
      ("merge.unpublish_markers", cnt("merge.unpublish_markers"), "count"),
      ("publish.wall_s", wall("publish"), "s"),
      ("publish.task_ms", task("publish"), "ms"),
      ("publish.bytes_written", d.get("publish", "bytes_written") / n, "bytes"),
      ("publish.files_written", Files.count(new File(r.store.master)).toDouble, "count"),
      ("publish.master_rows", cnt("publish.master_rows"), "count"),
      ("views.wall_s", wall("views"), "s"),
      ("views.task_ms", task("views"), "ms"),
      ("views.bytes_written", d.get("views", "bytes_written") / n, "bytes"),
      ("dedup.index.wall_s", wall("dedup.index"), "s"),
      ("dedup.index.task_ms", task("dedup.index"), "ms"),
      ("dedup.index.files", Files.count(new File(r.store.index)).toDouble, "count"),
      ("dedup.pairs", r.pairs.size.toDouble, "count"),
      ("dedup.spans.wall_s", wall("dedup.spans"), "s"),
      ("dedup.spans.task_ms", task("dedup.spans"), "ms"),
      ("dedup.spans.files", Files.count(new File(s"${r.store.spans}/state")).toDouble, "count"),
      ("dedup.spans.compactions", r.compactions.toDouble, "count"),
      ("spark.jobs", d.sum("jobs", own) / n, "count"),
      ("spark.tasks", d.sum("tasks", own) / n, "count"),
      ("spark.gc_ms", d.sum("gc_ms", own) / n, "ms"),
      ("spark.task_failures", d.sum("failures", _ => true).toDouble, "count"),
      ("trace.unattributed_ms", task(Layers.Unattributed), "ms"),
      ("trace.overhead_s", overheadS, "s"))
  }
}
