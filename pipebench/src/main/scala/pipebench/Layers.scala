package pipebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Per-layer Spark work, keyed by the `pipebench.layer` local property
  * the benchmark sets around each layer call. Jobs launched with no
  * layer set land in `unattributed`. */
final class LayerListener extends SparkListener {
  final class Acc {
    val jobs, tasks, taskMs, gcMs, failures, shuffleBytes, bytesWritten =
      new LongAdder
  }
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val accs = new ConcurrentHashMap[String, Acc]()

  def acc(layer: String): Acc = accs.computeIfAbsent(layer, _ => new Acc)
  def layers: Seq[String] = accs.keySet.asScala.toSeq.sorted

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val layer = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Layers.Key)))
      .getOrElse(Layers.Unattributed)
    e.stageIds.foreach(stageLayer.put(_, layer))
    acc(layer).jobs.increment()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageLayer.getOrDefault(e.stageId, Layers.Unattributed))
    a.tasks.increment()
    if (e.reason != Success) a.failures.increment()
    val m = e.taskMetrics
    if (m != null) {
      a.taskMs.add(m.executorRunTime)
      a.gcMs.add(m.jvmGCTime)
      a.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      a.bytesWritten.add(m.outputMetrics.bytesWritten)
    }
  }
}

object Layers {
  val Key = "pipebench.layer"
  val Unattributed = "unattributed"

  /** Run `body` with its Spark jobs attributed to `layer`; returns the
    * body's result and its wall seconds on the calling thread. Layers nest: the inner
    * name wins while it runs, the outer one is restored after. */
  def timed[T](spark: SparkSession, layer: String)(body: => T): (T, Double) = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, layer)
    val t0 = System.nanoTime()
    try {
      val out = body
      (out, (System.nanoTime() - t0) / 1e9)
    } finally sc.setLocalProperty(Key, outer)
  }

  /** Block until every posted listener event has been delivered. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PipebenchBus.drain(spark.sparkContext)
}
