package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.GraftBridge
import graft.{Bench, GraftSession, SparkEntry}
import scala.collection.mutable.ArrayBuffer

/** Dev tool: profiles a comma list of queries IN ORDER in one JVM, in
  * Bench's session (same core count, same optimizer extensions). For
  * each query it prints the driver/execution split (build, analyze,
  * optimize, plan, exec), the job and stage counts, the top stages by
  * task time, and the `plan2` fingerprint; after the last query it
  * prints that query's normalized executed-plan text.
  *
  * Every query runs once, so list a query twice ("q48,q48") to see it
  * warm. Running the tool with two different PREFIX lists and diffing
  * the output is the minimal reproduction of a context-sensitive
  * fingerprint (plan_diff's KNOWN_MULTISTABLE entries).
  *
  * Usage: runMain graft.tools.QProfile <q1,q2,...> [sfDir]
  */
object QProfile {
  private case class Stage(id: Int, tasks: Int, wallMs: Long, taskMs: Long,
    gcMs: Long, name: String)

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession()
    graft.plans.GraftExtensions.register(spark)
    val stages = ArrayBuffer[Stage]()
    var jobs = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        stages.synchronized { jobs += 1 }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val wall = (for (a <- i.completionTime; b <- i.submissionTime)
          yield a - b).getOrElse(-1L)
        stages.synchronized {
          stages += Stage(i.stageId, i.numTasks, wall,
            i.taskMetrics.executorRunTime, i.taskMetrics.jvmGCTime, i.name)
        }
      }
    })
    names.foreach { name =>
      stages.synchronized { stages.clear(); jobs = 0 }
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.assertAnalyzed()
      val t2 = System.nanoTime()
      df.queryExecution.optimizedPlan
      val t3 = System.nanoTime()
      df.queryExecution.executedPlan
      val t4 = System.nanoTime()
      val rows = df.count()
      val t5 = System.nanoTime()
      GraftBridge.drainListeners(spark.sparkContext) // listener delivery is async
      def s(a: Long, b: Long) = f"${(b - a) / 1e9}%.2f"
      val (ss, nj) = stages.synchronized { (stages.toVector, jobs) }
      println(s"[qprofile] $name rows=$rows build=${s(t0, t1)} " +
        s"analyze=${s(t1, t2)} optimize=${s(t2, t3)} plan=${s(t3, t4)} " +
        s"exec=${s(t4, t5)} total=${s(t0, t5)} jobs=$nj stages=${ss.size} " +
        f"task=${ss.map(_.taskMs).sum / 1e3}%.1f gc=${ss.map(_.gcMs).sum / 1e3}%.1f " +
        s"plan2=${Bench.planFingerprint2(df)}")
      ss.sortBy(-_.taskMs).take(6).foreach { st =>
        println(f"[qprofile]   stage=${st.id}%4d tasks=${st.tasks}%4d " +
          f"wall=${st.wallMs}%6d ms task=${st.taskMs}%7d ms " +
          f"gc=${st.gcMs}%5d ms ${st.name.take(90)}")
      }
      if (name == names.last)
        println(Bench.normalizePlanText(df.queryExecution.executedPlan.toString))
      Bench.cleanUp(spark)
    }
    spark.stop()
  }
}
