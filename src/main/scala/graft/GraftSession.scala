package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: `local[cores]` with one shuffle partition
  * per core, UTC session time, no UI and WARN logging. `cores` defaults
  * to SPARK_GRAFT_CPUS (32 when unset). Optimizer extensions are the
  * caller's choice: `Bench` and `Verify` add
  * [[graft.plans.GraftExtensions.register]], `Main` does not.
  */
object GraftSession {
  def cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def apply(cores: String = GraftSession.cores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
