package graft

/** Every registered query builds and counts at sf0.001 through the same
  * per-query function `Bench` times. A query that throws inside `Bench`
  * only prints `[bench] X FAILED`, so this is where it fails the build.
  * Runs in its own session (shared SparkContext) with Bench's optimizer
  * extensions, so no query's session state leaks into other suites.
  */
class QuerySmokeSpec extends SparkSpec {

  test("every SparkEntry query builds and counts at sf0.001") {
    val s = spark.newSession()
    graft.plans.GraftExtensions.register(s)
    org.apache.spark.sql.SparkSession.setActiveSession(s)
    val failed = try SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val err = try { Bench.runQuery(s, name, "/root/testdata/sf0.001"); None }
        catch { case e: Throwable => Some(s"$name: ${e.toString.take(300)}") }
      Bench.cleanUp(s)
      err
    } finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
    assert(failed.isEmpty, failed.mkString("\n"))
  }
}
