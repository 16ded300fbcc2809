package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Pipeline, RawPage}
import graft.io.{AtomicParquet, PerfTracker}

/** E2 equivalent (SURVEY §3): the cron-driven run. Builds the session,
  * resolves run-mode flags, executes one E1 micro-batch over a directory
  * of page files, atomically publishes the master, and writes the two
  * CSV views (full + 7-day dashboard).
  *
  * Usage:
  *   runMain graft.Main --pages <dir-of-html> --master <parquet-path>
  *     --out <csv-dir> [--as-of "yyyy-MM-dd HH:mm:ss"]
  *     [--no-unpublish-by-search]
  */
object Main {
  def main(args: Array[String]): Unit = {
    // zero-arity flags are consumed separately — pairing them through a
    // sliding(2,2) would shift every later key/value pair off by one
    val zeroArity = Set("--no-unpublish-by-search")
    val flags = args.filter(zeroArity).toSet
    val opts = args.filterNot(zeroArity).sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val pagesDir = opts("pages")
    val masterPath = opts("master")
    val outDir = opts.getOrElse("out", masterPath + "_views")
    val asOfStr = opts.getOrElse("as-of",
      java.time.LocalDateTime.now().format(
        java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")))

    val spark = GraftSession()
    // A13: per-run perf log (task-denominated analog of the reference's
    // request tracker); JSON lines land next to the CSV views
    val perf = PerfTracker.install(spark)
    import spark.implicits._

    val asOf = lit(asOfStr).cast("timestamp")
    val master = AtomicParquet.read(spark, masterPath, Pipeline.emptyMaster(spark))
    // URL recovery: a listing page's offer_id comes from its URL, which a
    // plain file dump loses. Convention: a file named <digits>.html is
    // listing /rent/flat/<digits>/; anything else keeps its path as url
    // (fine for search pages — their card ids come from LinkArea hrefs).
    val idFile = """.*/(\d+)\.html?$""".r
    val pages = spark.sparkContext.wholeTextFiles(pagesDir)
      .map {
        case (idFile(id), html) =>
          RawPage(s"https://www.cian.ru/rent/flat/$id/", html)
        case (path, html) => RawPage(path, html)
      }.toDS()

    val merged = Pipeline.processBatch(spark, master, pages, asOf, asOfStr,
      updateUnpublishedBySearch = !flags("--no-unpublish-by-search"))

    AtomicParquet.publish(merged, masterPath)
    // CSV views read the published master — lineage to the swapped dir is
    // already cut
    val published = spark.read.parquet(masterPath)
    Pipeline.writeCsv(published, s"$outDir/combined_data")
    Pipeline.writeCsv(Pipeline.dashboardView(published, asOf),
      s"$outDir/combined_data_filtered")
    println(s"master rows: ${spark.read.parquet(masterPath).count()}")
    new java.io.File(outDir).mkdirs()
    perf.awaitQuiesce()
    perf.writeLog(s"$outDir/performance_log.jsonl")
    println(perf.summaryLine())
    spark.stop()
  }
}
