package graft

import graft.pipeline.{Pipeline, RawPage}
import graft.io.PerfTracker

/** E2 equivalent (SURVEY §3): the cron-driven run. Builds the session,
  * resolves run-mode flags, and runs one [[Pipeline.hour]] over a
  * directory of page files: the master commit and the two CSV views
  * (full + 7-day dashboard) under `--out`, next to the run's perf log.
  * A run whose `--as-of` (default: the local wall clock) is not later
  * than the last committed hour's is a replay and commits nothing.
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

    val hour = Pipeline.hour(spark, pages, asOfStr, masterPath, outDir,
      updateUnpublishedBySearch = !flags("--no-unpublish-by-search"))
    println(s"master rows: ${hour.master.count()}")
    println(s"hour $asOfStr: " +
      (if (hour.applied) "applied" else "skipped as a replay of a committed hour"))
    new java.io.File(outDir).mkdirs()
    perf.awaitQuiesce()
    perf.writeLog(s"$outDir/performance_log.jsonl")
    println(perf.summaryLine())
    spark.stop()
  }
}
