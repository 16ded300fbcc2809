package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // dev-only third arg: comma-separated query-name filter (the driver
    // always passes exactly two args, so its contract is unchanged)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession()
    // uniform optimizer config across the suite (q70 would otherwise
    // install the extension rules mid-run; register is idempotent)
    graft.plans.GraftExtensions.register(spark)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Fixture-path portability (r9 brief): a dozen oracles restate a
    // fixture corpus (recorded HTML, PNG/WAV/GVID media, perf logs,
    // export shards) from its on-disk path, which SparkEntry.oracleSql
    // spells at the driver's gate scale (sf0.01, the map's static
    // contract). Every fixture writer is sf-parameterized
    // (`target/<family>/<sf-name>/`), so dumping here rewrites the sf
    // path segment to the sf actually verified — at sf0.01 the dumped
    // SQL is byte-identical to the static map (the driver's gate is
    // untouched), and a 10x sweep at sf0.1 reads each family's sf0.1
    // fixture set instead of permanently skipping the class.
    val sfName = new java.io.File(sfDir).getName
    val fixturePath = "(/root/repo/target/[a-z0-9_]+/)sf0\\.01/".r
    // quoteReplacement: a '$' or '\' in the sf-dir basename would
    // otherwise be interpreted as a replacement-template reference
    val sfRepl = scala.util.matching.Regex.quoteReplacement(s"$sfName/")
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        val sql = fixturePath.replaceAllIn(v, m => s"${m.group(1)}$sfRepl")
        // a fixture-family dir outside [a-z0-9_]+ would silently skip
        // the rewrite and read sf0.01 fixtures at another sf — warn
        // loudly so a sweep failure is attributable from stderr alone
        if (sfName != "sf0.01" && sql.contains("/sf0.01/"))
          System.err.println(s"[verify] $k: an sf0.01 fixture path " +
            s"survived the $sfName rewrite — check the fixture dir " +
            "naming against Verify's [a-z0-9_]+ family pattern")
        s"${q(k)}: ${q(sql)}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
