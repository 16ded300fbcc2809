package graft.queries


import org.apache.spark.sql.functions._
import graft.config.SearchConfig
import graft.enrich.{Cookies, Enrichment, HttpClient, HttpRequest, HttpResponse}
import graft.io.JsonTable
import graft.model.Tables
import graft.pipeline.Pipeline

/** Deterministic fake HTTP backend for the driver-visible enrichment
  * query (q45): every response is a pure function of the request, so
  * DuckDB can restate the whole chain's arithmetic while the REAL
  * worker-pool path (per-partition client, serial mode, P6 status
  * filter + JSON extract) executes. k%13==0 addresses geocode to a 404
  * — those rows must drop at the status filter.
  */
class ArithmeticGeoClient extends HttpClient {
  private val sessionRe = """session=(\d+)""".r
  def execute(req: HttpRequest): HttpResponse =
    if (req.url.contains("nominatim")) {
      val k = req.params("q").filter(_.isDigit).toLong
      // A12 visibility: the session cookie (attached by Cookies
      // .withCookies from a real jar file) shifts the returned latitude,
      // so the oracle SQL proves the header reached the backend
      val session = req.headers.get("Cookie")
        .flatMap(c => sessionRe.findFirstMatchIn(c))
        .map(_.group(1).toLong).getOrElse(0L)
      if (k % 13 == 0) HttpResponse(req.requestId, 404, "")
      else HttpResponse(req.requestId, 200,
        s"""[{"lat":"${55 + k % 90 + session}","lon":"${37 + k % 50}"}]""")
    } else {
      // route URL tail: ...;<lon>,<lat> (integer-valued, so exact)
      val coords = req.url.substring(req.url.lastIndexOf(';') + 1).split(",")
      val lon = coords(0).toDouble
      val lat = coords(1).toDouble
      val meters = ((lat * 3 + lon * 7) * 10).toLong
      HttpResponse(req.requestId, 200,
        s"""{"routes":[{"distance":$meters}]}""")
    }
}

/** A7 backend: every request is rate-limited. With breakerThreshold=5
  * exactly the first five rows of the (single) partition receive a real
  * backend 429; the breaker then opens and every remaining row fails
  * fast with error="circuit-open" (async_http_processor.py:17-27).
  * Which five rows go first is partition-order-dependent, so the
  * driver-visible observable is the aggregate count per kind.
  */
class AlwaysRateLimitedClient extends HttpClient {
  def execute(req: HttpRequest): HttpResponse =
    HttpResponse(req.requestId, 429, "")
}

/** Oracle-checked exercise of the pipeline surface the driver couldn't
  * see in round 1: work-list/filter operators (P1/P3/P4/B5/B6 —
  * parse_data.py:138-143,376-401,441-449), the YAML→URL source spec
  * (A2/A3/P7 — construct_url.py:16-40), the enrichment chain
  * (A5–A8/P6/F18/F16 — distance.py:9-90), and the sink round-trip
  * (A9/A10/A11/F15/S7 — parse_data.py:187-204).
  */
object PipelineQueries extends QueryModule {

  val queries: Seq[Q] = Seq(

    // ---- P1/P3/P4 filters, B5/B6 projections, G5/G6/G7 set algebra as
    // one labeled union of the four reference work lists over a master
    // synthesized from customer columns; current-batch ids from orders.
    Q(
      "q43_work_lists",
      (s, d) => {
        val ck = col("c_custkey")
        val master = Tables.customer(s, d).select(
          ck.cast("string").as("offer_id"),
          when(pmod(ck, lit(3)) === 0, lit(null).cast("double"))
            .otherwise(ck * 90.0).as("estimated_price"),
          (pmod(ck, lit(7)) === 0).as("is_unpublished"),
          when(pmod(ck, lit(5)) === 0, lit(null).cast("double"))
            .otherwise(ck.cast("double")).as("distance"),
          when(pmod(ck, lit(11)) === 0, lit(""))
            .otherwise(concat(lit("addr "), ck.cast("string"))).as("address"))
        val current = Tables.orders(s, d)
          .select(col("o_custkey").cast("string").as("offer_id")).distinct()
        val active = master.filter(!col("is_unpublished"))
          .select(col("offer_id")).distinct()
        val noAddr = lit(null).cast("string").as("address")
        val est = Pipeline.missingEstimationIds(master)
          .select(lit("estimation").as("src"), col("offer_id"), noAddr)
        val dist = Pipeline.distanceWorkList(master)
          .select(lit("distance").as("src"), col("offer_id"), col("address"))
        val scrape = Pipeline.scrapeWorkList(current, active,
            est.select(col("offer_id")),
            updateAll = false, scrapeNew = true, checkUnpublished = true)
          .select(lit("scrape").as("src"), col("offer_id"), noAddr)
        val unpub = Pipeline.missingAsUnpublished(master, current)
          .select(lit("unpublish").as("src"), col("offer_id"), noAddr)
        est.unionByName(dist).unionByName(scrape).unionByName(unpub)
      },
      Some("""WITH master AS (
             |  SELECT CAST(c_custkey AS VARCHAR) AS offer_id,
             |    CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_custkey * 90.0 END AS estimated_price,
             |    (c_custkey % 7 = 0) AS unpub,
             |    CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE CAST(c_custkey AS DOUBLE) END AS distance,
             |    CASE WHEN c_custkey % 11 = 0 THEN '' ELSE 'addr ' || CAST(c_custkey AS VARCHAR) END AS address
             |  FROM customer
             |), cur AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS offer_id FROM orders),
             |active AS (SELECT offer_id FROM master WHERE NOT unpub),
             |gone AS (SELECT offer_id FROM active EXCEPT SELECT offer_id FROM cur)
             |SELECT 'estimation' AS src, offer_id, CAST(NULL AS VARCHAR) AS address
             |FROM master WHERE estimated_price IS NULL AND NOT unpub
             |UNION ALL
             |SELECT 'distance', offer_id, address
             |FROM master WHERE distance IS NULL AND length(coalesce(address, '')) > 0
             |UNION ALL
             |SELECT 'scrape', offer_id, NULL FROM (
             |  SELECT offer_id FROM (SELECT offer_id FROM cur EXCEPT SELECT offer_id FROM active)
             |  UNION
             |  SELECT offer_id FROM gone)
             |UNION ALL
             |SELECT 'unpublish', offer_id, NULL FROM gone""".stripMargin),
    ),

    // ---- A2 YAML scan + A3/P7 URL scan-spec: per-nation YAML parsed by
    // the REAL jackson path on executors, compiled to search/page/listing
    // URLs; DuckDB restates the byte-exact URL strings.
    Q(
      "q44_search_urls",
      (s, d) => {
        import s.implicits._
        val rows = Tables.nation(s, d)
          .select(col("n_nationkey").cast("long")).as[Long].map { k =>
            val yaml = s"maxprice: ${k * 1000 + 5000}\n" +
              s"district:\n  - $k\n  - ${k + 100}\n" +
              "rooms:\n  - 1\n  - 2\n"
            val cfg = SearchConfig.fromYaml(yaml)
            val base = "https://cian.ru"
            val url = SearchConfig.searchUrl(base, cfg)
            val pages = SearchConfig.searchPageUrls(url, 2)
            val listing = SearchConfig.listingUrls(base, Seq(k.toString)).head
            (k, url, pages, listing)
          }.toDF("nationkey", "search_url", "page_urls", "listing_url")
        rows.select(col("nationkey"), col("search_url"),
          posexplode(col("page_urls")).as(Seq("pos", "page_url")),
          col("listing_url"))
          .select(col("nationkey"), (col("pos") + 1).as("page"),
            col("search_url"), col("page_url"), col("listing_url"))
      },
      Some("""SELECT n_nationkey AS nationkey, CAST(p AS BIGINT) AS page,
             |  'https://cian.ru/cat.php?currency=2&engine_version=2&type=4&deal_type=rent&sort=creation_date_desc&maxprice='
             |    || CAST(n_nationkey * 1000 + 5000 AS VARCHAR)
             |    || '&district[0]=' || CAST(n_nationkey AS VARCHAR)
             |    || '&district[1]=' || CAST(n_nationkey + 100 AS VARCHAR)
             |    || '&room1=1&room2=1' AS search_url,
             |  'https://cian.ru/cat.php?currency=2&engine_version=2&type=4&deal_type=rent&sort=creation_date_desc&maxprice='
             |    || CAST(n_nationkey * 1000 + 5000 AS VARCHAR)
             |    || '&district[0]=' || CAST(n_nationkey AS VARCHAR)
             |    || '&district[1]=' || CAST(n_nationkey + 100 AS VARCHAR)
             |    || '&room1=1&room2=1&p=' || CAST(p AS VARCHAR) AS page_url,
             |  'https://cian.ru/rent/flat/' || CAST(n_nationkey AS VARCHAR) AS listing_url
             |FROM nation CROSS JOIN (VALUES (1), (2)) t(p)""".stripMargin),
    ),

    // ---- A5–A8 + P6 + F18 + F16: the full distance-enrichment chain
    // through the real worker-pool source (serial mode, per-partition
    // client, retry/breaker machinery in the path) against the
    // arithmetic fake backend; k%13 rows 404 out at the status filter.
    Q(
      "q45_enrichment_chain",
      (s, d) => {
        val workList = Tables.customer(s, d).select(
          col("c_custkey").cast("string").as("offer_id"),
          concat(lit("addr "), col("c_custkey").cast("string")).as("address"))
        // A12 end-to-end: a real browser-export-shaped jar FILE is
        // loaded by Cookies.load and attached to every request; the
        // backend shifts lat by the session cookie's value, so the
        // oracle's +7 proves the header crossed the executor boundary.
        val jarPath = java.nio.file.Paths
          .get(graft.io.Scratch.dir("graft_q45_"), "cookies.json")
        java.nio.file.Files.write(jarPath,
          """[{"name":"session","value":"7"},{"name":"theme","value":"dark"}]"""
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val jar = Cookies.load(Some(jarPath.toString), useCookies = true)
        Enrichment.distanceChain(workList, "37.6,55.7",
          () => new ArithmeticGeoClient, jar)
      },
      Some("""SELECT CAST(c_custkey AS VARCHAR) AS offer_id,
             |  floor(((55 + c_custkey % 90 + 7) * 3 + (37 + c_custkey % 50) * 7) * 10
             |        / 1000 * 100 + 0.5) / 100 AS distance
             |FROM customer WHERE c_custkey % 13 <> 0""".stripMargin),
    ),

    // ---- A7 circuit breaker, driver-visible: all-429 backend → exactly
    // breakerThreshold real 429s then fail-fast circuit-open rows for the
    // rest of the partition; aggregated because the first-five identity
    // is partition-order-dependent (the values are not).
    Q(
      "q55_circuit_breaker",
      (s, d) => {
        val reqs = Enrichment.geocodeRequests(
          Tables.customer(s, d).select(
            col("c_custkey").cast("string").as("offer_id"),
            concat(lit("addr "), col("c_custkey").cast("string")).as("address")))
        Enrichment.processRequests(reqs, () => new AlwaysRateLimitedClient,
            maxConcurrent = 1, breakerThreshold = 5)
          .toDF()
          .groupBy(col("status"),
            coalesce(col("error"), lit("backend-429")).as("kind"))
          .agg(count(lit(1)).as("n"))
      },
      Some("""SELECT 429 AS status, 'backend-429' AS kind, CAST(5 AS BIGINT) AS n
             |UNION ALL
             |SELECT 429, 'circuit-open', count(*) - 5 FROM customer""".stripMargin),
    ),

    // ---- FLEET-level breaker at the phase boundary: the same distance
    // chain run twice with a 50% fleet-abort threshold — against the
    // saturated all-429 backend the driver reads the accumulator after
    // the (materialized) geocode phase and skips routing entirely (zero
    // rows); against the healthy backend the guard stays silent and the
    // full chain result flows through. Per-partition breakers (q55)
    // cannot make this call — each partition only sees its own slice.
    Q(
      "q59_fleet_breaker_abort",
      (s, d) => {
        val workList = Tables.customer(s, d)
          .filter(col("c_custkey") % 3 === 0)
          .select(col("c_custkey").cast("string").as("offer_id"),
            concat(lit("addr "), col("c_custkey").cast("string")).as("address"))
        def run(factory: () => HttpClient) =
          Enrichment.distanceChain(workList, "37.6,55.7", factory,
            cookieJar = None, fleetAbort429Fraction = Some(0.5))
        run(() => new AlwaysRateLimitedClient)
          .agg(count(lit(1)).as("n")).select(lit("saturated").as("scenario"), col("n"))
          .unionByName(
            run(() => new ArithmeticGeoClient)
              .agg(count(lit(1)).as("n"))
              .select(lit("healthy").as("scenario"), col("n")))
      },
      Some("""SELECT 'saturated' AS scenario, CAST(0 AS BIGINT) AS n
             |UNION ALL
             |SELECT 'healthy', count(*) FROM customer
             |WHERE c_custkey % 3 = 0 AND c_custkey % 13 <> 0""".stripMargin),
    ),

    // ---- A9 JSON sink (NaN scrub + TableLog commit) → A1 JSON scan →
    // A10/A11 CSV sink (complex cols JSON-encoded) → CSV scan: the full
    // sink round-trip; output equals the scrubbed source values.
    Q(
      "q46_sink_roundtrip",
      (s, d) => {
        val ck = col("c_custkey")
        val src = Tables.customer(s, d).select(
          ck.cast("string").as("offer_id"),
          when(pmod(ck, lit(9)) === 0, lit(Double.NaN))
            .otherwise(ck * 1.5).as("price"),
          array(lit("a"), col("c_mktsegment")).as("tags"))
        val dir = graft.io.Scratch.dir("graft_q46_")
        JsonTable.write(src, s"$dir/master_json")
        val back = JsonTable.read(s, s"$dir/master_json", src.schema)
        Pipeline.writeCsv(back, s"$dir/master_csv")
        s.read.option("header", "true").option("escape", "\"")
          .csv(s"$dir/master_csv")
          .select(col("offer_id"), col("price").cast("double"),
            col("tags").as("tags_json"))
      },
      Some("""SELECT CAST(c_custkey AS VARCHAR) AS offer_id,
             |  CASE WHEN c_custkey % 9 = 0 THEN NULL ELSE c_custkey * 1.5 END AS price,
             |  '["a","' || c_mktsegment || '"]' AS tags_json
             |FROM customer""".stripMargin),
    ),

    // ---- A4 fixture source as a first-class DSv2 table: a recorded-
    // HTML directory read via `format("graft-html")` with metadata
    // filter pushdown + column pruning (unit-asserted in
    // HtmlDirectorySourceSpec; the `length > 10` filter here rides the
    // pushdown path e2e). The oracle triangulates three ways: DuckDB's
    // read_text() re-reads the same files for path/length/doc_id, the
    // documents TABLE restates lang/src (pinning fixture generation to
    // the table), and the price formula restates the page body (pinning
    // content extraction). The oracle glob hardcodes sf0.01 — the only
    // scale the driver's DuckDB pass runs at.
    Q(
      "q76_html_dir_source",
      (s, d) => {
        val dir = graft.sources.HtmlFixtures.write(s, d)
        s.read.format("graft-html").load(dir)
          .filter(col("length") > 10)
          .select(col("path"),
            regexp_extract(col("name"), "doc_(\\d+)\\.html", 1)
              .cast("long").as("doc_id"),
            col("length"),
            regexp_extract(col("html"), "MainPrice\">(\\d+) ", 1)
              .cast("int").as("price"),
            regexp_extract(col("html"), "class=\"lang\">([a-z]+)<", 1)
              .as("lang"),
            regexp_extract(col("html"), "class=\"source\">([a-z0-9]+)<", 1)
              .as("src"))
      },
      Some("""WITH r AS (
             |  SELECT filename AS path,
             |    CAST(regexp_extract(filename, 'doc_(\d+)\.html', 1) AS BIGINT)
             |      AS doc_id,
             |    CAST(size AS BIGINT) AS length
             |  FROM read_text('/root/repo/target/html_fixtures/sf0.01/*.html')
             |  WHERE size > 10
             |)
             |SELECT r.path, r.doc_id, r.length,
             |  CAST((r.doc_id * 37) % 90000 + 10000 AS INT) AS price,
             |  d.lang, d.source AS src
             |FROM r JOIN documents d ON r.doc_id = d.doc_id""".stripMargin),
    ),

    // ---- A13 perf-log sink, driver-visible: a fresh PerfTracker runs a
    // fixed 3-job workload, appends its JSON progress lines to a FIXED
    // path (the q76/q87 fixture contract), and BOTH engines re-read the
    // same file — Spark through its JSON source, DuckDB through
    // read_json_auto — and restate the log's invariants (line count,
    // processed monotone over time, successful+failed == processed,
    // positive speed). The booleans are genuinely recomputed by DuckDB
    // from the same bytes, so a tracker that drops task events or
    // writes corrupt JSON mismatches.
    Q(
      "q89_perf_log_sink",
      (s, d) => {
        val sfName = new java.io.File(d).getName
        val dir = java.nio.file.Paths
          .get("target", "perf_fixtures", sfName).toAbsolutePath
        java.nio.file.Files.createDirectories(dir)
        val path = dir.resolve("perf.jsonl")
        java.nio.file.Files.deleteIfExists(path)
        val t = graft.io.PerfTracker.install(s)
        try {
          (1 to 3).foreach { _ =>
            Tables.documents(s, d).count()
            t.awaitQuiesce()
            t.writeLog(path.toString)
          }
        } finally s.sparkContext.removeSparkListener(t)
        val log = s.read.json(path.toString)
        log.agg(
          count(lit(1)).as("n_lines"),
          (transform(
            array_sort(collect_list(
              struct(col("elapsed_sec"), col("processed")))),
            x => x.getField("processed"))
            === array_sort(collect_list(col("processed"))))
            .as("processed_monotone"),
          bool_and(col("successful") + col("failed") === col("processed"))
            .as("balanced"),
          bool_and(col("speed") > 0).as("speed_positive"))
      },
      Some("""SELECT count(*) AS n_lines,
             |  (list(processed ORDER BY elapsed_sec ASC) =
             |     list_sort(list(processed))) AS processed_monotone,
             |  bool_and(successful + failed = processed) AS balanced,
             |  bool_and(speed > 0) AS speed_positive
             |FROM read_json_auto(
             |  '/root/repo/target/perf_fixtures/sf0.01/perf.jsonl')"""
        .stripMargin),
    ),

    // ---- training-shard export: hash-sharded JSONL written by Spark,
    // re-read independently by BOTH engines. Per-shard fingerprints are
    // order-free integer sums (within-shard order is explicitly not
    // part of the contract), and DuckDB re-derives every row's shard
    // from the same md5 bucket formula out of the file PATHS — a
    // misplaced document flips shard_assignment_ok and hash-mismatches.
    // Glob hardcodes sf0.01 like q76/q87/q89.
    Q(
      "q110_training_shards",
      (s, d) => {
        val sfName = new java.io.File(d).getName
        val dir = java.nio.file.Paths
          .get("target", "shard_fixtures", sfName).toAbsolutePath.toString
        graft.io.ShardedExport.writeJsonlShards(
          Tables.documents(s, d).select(col("doc_id"), col("source"),
            col("text")),
          "doc_id", dir, shards = 8, seed = "sh42")
        val back = s.read.json(dir)
        back.groupBy(col("shard").cast("long").as("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(pmod(graft.ops.Dedup.md5Hash60(col("text")),
              lit(1099511627776L))).as("content_sum"),
            sum(col("doc_id")).as("id_sum"),
            bool_and(graft.ops.Sampling.hashBucket(col("doc_id"),
              "sh42", 8) === col("shard")).as("shard_assignment_ok"))
      },
      Some("""WITH back AS (
             |  SELECT doc_id, text,
             |    CAST(regexp_extract(filename, 'shard=(\d+)', 1) AS BIGINT)
             |      AS shard
             |  FROM read_json_auto(
             |    '/root/repo/target/shard_fixtures/sf0.01/shard=*/*.json',
             |    filename = true)
             |)
             |SELECT shard, count(*) AS n_docs,
             |  CAST(sum(CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)
             |    % 1099511627776) AS BIGINT) AS content_sum,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
             |  bool_and(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
             |    || 'sh42'), 1, 15) AS BIGINT) % 8 = shard)
             |    AS shard_assignment_ok
             |FROM back GROUP BY 1""".stripMargin),
    ),
  )
}
