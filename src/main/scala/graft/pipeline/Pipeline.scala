package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.{Flatten, Normalize}
import graft.functions.RuntimeParam
import graft.merge.MergeListings
import graft.ops.Materialize
import graft.parse.ListingParser

/** E1 DAG (SURVEY §3): the reference's run() re-expressed as DataFrame
  * stages. Network fetch is out of scope in this environment — pages
  * arrive as a (url, html) frame from any source (fixture dirs here;
  * the same shape a mapPartitions HTTP client would produce).
  *
  * An hour's eager work is one job: `processBatch` materializes the
  * normalized batch (parse→flatten→normalize, once per page) with each
  * row's arrival order. Everything after it, the unpublish markers, the
  * MERGE and its url fallback, is one lazy plan that runs when the
  * caller publishes; only the merge shuffles (on offer_id), and the
  * master is hash-shuffled with it (ROADMAP item 1).
  */
case class RawPage(url: String, html: String)

object Pipeline {

  /** U2→U1: split search pages into cards, parse each; listing pages
    * parse 1:1 (the parser handles both shapes). */
  def parsePages(spark: SparkSession, pages: Dataset[RawPage],
      timestamp: String): DataFrame = {
    import spark.implicits._
    pages.flatMap(p => ListingParser.parseCards(p.html, p.url, timestamp)).toDF()
  }

  /** A4's fetch stage over the real HTTP seam: a URL frame becomes the
    * `Dataset[RawPage]` the parse stage consumes, through the same
    * worker-pool machinery the enrichment source uses (per-partition
    * client, retry budget, 429 breaker, serial etiquette at
    * maxConcurrent=1). Only 200 responses become pages; callers that
    * need the failure detail (requeue 5xx/599, count 404s) should run
    * [[graft.enrich.Enrichment.processRequests]] directly — the
    * responses carry the status this convenience view drops.
    *
    * What this does NOT do is run a JS engine: pages requiring browser
    * rendering (the reference's Playwright context rotation,
    * async_scraper.py:53-184) still need a rendering fetcher behind the
    * same (url, html) contract — the one genuinely env-bound piece.
    */
  def fetchPages(urls: DataFrame,
      clientFactory: () => graft.enrich.HttpClient,
      maxConcurrent: Int = 1,
      headers: Map[String, String] = Map.empty): Dataset[RawPage] = {
    import urls.sparkSession.implicits._
    val reqs = urls.select(col("url")).as[String]
      .map(u => graft.enrich.HttpRequest(u, u, "GET", Map.empty, headers))
    graft.enrich.Enrichment
      .processRequests(reqs, clientFactory, maxConcurrent = maxConcurrent)
      .filter(_.status == 200)
      .map(r => RawPage(r.requestId, r.body))
  }

  /** P5: drop error rows / rows without a key — EXCEPT keyless rows that
    * carry an offer_url (the J2 url-fallback input keeps those). */
  def filterParsed(parsed: DataFrame): DataFrame =
    parsed.filter(col("error").isNull &&
      (col("offer_id").isNotNull || col("offer_url").isNotNull))

  /** J3: ids active in the master but absent from the current search →
    * synthetic unpublish markers (parse_data.py:344-348). The master
    * holds one row per offer_id, so its active keys need no `distinct`;
    * duplicate batch keys on the broadcast side of the anti join change
    * nothing. */
  def missingAsUnpublished(master: DataFrame, current: DataFrame): DataFrame =
    master.filter(!coalesce(col("is_unpublished"), lit(false)))
      .select(col("offer_id"))
      .join(broadcast(current.select(col("offer_id"))), Seq("offer_id"), "left_anti")
      .select(col("offer_id"), lit(true).as("is_unpublished"))

  /** Empty master table with the canonical normalized-listing schema
    * (derived from the parse→flatten→normalize chain itself — single
    * source of truth, A1's missing-file → empty-table behavior). */
  def emptyMaster(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val probe = Normalize(Flatten(parsePages(spark,
      spark.createDataset(Seq(RawPage("bootstrap", "<html/>"))), "")),
      current_timestamp())
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      probe.schema)
  }

  /** parse → filter → flatten → normalize: the batch side of
    * [[processBatch]], before it is materialized. */
  def normalizedBatch(spark: SparkSession, pages: Dataset[RawPage],
      asOf: Column, timestamp: String): DataFrame =
    Normalize(Flatten(filterParsed(parsePages(spark, pages, timestamp))), asOf)

  /** One micro-batch: parse → filter → flatten → normalize → (optionally
    * synthesize unpublish markers) → MERGE into the master.
    *
    * Eager: the normalized batch is materialized at call time, in one
    * job that parses each page once and stamps each row's arrival order
    * (`__arrival`). The merge reads the batch four times (its url
    * fallback's three reads and `missingAsUnpublished`), and every read
    * of an unmaterialized batch would run the HTML parser again. Given
    * the arrival order, the merge needs no second materialization: the
    * rest of the hour is one lazy plan. Unpublish markers arrive after
    * every scraped row; their keys never occur in the batch, so their
    * order against it does not matter. */
  def processBatch(spark: SparkSession, master: DataFrame,
      pages: Dataset[RawPage], asOf: Column, timestamp: String,
      updateUnpublishedBySearch: Boolean = true): DataFrame = {
    val normalized = Materialize(normalizedBatch(spark, pages, asOf, timestamp)
      .withColumn("__arrival", monotonically_increasing_id()))
    val batch =
      if (updateUnpublishedBySearch)
        normalized.unionByName(
          missingAsUnpublished(master, normalized)
            .withColumn("__arrival", lit(Long.MaxValue)),
          allowMissingColumns = true)
      else normalized
    MergeListings.mergeBatch(master, batch, Some("__arrival"))
  }

  /** P3: active rows missing a price estimation → re-scrape work list
    * (parse_data.py:138-143). */
  def missingEstimationIds(master: DataFrame): DataFrame =
    master.filter(
      (col("estimated_price").isNull ||
        col("estimated_price").cast("string") === "") &&
      !coalesce(col("is_unpublished"), lit(false)))
      .select(col("offer_id")).distinct()

  /** P4 + B5: rows without a distance but with an address → the
    * enrichment work list (parse_data.py:441-449). */
  def distanceWorkList(master: DataFrame): DataFrame =
    master.filter(col("distance").isNull &&
      length(coalesce(col("address"), lit(""))) > 0)
      .select(col("offer_id"), col("address"))

  /** G7: per-flag union of scrape id sets (parse_data.py:376-401). */
  def scrapeWorkList(currentIds: DataFrame, activeIds: DataFrame,
      missingIds: DataFrame, updateAll: Boolean, scrapeNew: Boolean,
      checkUnpublished: Boolean): DataFrame = {
    val newIds = currentIds.join(activeIds, Seq("offer_id"), "left_anti")
    val parts = Seq(
      if (updateAll) Some(currentIds) else None,
      if (!updateAll && scrapeNew) Some(newIds) else None,
      if (checkUnpublished)
        Some(activeIds.join(currentIds, Seq("offer_id"), "left_anti"))
      else None,
    ).flatten
    parts.reduceOption(_ unionByName _)
      .map(_.distinct())
      .getOrElse(currentIds.limit(0))
  }

  /** P2 dashboard view: last_active within 7 days of asOf OR active;
    * unparseable last_active coerces null and drops from the left
    * disjunct (pandas errors="coerce", parse_data.py:479-483). The
    * cutoff is a [[RuntimeParam]], so every hour reuses the same
    * generated code. */
  def dashboardView(master: DataFrame, asOf: Column): DataFrame =
    master.filter(
      try_to_timestamp(col("last_active"), lit("yyyy-MM-dd HH:mm:ss"))
        >= RuntimeParam(asOf - expr("INTERVAL 7 DAYS"))
        || col("status") === "active")

  /** A9/A10 CSV sink with NaN scrub (parse_data.py:187-204): NaN → null
    * on floating columns; array/map/struct columns JSON-encoded (the
    * reference's pandas to_csv stringifies them); header CSV. */
  def writeCsv(df: DataFrame, path: String): Unit = {
    import org.apache.spark.sql.types._
    val scrubbed = df.select(df.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType =>
          when(isnan(col(f.name)), lit(null)).otherwise(col(f.name)).as(f.name)
        case _: ArrayType | _: MapType | _: StructType =>
          to_json(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }.toSeq: _*)
    scrubbed.write.mode("overwrite").option("header", "true")
      // RFC-4180 quote doubling: Spark's default backslash escaping makes
      // rows with embedded quotes unreadable to pandas/csv readers
      .option("escape", "\"")
      .csv(path)
  }
}
