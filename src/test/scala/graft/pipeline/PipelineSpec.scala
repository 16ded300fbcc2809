package graft.pipeline

import graft.SparkSpec
import graft.io.{AtomicParquet, TableLog}
import graft.parse.ListingParser
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.io.Source

/** Golden parser tests (U1/U2 over committed fixtures) + the minimum
  * end-to-end slice of SURVEY §7.3: parse → flatten → normalize →
  * merge → dashboard view, across two batches with a price change and
  * an unpublish.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(name: String): String = {
    val src = Source.fromResource(s"fixtures/$name")(scala.io.Codec.UTF8)
    try src.mkString finally src.close()
  }

  private val ts = "2026-08-12T10:00:00"
  private val asOf = lit("2026-08-12 10:00:00").cast("timestamp")

  test("U2: search page splits into 3 cards with ids, prices, dates") {
    val cards = ListingParser.parseCards(
      fixture("search_page.html"), "https://www.cian.ru/cat.php?p=1", ts)
    assert(cards.length == 3)
    assert(cards.map(_.offer_id) == Seq(Some("1001"), Some("1002"), Some("1003")))
    assert(cards.head.price_value.contains("55 000 ₽/мес."))
    assert(cards.head.updated_date.contains("сегодня 14:30"))
    assert(cards.head.image_urls ==
      Seq("https://images.cdn-cian.ru/a-1.jpg", "https://images.cdn-cian.ru/b-2.jpg"))
    assert(cards.head.rental_period.contains("на год"))
    assert(cards(1).title.contains("1-комн. кв., 32 м², 5/12 этаж"))
    assert(cards(2).updated_date.contains("5 авг 12:00"))
    // page-level summary lands on the page parse, not inside cards
    val page = ListingParser.parse(fixture("search_page.html"), "u", ts)
    assert(page.summary.contains(1062L))
  }

  test("U1: listing page full parse") {
    val p = ListingParser.parse(fixture("listing_page.html"),
      "https://www.cian.ru/rent/flat/1001/", ts)
    assert(p.offer_id.contains("1001"))
    assert(p.price_value.contains("54 000 ₽/мес."))
    assert(p.estimated_price.contains("57 000 ₽"))
    assert(p.updated_date.contains("сегодня 16:45"))
    assert(p.attrs("Срок аренды") == "длительный")
    assert(p.attrs("Общая площадь") == "45,6 м²")
    assert(p.attrs("Ремонт") == "Евроремонт")
    assert(p.features == Seq("Холодильник", "Стиральная машина", "Интернет"))
    assert(p.metro_station.contains("Арбатская"))
    assert(p.offer_stats.exists(_.contains("1234")))
    assert(!p.is_unpublished)
    assert(p.image_urls == Seq("https://images.cdn-cian.ru/full-1.jpg"))
    val unpub = ListingParser.parse(fixture("listing_unpublished.html"),
      "https://www.cian.ru/rent/flat/1001/", ts)
    assert(unpub.is_unpublished)
    val err = ListingParser.parse(fixture("error_404.html"),
      "https://x.ru/rent/flat/9/", ts)
    assert(err.error.contains("404 - Page not found"))
    val rate = ListingParser.parse(fixture("error_429.html"),
      "https://x.ru/rent/flat/9/", ts)
    assert(rate.error.contains("429 - Too many requests"))
  }

  test("end-to-end: two batches through parse→flatten→normalize→merge→view") {
    val empty = Pipeline.emptyMaster(spark)

    // batch 1: the search page inserts 3 listings
    val m1 = Pipeline.processBatch(spark, empty,
      spark.createDataset(Seq(
        RawPage("https://www.cian.ru/cat.php?p=1", fixture("search_page.html")))),
      asOf, ts).localCheckpoint()
    assert(m1.count() == 3)
    val r1 = m1.filter($"offer_id" === "1001").collect().head
    assert(r1.getAs[Double]("price_value") == 55000.0)
    assert(r1.getAs[String]("publication_date") == "2026-08-12 14:30:00")
    assert(r1.getAs[String]("status") == "active")
    assert(r1.getAs[Double]("total_area") == 45.6) // title-derived, ','→'.', F1

    // batch 2: detailed page for 1001 (price drop) — 1002/1003 absent from
    // this batch but it's a listing batch (no unpublish-by-search)
    val m2 = Pipeline.processBatch(spark, m1,
      spark.createDataset(Seq(
        RawPage("https://www.cian.ru/rent/flat/1001/", fixture("listing_page.html")))),
      asOf, ts, updateUnpublishedBySearch = false).localCheckpoint()
    assert(m2.count() == 3)
    val r2 = m2.filter($"offer_id" === "1001").collect().head
    assert(r2.getAs[Double]("price_value") == 54000.0)
    assert(r2.getAs[Long]("total_price_changes") == 1L)
    assert(r2.getAs[String]("price_changes") == "-1000")
    assert(r2.getAs[Double]("total_area") == 45.6)  // label bag wins, parsed
    assert(r2.getAs[Double]("estimated_price") == 57000.0)
    assert(r2.getAs[Boolean]("has_refrigerator"))
    assert(r2.getAs[String]("renovation") == "Евроремонт")
    assert(r2.getAs[String]("metro_station") == "Арбатская")
    assert(r2.getAs[String]("street") == "Тверская ул.")  // normalized
    assert(r2.getAs[String]("address") == "Москва, Тверская ул., 12")
    assert(r2.getAs[Double]("total_views") == 1234.0)

    // batch 3: 1001 unpublished; description must NOT be overwritten (R7)
    val m3 = Pipeline.processBatch(spark, m2,
      spark.createDataset(Seq(
        RawPage("https://www.cian.ru/rent/flat/1001/",
          fixture("listing_unpublished.html")))),
      asOf, ts, updateUnpublishedBySearch = false).localCheckpoint()
    val r3 = m3.filter($"offer_id" === "1001").collect().head
    assert(r3.getAs[Boolean]("is_unpublished"))
    assert(r3.getAs[String]("unpublished_date") == "2026-08-12 08:00:00")
    assert(r3.getAs[String]("description")
      == "Светлая квартира у метро. Полностью меблирована.")
    assert(r3.getAs[String]("status") == "non active")

    // search batch without 1002/1003 → J3 synthesizes unpublish markers
    val m4 = Pipeline.processBatch(spark, m3,
      spark.createDataset(Seq(
        RawPage("https://www.cian.ru/rent/flat/1002/", fixture("listing_page.html")))),
      asOf, ts, updateUnpublishedBySearch = true).localCheckpoint()
    // 1001 was already non-active; 1003 was active and missing → unpublished
    val r1003 = m4.filter($"offer_id" === "1003").collect().head
    assert(r1003.getAs[Boolean]("is_unpublished"))

    // P2 dashboard view keeps active rows
    val view = Pipeline.dashboardView(m2, asOf)
    assert(view.count() == 3)
    val viewAfter = Pipeline.dashboardView(
      m3.withColumn("last_active", lit("2026-07-01 00:00:00")), asOf)
    assert(viewAfter.count() == 2)  // 1001 non-active + stale → dropped
  }

  // ---- the hourly loop: one search hour against a published master ----

  /** A keyless card: its draft link yields an `offer_url` but no id. */
  private val keylessCard =
    """<article data-name="CardComponent">
      |<div data-name="LinkArea"><a href="https://www.cian.ru/rent/flat/draft-7/">card</a></div>
      |<span data-mark="MainPrice"><span>20 000 ₽/мес.</span></span>
      |<div data-testid="metadata-updated-date"><span>Обновлено: сегодня 11:00</span></div>
      |</article>""".stripMargin

  /** The hour's search page: card 1001 and the keyless card; 1002 and
    * 1003 have left the search. */
  private def hourPage: RawPage = {
    val page = fixture("search_page.html")
    val firstCard = page.indexOf("</article>") + "</article>".length
    RawPage("https://www.cian.ru/cat.php?p=1",
      page.take(firstCard) + keylessCard + "</div></body></html>")
  }

  /** The search fixture's 3 listings, published; 1002 is non-active and
    * 1003's offer_url is the keyless card's link, so the url fallback
    * adopts 1003 for it. */
  private lazy val masterDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-hour").toString + "/master"
    val m = Pipeline.processBatch(spark, Pipeline.emptyMaster(spark),
      spark.createDataset(Seq(
        RawPage("https://www.cian.ru/cat.php?p=1", fixture("search_page.html")))),
      asOf, ts)
    graft.io.AtomicParquet.publish(m
      .withColumn("status", when($"offer_id" === "1002", lit("non active"))
        .otherwise($"status"))
      .withColumn("offer_url", when($"offer_id" === "1003",
        lit("https://www.cian.ru/rent/flat/draft-7")).otherwise($"offer_url")),
      dir)
    dir
  }

  private def master = spark.read.parquet(masterDir)

  /** Whole-stage generated Java source of every codegen stage of an
    * executed plan — the text the codegen cache is keyed on. */
  private def codegenBodies(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[String] = p.flatMap {
      case w: WholeStageCodegenExec => Seq(w.doCodeGen()._2.body)
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _ => Nil
    }
    walk(df.queryExecution.executedPlan)
  }

  test("an hour's generated code does not depend on asOf") {
    // processBatch → publish → dashboardView, as the hourly job runs it
    def hour(at: String) = {
      val hourAsOf = lit(at).cast("timestamp")
      val pages = spark.createDataset(Seq(hourPage))
      val normalized = Pipeline.normalizedBatch(spark, pages, hourAsOf, at)
      normalized.collect()
      val merged = Pipeline.processBatch(spark, master, pages, hourAsOf, at)
      val rows = merged.collect().map(r => r.getAs[String]("offer_id") -> r).toMap
      val dir = java.nio.file.Files.createTempDirectory("graft-pub").toString + "/m"
      graft.io.AtomicParquet.publish(merged, dir)
      val view = Pipeline.dashboardView(spark.read.parquet(dir), hourAsOf)
      val viewIds = view.select("offer_id").as[String].collect().toSet
      (Seq(normalized, merged, view).map(codegenBodies), rows, viewIds)
    }
    val (codeA, rowsA, viewA) = hour("2026-08-12 10:00:00")
    val (codeB, rowsB, viewB) = hour("2026-08-19 10:00:00")
    codeA.foreach(stages => assert(stages.nonEmpty))
    assert(codeA.map(_.size) == codeB.map(_.size))
    for ((a, b) <- codeA.flatten.zip(codeB.flatten) if a != b)
      fail("generated code depends on asOf: " +
        a.linesIterator.zip(b.linesIterator).find { case (x, y) => x != y })
    // ...while asOf still reaches the rows: relative dates, the url
    // fallback's unpublish date, and the dashboard's 7-day cutoff
    assert(rowsA("1001").getAs[String]("last_active") == "2026-08-12 14:30:00")
    assert(rowsB("1001").getAs[String]("last_active") == "2026-08-19 14:30:00")
    assert(rowsA("1003").getAs[String]("unpublished_date") == "2026-08-12 11:00:00")
    assert(rowsB("1003").getAs[String]("unpublished_date") == "2026-08-19 11:00:00")
    // 1002 is non-active, last active 2026-08-11 09:15
    assert(viewA == Set("1001", "1002", "1003"))
    assert(viewB == Set("1001", "1003"))
  }

  test("processBatch parses each page once through the url fallback") {
    val parsed = spark.sparkContext.longAccumulator("pages parsed")
    val pages = spark.createDataset(Seq(hourPage)).map { p => parsed.add(1); p }
    val merged = Pipeline.processBatch(spark, master, pages, asOf, ts)
    val rows = merged.collect().map(r => r.getAs[String]("offer_id") -> r).toMap
    val again = merged.count()
    assert(parsed.value == 1L)
    assert(again == 3)
    // the keyless card adopted 1003 by url (no insert) and unpublished it
    assert(rows.keySet == Set("1001", "1002", "1003"))
    val r1003 = rows("1003")
    assert(r1003.getAs[Boolean]("is_unpublished"))
    assert(r1003.getAs[String]("unpublished_date") == "2026-08-12 11:00:00")
    assert(r1003.getAs[Any]("total_price_changes") == null) // no price change counted
    // 1001 seen again at an unchanged price; 1002 left the search
    val r1001 = rows("1001")
    assert(r1001.getAs[Double]("price_value") == 55000.0)
    assert(r1001.getAs[String]("publication_date") == "2026-08-12 14:30:00")
    assert(r1001.getAs[Any]("total_price_changes") == null)
    assert(!r1001.getAs[Boolean]("is_unpublished"))
    assert(rows("1002").getAs[Boolean]("is_unpublished"))
    assert(rows("1002").getAs[String]("last_active") == "2026-08-11 09:15:00")
  }

  test("the eager part of processBatch runs exactly one Spark job") {
    val m = master
    m.schema
    val pages = spark.createDataset(Seq(hourPage))
    val (merged, jobs) =
      jobsDuring(Pipeline.processBatch(spark, m, pages, asOf, ts))
    // the materialized normalized batch; the merge itself stays lazy
    assert(jobs == 1)
    assert(merged.count() == 3)
  }

  test("the master keeps one row per offer_id across processBatch hours") {
    // missingAsUnpublished relies on this instead of a distinct
    val search = RawPage("https://www.cian.ru/cat.php?p=1", fixture("search_page.html"))
    val listing = RawPage("https://www.cian.ru/rent/flat/1001/", fixture("listing_page.html"))
    val hours = Seq(
      Seq(search),
      Seq(search, hourPage),   // 1001 twice in one batch, 1002/1003 once
      Seq(listing, hourPage))  // 1002 leaves the search, 1001 twice
    var m = Pipeline.emptyMaster(spark)
    for ((pages, h) <- hours.zipWithIndex) {
      m = Pipeline.processBatch(spark, m, spark.createDataset(pages), asOf, ts)
        .localCheckpoint()
      val keys = m.select("offer_id").as[String].collect()
      assert(keys.length == keys.distinct.length, s"hour $h")
      assert(keys.toSet == Set("1001", "1002", "1003"), s"hour $h")
    }
  }

  // ---- Pipeline.hour: the hourly run over a committed master ----

  private val searchPage = RawPage("https://www.cian.ru/cat.php?p=1", fixture("search_page.html"))
  private val listingPage =
    RawPage("https://www.cian.ru/rent/flat/1001/", fixture("listing_page.html"))

  private def runHour(pages: RawPage, at: String, dir: String): Pipeline.Hour =
    Pipeline.hour(spark, spark.createDataset(Seq(pages)), at, s"$dir/master", s"$dir/views")

  /** Two hours into a fresh directory: the search page inserts 1001-1003
    * at 10:00; at 11:00 1001's listing page drops its price and 1002 and
    * 1003 have left the search. */
  private def twoHours(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-hours").toString
    assert(runHour(searchPage, "2026-08-12 10:00:00", dir).applied)
    assert(runHour(listingPage, "2026-08-12 11:00:00", dir).applied)
    dir
  }

  private def committed(dir: String): DataFrame =
    AtomicParquet.read(spark, s"$dir/master", Pipeline.emptyMaster(spark))

  /** `df` as its CSV view holds it: NaN as null, complex columns as JSON,
    * and strings trimmed. Spark's CSV writer drops a value's leading and
    * trailing spaces (`ignoreLeadingWhiteSpace`/`ignoreTrailingWhiteSpace`
    * default to true on write), so " комм. платежи включены" loses its
    * space, where the reference's pandas `to_csv` keeps it. */
  private def csvImage(df: DataFrame): DataFrame = df.select(df.schema.fields.map { f =>
    f.dataType match {
      case DoubleType | FloatType => when(!isnan(col(f.name)), col(f.name)).as(f.name)
      case _: ArrayType | _: MapType | _: StructType => to_json(col(f.name)).as(f.name)
      case StringType => trim(col(f.name)).as(f.name)
      case _ => col(f.name)
    }
  }.toSeq: _*)

  /** A CSV view read back with RFC-4180 quoting; with `like`, its header
    * must name `like`'s columns in order and the values take their types. */
  private def readCsv(path: String, like: Option[DataFrame] = None): Set[Row] = {
    val reader = spark.read.option("header", "true").option("escape", "\"")
      .option("multiLine", "true").option("enforceSchema", "false")
    like.fold(reader)(l => reader.schema(l.schema)).csv(path).collect().toSet
  }

  test("Pipeline.hour: two hours commit the master and write both CSV views from it") {
    val dir = twoHours()
    val master = committed(dir)
    val rows = master.collect().map(r => r.getAs[String]("offer_id") -> r).toMap
    assert(rows.keySet == Set("1001", "1002", "1003"))
    assert(rows("1001").getAs[Double]("price_value") == 54000.0)
    assert(rows("1001").getAs[Long]("total_price_changes") == 1L)
    assert(!rows("1001").getAs[Boolean]("is_unpublished"))
    assert(rows("1002").getAs[Boolean]("is_unpublished"))
    assert(rows("1003").getAs[Boolean]("is_unpublished"))
    assert(TableLog.latest(spark, s"$dir/master").get.txns ==
      Map("hour" -> java.time.Instant.parse("2026-08-12T11:00:00Z").getEpochSecond))

    val full = csvImage(master)
    val view = csvImage(Pipeline.dashboardView(master,
      lit("2026-08-12 11:00:00").cast("timestamp")))
    assert(readCsv(s"$dir/views/combined_data", Some(full)) == full.collect().toSet)
    assert(readCsv(s"$dir/views/combined_data_filtered", Some(view)) == view.collect().toSet)
    // the image_urls JSON reaches the file with its quotes doubled
    val csv = new java.io.File(s"$dir/views/combined_data").listFiles()
      .filter(_.getName.endsWith(".csv")).map(f => java.nio.file.Files.readString(f.toPath))
    assert(csv.exists(_.contains("\"\"https://images.cdn-cian.ru/")))
  }

  test("Pipeline.hour: a replayed hour commits nothing and rewrites the same views") {
    val dir = twoHours()
    def state = (TableLog.latest(spark, s"$dir/master").get.version,
      committed(dir).select("offer_id", "total_price_changes").collect().toSet,
      readCsv(s"$dir/views/combined_data"), readCsv(s"$dir/views/combined_data_filtered"))
    val before = state
    assert(!runHour(listingPage, "2026-08-12 11:00:00", dir).applied)
    assert(state == before)
    // an earlier hour whose page would put 1001's price back and re-list
    // 1002 and 1003 if it applied
    assert(!runHour(searchPage, "2026-08-12 10:30:00", dir).applied)
    assert(state == before)
  }

  test("status column derives from is_unpublished (B4)") {
    val p = Pipeline.parsePages(spark,
      spark.createDataset(Seq(RawPage("https://www.cian.ru/rent/flat/5/",
        fixture("listing_unpublished.html")))), ts)
    val n = graft.etl.Normalize(graft.etl.Flatten(p), asOf)
    assert(n.select("status").as[String].collect().head == "non active")
  }
}
