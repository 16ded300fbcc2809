package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

/** Unit tests for SURVEY §2 F1–F21. Expected values are hand-derived
  * from the reference semantics (file:line cited per function in
  * Functions.scala); the Russian-date cases pin asOf = 2026-08-12 10:00.
  */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def eval1(input: String, f: Column => Column): Any = {
    val r = Seq(Option(input)).toDF("c").select(f(col("c")).as("r")).collect()
    r.head.get(0)
  }

  // ---- F1 parse_numeric_value
  test("F1 parseNumeric") {
    assert(eval1("55 000 ₽/мес.", Functions.parseNumeric) == 55000.0)
    assert(eval1("55 000", Functions.parseNumeric) == 55000.0)      // nbsp thousands
    assert(eval1("6,6", Functions.parseNumeric) == 6.6)
    assert(eval1("-12.5 м", Functions.parseNumeric) == -12.5)
    assert(eval1("нет", Functions.parseNumeric) == null)
    // differential-checked against reference normalize.py (frozen clock)
    assert(eval1("1,2,3", Functions.parseNumeric) == 1.2)
    assert(eval1("3 .5", Functions.parseNumeric) == 3.5)
    assert(eval1(".5", Functions.parseNumeric) == 5.0)
    assert(eval1("", Functions.parseNumeric) == null)
    assert(eval1(null, Functions.parseNumeric) == null)
  }

  // ---- F2 parse_russian_date (asOf pinned)
  private val asOf = lit("2026-08-12 10:00:00").cast("timestamp")
  private def ruDate(s: String): Any = eval1(s, c => Functions.parseRussianDate(c, asOf))

  test("F2 parseRussianDate") {
    assert(ruDate("сегодня 14:30") == "2026-08-12 14:30:00")
    assert(ruDate("вчера 09:05") == "2026-08-11 09:05:00")
    assert(ruDate("5 авг 12:00") == "2026-08-05 12:00:00")
    // future date this year → last year (normalize.py:83-85)
    assert(ruDate("20 дек 12:00") == "2025-12-20 12:00:00")
    // boundary: later today but после asOf → сегодня branch keeps today
    assert(ruDate("сегодня 23:59") == "2026-08-12 23:59:00")
    // no HH:MM → passthrough unchanged
    assert(ruDate("2026-01-01") == "2026-01-01")
    assert(ruDate("какой-то текст") == "какой-то текст")
    // unknown month word → passthrough
    assert(ruDate("5 августа 12:00") == "5 августа 12:00")
    // invalid calendar date → NaT → null
    assert(ruDate("31 фев 10:00") == null)
    assert(ruDate("") == null)
    assert(ruDate(null) == null)
    // genitive май alias
    assert(ruDate("1 мая 00:01") == "2026-05-01 00:01:00")
    // differential-checked edges (reference run with frozen clock):
    assert(ruDate("12:30") == "12:30")                        // time but no date word
    assert(ruDate("сегодня вчера 10:00") == "2026-08-12 10:00:00") // сегодня wins
    assert(ruDate("5 авг12:00") == "2026-08-05 12:00:00")     // \s+ between day+month only
    assert(ruDate("99:99 сегодня") == null)                   // invalid hour → NaT
  }

  test("F2 typed variant") {
    val r = eval1("сегодня 14:30", c => Functions.parseRussianDateTs(c, asOf))
    assert(r.toString == "2026-08-12 14:30:00.0")
    assert(eval1("просто текст", c => Functions.parseRussianDateTs(c, asOf)) == null)
  }

  // ---- F3 street names (Cyrillic word boundaries)
  test("F3 normalizeStreetNames") {
    assert(eval1("Тверская улица", Functions.normalizeStreetNames) == "Тверская ул.")
    assert(eval1("Ленинградское шоссе, 5", Functions.normalizeStreetNames)
      == "Ленинградское ш., 5")
    assert(eval1("переулок Сивцев Вражек", Functions.normalizeStreetNames)
      == "пер. Сивцев Вражек")
    // substring must NOT be replaced (word boundary)
    assert(eval1("Заулица", Functions.normalizeStreetNames) == "Заулица")
  }

  // ---- F4 build_address
  test("F4 buildAddress") {
    val df = Seq(("Москва", "Тверская ул.", "12"), ("Москва", null, "12"))
      .toDF("city", "street", "building")
    val r = df.select(Functions.buildAddress($"city", $"street", $"building"))
      .as[String].collect()
    assert(r.toSeq == Seq("Москва, Тверская ул., 12", ""))
  }

  // ---- F5 floor info
  test("F5 parseFloor") {
    val r = Seq("3 из 9").toDF("c")
      .select(Functions.parseFloor($"c").as("f"))
      .select("f.floor", "f.total_floors").as[(Long, Long)].collect().head
    assert(r == ((3L, 9L)))
    val none = Seq("этаж").toDF("c").select(Functions.parseFloor($"c").as("f"))
      .select("f.floor").collect().head
    assert(none.isNullAt(0))
  }

  // ---- F6 offer title
  test("F6 parseOfferTitle") {
    // "2-комн. квартира, 45,6 м², 3/9 этаж" → nums [2, 45.6, 3, 9]
    val r = Seq("2-комн. квартира, 45,6 м², 3/9 этаж").toDF("c")
      .select(Functions.parseOfferTitle($"c").as("t")).select("t.*")
      .as[(String, String, String, String)].collect().head
    assert(r == (("2", "45.6", "3", "9")))
    // exactly 3 numbers → room_count literal "0"
    val r3 = Seq("Квартира, 45,6 м², 3/9").toDF("c")
      .select(Functions.parseOfferTitle($"c").as("t")).select("t.*")
      .as[(String, String, String, String)].collect().head
    assert(r3 == (("0", "45.6", "3", "9")))
  }

  // ---- F7 offer stats
  test("F7 parseOfferStats") {
    val r = Seq("1234 просмотра, 56 за сегодня, 789 уникальных").toDF("c")
      .select(Functions.parseOfferStats($"c").as("t")).select("t.*")
      .as[(String, String, String)].collect().head
    assert(r == (("1234", "56", "789")))
  }

  // ---- F8 price info split (null-pad divergence)
  test("F8 splitPriceInfo") {
    val r = Seq("на год, комм. платежи включены, комиссия 50%, залог 55000")
      .toDF("c").select(Functions.splitPriceInfo($"c").as("t")).select("t.*")
      .as[(String, String, String, String)].collect().head
    assert(r._1 == "на год")
    assert(r._4 == " залог 55000") // positional, untrimmed like the reference
    val short = Seq("на год").toDF("c")
      .select(Functions.splitPriceInfo($"c").as("t"))
      .select("t.security_deposit").collect().head
    assert(short.isNullAt(0))
  }

  // ---- F9/F10
  test("F9 offerIdFromUrl / F10 summaryCount") {
    assert(eval1("https://x.ru/rent/flat/12345/", Functions.offerIdFromUrl) == "12345")
    assert(eval1("https://x.ru/sale/house/9/", Functions.offerIdFromUrl) == null)
    assert(eval1("Найдено 1 062 объявления", Functions.summaryCount) == 1062L)
    assert(eval1("ничего", Functions.summaryCount) == null)
  }

  // ---- F11 image urls
  test("F11 upgradeImageUrls") {
    val r = Seq(Seq("https://cdn-cian.ru/a-4.jpg", "https://cdn-cian.ru/b-2.jpg"))
      .toDF("c").select(Functions.upgradeImageUrls($"c")).as[Seq[String]]
      .collect().head
    assert(r == Seq("https://cdn-cian.ru/a-1.jpg", "https://cdn-cian.ru/b-2.jpg"))
  }

  // ---- F12/F13/F16/F17/F21
  test("small scalar helpers") {
    assert(eval1("Обновлено: сегодня 10:00", Functions.stripUpdatedLabel)
      == "сегодня 10:00")
    assert(eval1("м. Арбатская", Functions.stripMetroPrefix) == "Арбатская")
    assert(Seq(1234.0).toDF("c").select(Functions.distanceKm($"c"))
      .as[Double].collect().head == 1.23)
    assert(Seq(953L).toDF("c").select(Functions.totalPages($"c"))
      .as[Long].collect().head == 35L)
    assert(eval1("12 мин. пешком", Functions.walkingTime) == "12 мин.")
  }

  // ---- F19 title smart split
  test("F19 titleSmartSplit") {
    val r = Seq("2-комн. кв., 45,6 м², 3/9 этаж").toDF("c")
      .select(Functions.titleSmartSplit($"c").as("t")).select("t.*")
      .as[(String, String)].collect().head
    assert(r == (("45,6 м²", "3 из 9")))
  }

  // ---- F20 price-info keyword normalization
  test("F20 fee normalization") {
    assert(eval1("на год", Functions.normalizeRentalPeriod) == "год")
    assert(eval1("Комм. платежи включены", Functions.normalizeUtilities) == "включена")
    assert(eval1("Без комиссии", Functions.normalizeCommission) == "нет")
    assert(eval1("комиссия 50%", Functions.normalizeCommission) == "50%")
    assert(eval1("залог 55 000 ₽", Functions.normalizeDeposit) == "55 000 ₽")
    assert(eval1("без залога", Functions.normalizeDeposit) == "нет")
  }

  // ---- F14 geo classifier
  test("F14 geoFromItems") {
    val items = Seq((
      Seq(
        ("Москва", ""),
        ("ЦАО", "https://x.ru/?district%5B0%5D=1"),
        ("Арбат", "https://x.ru/moskva-042"),
        ("Тверская ул.", "https://x.ru/ulitsa-tverskaya-0212345/"),
        ("12", "https://x.ru/?house%5B0%5D=777"),
        ("м. Арбатская", "https://x.ru/?metro%5B0%5D=42"),
      ),
    )).toDF("raw")
      .select(transform($"raw",
        x => struct(x("_1").as("text"), x("_2").as("href"))).as("items"))
    val r = items.select(Functions.geoFromItems($"items").as("g")).select("g.*")
    val row = r.collect().head
    val m = r.columns.zip(row.toSeq).toMap
    assert(m("city") == "Москва")
    assert(m("district") == "ЦАО")
    assert(m("neighborhood") == "Арбат")
    assert(m("street") == "Тверская ул.")
    assert(m("street_id") == "12345")
    assert(m("building") == "12")
    assert(m("building_id") == "777")
    assert(m("metro_station") == "Арбатская")
    assert(m("metro_id") == "42")
  }

  test("RuntimeParam: same values as the bare expression, constant or not") {
    // a range, not a local Seq: the projection must run through codegen
    val df = spark.range(3).select(when($"id" === 0, lit("2026-08-12 10:00:00"))
      .when($"id" === 1, lit("2026-08-01 00:00:00")).cast("timestamp").as("t"))
    def probe(e: Column): Seq[Column] =
      Seq(e, year(e), e === $"t", e - expr("INTERVAL 7 DAYS"))
    for (e <- Seq(asOf, lit(null).cast("timestamp"), $"t"))
      assert(df.select(probe(RuntimeParam(e)): _*).collect().toSeq ==
        df.select(probe(e): _*).collect().toSeq)
  }
}
