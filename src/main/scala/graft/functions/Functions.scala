package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar function library — Spark-first restatements of the reference's
  * string/date/math helpers (SURVEY.md §2 F1–F21). Everything here is a
  * pure `Column => Column` built from `org.apache.spark.sql.functions`
  * so it stays inside whole-stage codegen; no UDFs.
  *
  * Java-regex vs Python-regex pitfalls handled throughout:
  *   - Python `\s` is Unicode-aware (matches NBSP in "55 000 ₽"); Java's
  *     is ASCII-only → we use `[\s ]`.
  *   - Python `\b` works on Cyrillic; Java `\b` is ASCII-word-only → we
  *     prefix `(?U)` (UNICODE_CHARACTER_CLASS).
  *   - Spark 4 runs ANSI mode by default → `try_*` variants wherever the
  *     reference swallowed exceptions into None/NaT.
  */
object Functions {

  // ---- F1: parse_numeric_value (reference data_process/normalize.py:7-23).
  // `,`→`.`, strip all (unicode) whitespace, first signed decimal, else null.
  def parseNumeric(c: Column): Column = {
    val cleaned = regexp_replace(regexp_replace(c, lit(","), lit(".")),
      lit("[\\s\\u00A0]+"), lit(""))
    val m = regexp_extract(cleaned, "(-?\\d+(?:\\.\\d+)?)", 1)
    when(m === "", lit(null)).otherwise(m).cast("double")
  }

  // ---- F2: parse_russian_date (normalize.py:26-91) as a string → string
  // function with passthrough-on-no-parse semantics. `asOf` replaces the
  // reference's wall-clock `datetime.now()` so results are deterministic
  // (reference behavior = asOf := now).
  private val monthMap: Column = {
    val entries = Seq(
      "янв" -> 1, "фев" -> 2, "мар" -> 3, "апр" -> 4, "май" -> 5,
      "мая" -> 5, "июн" -> 6, "июл" -> 7, "авг" -> 8, "сен" -> 9,
      "окт" -> 10, "ноя" -> 11, "дек" -> 12)
    map(entries.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
  }

  def parseRussianDate(c: Column, asOf: Column): Column = {
    val timeRe = "(\\d{1,2}):(\\d{2})"
    val hasTime = c.rlike(timeRe)
    val hour = regexp_extract(c, timeRe, 1).cast("int")
    val minute = regexp_extract(c, timeRe, 2).cast("int")
    def fmt(ts: Column) = date_format(ts, "yyyy-MM-dd HH:mm:ss")
    // now.replace(hour=…, minute=…, second=0): same calendar day, new time
    def dayAt(d: Column) =
      try_make_timestamp(year(d), month(d), dayofmonth(d), hour, minute, lit(0))
    val dateRe = "(\\d{1,2})\\s+([а-яА-Я]+)"
    val dayStr = regexp_extract(c, dateRe, 1)
    val monthNum = element_at(monthMap, lower(regexp_extract(c, dateRe, 2)))
    val candidate = try_make_timestamp(
      year(asOf), monthNum, dayStr.cast("int"), hour, minute, lit(0))
    // datetime(y, m, d) > now → same date last year (year-rollback,
    // normalize.py:83-85); Feb-29 rolling onto a non-leap year → null (NaT)
    val adjusted = when(candidate > asOf,
      try_make_timestamp(year(asOf) - 1, monthNum, dayStr.cast("int"),
        hour, minute, lit(0))).otherwise(candidate)
    when(c.isNull || c === "", lit(null).cast("string"))
      .when(!hasTime, c)                                   // no HH:MM → passthrough
      .when(c.contains("сегодня"), fmt(dayAt(to_date(asOf))))
      .when(c.contains("вчера"), fmt(dayAt(date_sub(to_date(asOf), 1))))
      .when(dayStr === "" || monthNum.isNull, c)           // unknown format/month → passthrough
      .otherwise(fmt(adjusted))
  }

  /** Typed projection of F2: timestamp or null (passthrough strings that
    * aren't `yyyy-MM-dd HH:mm:ss` become null instead of surviving as
    * strings — the canonical master table stores real timestamps).
    */
  def parseRussianDateTs(c: Column, asOf: Column): Column =
    try_to_timestamp(parseRussianDate(c, asOf), lit("yyyy-MM-dd HH:mm:ss"))

  // ---- F3: normalize_street_names (scraper/html_parser.py:9-28).
  def normalizeStreetNames(c: Column): Column = {
    val repl = Seq(
      "улица" -> "ул.", "шоссе" -> "ш.", "проспект" -> "просп.",
      "переулок" -> "пер.", "бульвар" -> "бул.", "набережная" -> "наб.")
    repl.foldLeft(c) { case (acc, (from, to)) =>
      regexp_replace(acc, lit(s"(?U)\\b$from\\b"), lit(to))
    }
  }

  // ---- F4: build_address (html_parser.py:31-35) — all-of-3 or "".
  def buildAddress(city: Column, street: Column, building: Column): Column =
    when(length(coalesce(city, lit(""))) > 0
      && length(coalesce(street, lit(""))) > 0
      && length(coalesce(building, lit(""))) > 0,
      concat_ws(", ", city, street, building)).otherwise(lit(""))

  // ---- F5: parse_floor_info "3 из 9" (html_parser.py:38-49).
  private val floorRe = "(\\d+)\\s*из\\s*(\\d+)"
  def parseFloor(c: Column): Column = {
    def g(i: Int) = {
      val m = regexp_extract(c, floorRe, i)
      when(m === "", lit(null)).otherwise(m).cast("long")
    }
    struct(g(1).as("floor"), g(2).as("total_floors"))
  }

  // ---- F6: _parse_offer_title (html_parser.py:274-284). "d/d"→"d d",
  // collect numbers; ≥3 → positional extraction from the tail.
  def parseOfferTitle(c: Column): Column = {
    val processed = regexp_replace(c, lit("(\\d+)/(\\d+)"), lit("$1 $2"))
    val nums = regexp_extract_all(processed, lit("\\d+[.,]\\d+|\\d+"), lit(0))
    val n = size(nums)
    struct(
      when(n >= 3, when(n > 3, try_element_at(nums, lit(1))).otherwise(lit("0")))
        .as("room_count"),
      when(n >= 3, regexp_replace(try_element_at(nums, lit(-3)), lit(","), lit(".")))
        .as("total_area"),
      when(n >= 3, try_element_at(nums, lit(-2))).as("floor"),
      when(n >= 3, try_element_at(nums, lit(-1))).as("total_floors"),
    )
  }

  // ---- F7: parse_offer_stats (html_parser.py:286-294) — exactly 3 numbers.
  def parseOfferStats(c: Column): Column = {
    val nums = regexp_extract_all(c, lit("\\d+"), lit(0))
    val ok = size(nums) === 3
    struct(
      when(ok, try_element_at(nums, lit(1))).as("total_views"),
      when(ok, try_element_at(nums, lit(2))).as("today_views"),
      when(ok, try_element_at(nums, lit(3))).as("unique_views"),
    )
  }

  // ---- F8: _parse_price_info_container (html_parser.py:296-307):
  // split-4 positional. Reference IndexErrors on short input; we null-pad
  // (documented divergence, SURVEY §7.4).
  def splitPriceInfo(c: Column): Column = {
    val parts = split(c, ",", 4)
    def p(i: Int) = try_element_at(parts, lit(i))
    struct(
      p(1).as("rental_period"), p(2).as("utilities_payment"),
      p(3).as("commission"), p(4).as("security_deposit"),
    )
  }

  // ---- F9: offer id from URL (html_parser.py:240-244).
  def offerIdFromUrl(url: Column): Column = {
    val m = regexp_extract(url, "/rent/flat/(\\d+)", 1)
    when(m === "", lit(null)).otherwise(m)
  }

  // ---- F10: summary count with nbsp thousands (html_parser.py:185-194).
  def summaryCount(c: Column): Column = {
    val m = regexp_extract(c, "\\d+(?:[\\s\\u00A0]\\d{3})*", 0)
    val digits = regexp_replace(m, lit("\\D"), lit(""))
    when(digits === "", lit(null)).otherwise(digits).cast("long")
  }

  // ---- F11: image-URL quality rewrite over the array (html_parser.py:371-382).
  def upgradeImageUrls(arr: Column): Column =
    transform(arr, u => regexp_replace(u, lit("-4\\.jpg$"), lit("-1.jpg")))

  // ---- F12: strip "Обновлено: " prefix (html_parser.py:75-78).
  def stripUpdatedLabel(c: Column): Column =
    regexp_replace(c, lit("^Обновлено: "), lit(""))

  // ---- F13: strip metro prefix "м. " (html_parser.py:137-139).
  def stripMetroPrefix(c: Column): Column =
    regexp_replace(c, lit("^м\\.\\s*"), lit(""))

  // ---- F16: distance meters → km, 2 dp (distance.py:81-83). Half-up via
  // an explicit floor formula: Python round() is half-even, Spark round()
  // half-up, DuckDB half-away — all disagree on exact .xx5 doubles. The
  // floor form is pure IEEE arithmetic, so every engine computes the same
  // bits for the same input.
  def distanceKm(meters: Column): Column =
    floor(meters / 1000 * 100 + 0.5) / 100

  // ---- F17: pagination fan-out (parse_data.py:313-315).
  def totalPages(count: Column): Column = ceil(count / lit(28))

  // ---- F19: JS title smart-split (parse_search_page.js:252-268):
  // split on commas not followed by a digit; part 2 → area, part 3 →
  // floor with "/" → " из " and the word "этаж" dropped.
  def titleSmartSplit(c: Column): Column = {
    val parts = transform(split(c, ",(?!\\d)"), p => trim(p))
    val floorPart = regexp_replace(
      regexp_replace(try_element_at(parts, lit(3)), lit("/"), lit(" из ")),
      lit("(?iu)\\s*этаж\\s*"), lit(""))
    struct(
      try_element_at(parts, lit(2)).as("total_area"),
      floorPart.as("floor_combined"),
    )
  }

  // ---- F20: JS price-info keyword normalization (parse_search_page.js:192-228).
  def normalizeRentalPeriod(c: Column): Column =
    regexp_replace(lower(trim(c)), lit("^на\\s+"), lit(""))

  def normalizeUtilities(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(c), lit("комм\\. платежи"), lit("")),
      lit("включены"), lit("включена")))

  /** "без комиссии"/"комиссии нет" → "нет"; else drop the first word
    * (same rule pair serves commission and deposit, js:208-228). */
  def normalizeFeeText(c: Column, absentRe: String): Column = {
    val t = lower(trim(c))
    val afterFirst = when(t.rlike("\\s"),
      regexp_replace(t, lit("^\\S+\\s+"), lit(""))).otherwise(t)
    when(t.isNull, lit(null).cast("string"))
      .when(t.rlike(absentRe), lit("нет"))
      .otherwise(afterFirst)
  }
  def normalizeCommission(c: Column): Column =
    normalizeFeeText(c, "без комиссии|комиссии нет")
  def normalizeDeposit(c: Column): Column =
    normalizeFeeText(c, "без залога|залога нет")

  // ---- F21: walking-time extract (parse_listing_page.js:297-303).
  def walkingTime(c: Column): Column = {
    val m = regexp_extract(c, "\\d+\\s*мин\\.", 0)
    when(m === "", lit(null)).otherwise(m)
  }

  // ---- F14: semantic geo classifier (html_parser.py:309-363).
  // items: array<struct<text string, href string>> in page order. The
  // reference walks the list and (per role) lets the LAST matching item
  // win via dict overwrite; positions 0/1/2 carry special meaning.
  def geoFromItems(items: Column): Column = geoFromRoles(geoRoles(items))

  /** F14, first half: each item's single role (city, district,
    * neighborhood, street, building, metro or skip), with its trimmed
    * text and href. Every regex runs once per item here, so a caller
    * that hoists this column pays for it once per row. */
  def geoRoles(items: Column): Column = {
    val distCond = (h: Column) =>
      h.contains("district%5B0%5D=") || h.rlike("-04\\d+/?$")
    val streetCond = (h: Column) =>
      h.rlike("-02\\d+/?$") || h.rlike("street%5B0%5D=\\d+")
    val buildCond = (h: Column) =>
      h.rlike("house%5B0%5D=\\d+") || h.rlike("/dom/.*-\\d+/?$")

    // elif-chain → a single role per item, honoring reference priority
    zip_with(items, sequence(lit(0), size(items) - 1), (it, i) => {
      val t = trim(coalesce(it.getField("text"), lit("")))
      val h = coalesce(it.getField("href"), lit(""))
      struct(t.as("text"), h.as("href"),
        when(t === "", lit("skip"))
          .when(i === 0, lit("city"))
          .when(i === 1 && distCond(h), lit("district"))
          .when(i === 2 && distCond(h), lit("neighborhood"))
          .when(streetCond(h), lit("street"))
          .when(buildCond(h), lit("building"))
          .when(h.contains("metro%5B0%5D="), lit("metro"))
          .otherwise(lit("skip")).as("role"))
    })
  }

  /** F14, second half: the geo struct from [[geoRoles]]' output, the
    * last item of each role winning. */
  def geoFromRoles(roled: Column): Column = {
    def lastOf(role: String): Column =
      try_element_at(filter(roled, x => x.getField("role") === role), lit(-1))
    def textOf(role: String): Column = lastOf(role).getField("text")
    def idOf(role: String, re1: String, re2: String): Column = {
      val h = lastOf(role).getField("href")
      val a = regexp_extract(h, re1, 1)
      val b = regexp_extract(h, re2, 1)
      when(a =!= "", a).when(b =!= "", b)
    }
    struct(
      textOf("city").as("city"),
      textOf("district").as("district"),
      textOf("neighborhood").as("neighborhood"),
      textOf("street").as("street"),
      idOf("street", "-02(\\d+)/?$", "street%5B0%5D=(\\d+)").as("street_id"),
      textOf("building").as("building"),
      idOf("building", "house%5B0%5D=(\\d+)", "/dom/.*-(\\d+)/?$").as("building_id"),
      // reference strips every "м. " occurrence here (str.replace, not prefix)
      regexp_replace(textOf("metro"), lit("м\\. "), lit("")).as("metro_station"),
      idOf("metro", "metro%5B0%5D=(\\d+)", "metro%5B0%5D=(\\d+)").as("metro_id"),
    )
  }
}
