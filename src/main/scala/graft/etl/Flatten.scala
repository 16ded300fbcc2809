package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Functions

/** B1/B2 flatten stage: promote the open-vocabulary `attrs` bag and the
  * parser's struct/array fields into the canonical flat listing schema
  * (reference data_process/flatten.py:4-71 + parse-time flattening).
  *
  * Collision rule (matches the reference's dict insertion-order
  * last-wins): positional PriceInfo fields beat the label bag for the
  * rental-term columns; the label bag beats title-derived values for
  * areas/floors. Unknown bag keys stay in `extras` (SURVEY §1.3 —
  * reproduces "unknown keys pass through" without schema drift).
  */
object Flatten {

  /** Russian/alias label → canonical column (flatten.py:4-55). */
  val fieldMappings: Map[String, String] = Map(
    "Залог" -> "security_deposit", "deposit" -> "security_deposit",
    "Комиссии" -> "commission", "Комиссия" -> "commission",
    "Оплата ЖКХ" -> "utilities_payment",
    "Предоплата" -> "prepayment", "Предоплаты" -> "prepayment",
    "Срок аренды" -> "rental_period", "lease_term" -> "rental_period",
    "Торг" -> "negotiable", "Условия проживания" -> "living_conditions",
    "Балкон/лоджия" -> "balcony", "Вид из окон" -> "view",
    "Высота потолков" -> "ceiling_height", "Год постройки" -> "year_built",
    "Жилая площадь" -> "living_area", "Комнат в аренду" -> "rooms_for_rent",
    "Комнат в квартире" -> "rooms_in_apartment",
    "Общая площадь" -> "total_area", "Планировка" -> "layout",
    "Площадь комнат" -> "room_area", "Площадь кухни" -> "kitchen_area",
    "Ремонт" -> "renovation", "Санузел" -> "bathroom",
    "Спальных мест" -> "sleeping_places", "Тип жилья" -> "apartment_type",
    "Этаж" -> "floor_combined", "Аварийность" -> "emergency",
    "Газоснабжение" -> "gas_supply", "Количество лифтов" -> "elevators",
    "Мусоропровод" -> "garbage_chute", "Отопление" -> "heating",
    "Парковка" -> "parking", "Подъезды" -> "entrances",
    "Строительная серия" -> "building_series", "Тип дома" -> "building_type",
    "Тип перекрытий" -> "ceiling_type",
  )

  /** Amenity feature labels → boolean flag columns (flatten.py:45-54,
    * fed by the FeaturesItem array, html_parser.py:176-182). */
  val amenityFlags: Map[String, String] = Map(
    "Холодильник" -> "has_refrigerator",
    "Посудомоечная машина" -> "has_dishwasher",
    "Стиральная машина" -> "has_washing_machine",
    "Кондиционер" -> "has_air_conditioner",
    "Интернет" -> "has_internet", "Ванна" -> "has_bathtub",
    "Мебель в комнатах" -> "has_room_furniture", "Телевизор" -> "has_tv",
    "Мебель на кухне" -> "has_kitchen_furniture",
    "Душевая кабина" -> "has_shower_cabin",
  )

  /** Flatten a parsed-page frame (schema of [[graft.parse.ParsedPage]])
    * into the canonical flat listing schema.
    *
    * Shape matters for the driver: a naive ~50-step `withColumn` chain
    * re-analyzes the whole plan per call (quadratic driver time) and
    * duplicates the title/stats/geo struct subtrees once per `.getField`
    * reference — measured as the dominant cost of the parse pipeline at
    * sf0.1. Instead the expensive subtrees are hoisted into `_`-prefixed
    * columns (one Project; CollapseProject keeps them materialized
    * because each is referenced more than once and is non-cheap), and
    * the flat schema is produced by ONE bulk select that preserves the
    * exact column order the historical chain produced.
    */
  def apply(parsed: DataFrame): DataFrame = {
    val bag = col("attrs")
    def fromBag(ru: String): Column = element_at(bag, ru)

    // canonical value per mapped column, coalescing alias labels
    val mapped: Map[String, Column] = fieldMappings.groupBy(_._2).map {
      case (canon, entries) =>
        canon -> coalesce(entries.keys.toSeq.sorted.map(fromBag): _*)
    }

    val hoisted = parsed
      .withColumns(Map(
        "_title" -> Functions.parseOfferTitle(col("title")),
        "_stats" -> Functions.parseOfferStats(col("offer_stats")),
        "_geo_roles" -> Functions.geoRoles(col("address_items"))))
      .withColumns(Map(
        "_geo" -> Functions.geoFromRoles(col("_geo_roles")),
        "_floor" -> Functions.parseFloor(
          coalesce(mapped("floor_combined"), col("_title").getField("floor")))))
      .withColumn("_street",
        Functions.normalizeStreetNames(col("_geo").getField("street")))

    val titleInfo = col("_title")
    val stats = col("_stats")
    val geo = col("_geo")
    val floorInfo = col("_floor")
    val street = col("_street")
    val builtAddress = Functions.buildAddress(
      geo.getField("city"), street, geo.getField("building"))

    val knownKeys = fieldMappings.keys.toArray
    val extras = map_filter(bag, (k, _) => !array_contains(lit(knownKeys), k))

    // in-place replacements of ParsedPage columns (rental terms:
    // positional PriceInfo wins over the label bag — dict insertion order)
    val replaced: Map[String, Column] = Map(
      "rental_period" ->
        coalesce(col("rental_period"), mapped("rental_period")),
      "utilities_payment" ->
        coalesce(col("utilities_payment"), mapped("utilities_payment")),
      "commission" -> coalesce(col("commission"), mapped("commission")),
      "security_deposit" ->
        coalesce(col("security_deposit"), mapped("security_deposit")),
      "metro_station" ->
        coalesce(col("metro_station"), geo.getField("metro_station")),
      "address" ->
        when(builtAddress =!= "", builtAddress).otherwise(col("address")))

    // appended columns, in the historical first-assignment order
    val appended: Seq[(String, Column)] =
      Seq(
        "prepayment" -> mapped("prepayment"),
        "negotiable" -> mapped("negotiable"),
        "living_conditions" -> mapped("living_conditions"),
        // areas / layout: label bag wins over title-derived (insertion order)
        "total_area" ->
          coalesce(mapped("total_area"), titleInfo.getField("total_area")),
        "living_area" -> mapped("living_area"),
        "kitchen_area" -> mapped("kitchen_area"),
        "room_area" -> mapped("room_area"),
        "ceiling_height" -> mapped("ceiling_height"),
        "room_count" -> titleInfo.getField("room_count"),
        "rooms_for_rent" -> mapped("rooms_for_rent"),
        "rooms_in_apartment" -> mapped("rooms_in_apartment"),
        "sleeping_places" -> mapped("sleeping_places"),
        "floor_combined" -> mapped("floor_combined"),
        "floor" -> floorInfo.getField("floor"),
        "total_floors" -> coalesce(floorInfo.getField("total_floors"),
          titleInfo.getField("total_floors")),
        // building attributes
        "apartment_type" -> mapped("apartment_type"),
        "layout" -> mapped("layout"),
        "renovation" -> mapped("renovation"),
        "bathroom" -> mapped("bathroom"),
        "balcony" -> mapped("balcony"),
        "view" -> mapped("view"),
        "year_built" -> mapped("year_built"),
        "building_type" -> mapped("building_type"),
        "building_series" -> mapped("building_series"),
        "ceiling_type" -> mapped("ceiling_type"),
        "heating" -> mapped("heating"),
        "parking" -> mapped("parking"),
        "elevators" -> mapped("elevators"),
        "entrances" -> mapped("entrances"),
        "gas_supply" -> mapped("gas_supply"),
        "garbage_chute" -> mapped("garbage_chute"),
        "emergency" -> mapped("emergency")) ++
      // amenity flags: present → true, absent → null (merge null-skip)
      amenityFlags.toSeq.map { case (ru, flag) =>
        flag -> when(array_contains(col("features"), ru), lit(true))
      } ++
      Seq(
        // geo
        "city" -> geo.getField("city"),
        "district" -> geo.getField("district"),
        "neighborhood" -> geo.getField("neighborhood"),
        "street" -> street,
        "street_id" -> geo.getField("street_id"),
        "building" -> geo.getField("building"),
        "building_id" -> geo.getField("building_id"),
        "metro_id" -> geo.getField("metro_id"),
        // views
        "total_views" -> stats.getField("total_views"),
        "today_views" -> stats.getField("today_views"),
        "unique_views" -> stats.getField("unique_views"),
        // open-vocabulary tail
        "extras" -> extras)

    val dropped = Set("attrs", "address_items")
    val kept = parsed.columns.filterNot(dropped).toSeq
      .map(n => replaced.getOrElse(n, col(n)).as(n))
    hoisted.select(kept ++ appended.map { case (n, c) => c.as(n) }: _*)
  }
}
