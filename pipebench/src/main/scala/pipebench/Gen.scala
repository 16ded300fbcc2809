package pipebench

import java.util.SplittableRandom
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Shape of one workload's input stream. Fractions are of the current
  * search slice (the keys a search returns this hour). */
final case class Shape(
    cardsPerBatch: Int,   // keyed cards in the hour-0 slice
    newFrac: Double,      // fresh keys per hour
    goneFrac: Double,     // keys that leave the search (unpublish markers)
    backFrac: Double,     // keys that come back after leaving
    priceFrac: Double,    // keys whose price changes this hour
    keylessFrac: Double,  // extra keyless cards: half carry an offer_url, half no link
    dupFrac: Double,      // fresh keys whose description copies an older one
    scrapesPerKey: Int,   // > 1: every key appears this often in one batch
)

object Shape {
  val CardsPerPage = 28
  /** The paper's load: 34 search pages of 28 cards (947 keyed cards and
    * 5 keyless ones at hour 0), a rotating slice. */
  val hourly = Shape(947, 0.03, 0.04, 0.01, 0.10, 0.005, 0.05, 1)
  /** A newest-first feed: every hour brings 947 listings not seen before. */
  val feed = Shape(947, 1.0, 1.0, 0.0, 0.0, 0.005, 0.05, 1)
  /** One catch-up batch: 10 000 keys, each scraped three times. */
  val backfill = Shape(10000, 0.0, 0.0, 0.0, 0.10, 0.005, 0.0, 3)
}

/** One generated card: `key` is None for a keyless card, and `slug` is
  * empty for a card without a link. */
final case class Card(key: Option[Long], slug: String, price: Long,
    hh: Int, mm: Int, desc: String, rooms: Int, areaDm: Int, floor: Int,
    floors: Int, street: Int, house: Int, metro: Int)

/** One hour of input: search pages as (url, html), plus the cards they
  * hold in page order (the ground truth folds them in that order). */
final case class Batch(hour: Int, pages: Seq[(String, String)],
    cards: Seq[Card], fresh: Seq[Long])

/** Seeded, deterministic listing-stream generator. The same seed gives
  * the same pages, hour after hour. Each hour rotates the search slice:
  * some keys leave (the pipeline marks them unpublished), some come
  * back, fresh keys arrive, some prices change, and a few keyless cards
  * appear: half carry only an `offer_url` (the merge's url fallback finds
  * no key for them), half no link at all (the parse filter drops them). A share of fresh keys copies an older
  * key's description with one word replaced — the planted near-duplicate
  * pairs the dedup layer must find.
  */
final class Gen(seed: Long, shape: Shape, keyBase: Long = 300000000L) {
  private val rng = new SplittableRandom(seed)
  private var nextKey = keyBase
  private var hour = 0
  private var keylessSeq = 0L
  private val active = ArrayBuffer.empty[Long]
  private val gone = ArrayBuffer.empty[Long]
  private val price = mutable.HashMap.empty[Long, Long]
  private val desc = mutable.HashMap.empty[Long, String]
  // keys of earlier hours that may still be copied (each at most once,
  // and never a copy itself, so the only near-duplicate relation is
  // the planted pair)
  private val copyable = ArrayBuffer.empty[Long]
  private var freshThisHour = ArrayBuffer.empty[Long]
  val planted = ArrayBuffer.empty[(Long, Long)]

  private def pick[T](buf: ArrayBuffer[T]): T = {
    val i = rng.nextInt(buf.length)
    val v = buf(i)
    buf(i) = buf.last
    buf.remove(buf.length - 1)
    v
  }

  private def words(n: Int): Array[String] =
    Array.fill(n)(Gen.vocab(rng.nextInt(Gen.vocab.length)))

  private def freshKey(allowCopy: Boolean): Long = {
    val k = nextKey
    nextKey += 1
    price(k) = 15000L + 500L * rng.nextInt(500)
    val copy = allowCopy && copyable.nonEmpty && rng.nextDouble() < shape.dupFrac
    desc(k) =
      if (copy) {
        val src = pick(copyable)
        val w = desc(src).split(' ')
        val at = 4 + rng.nextInt(w.length - 8)
        w(at) = Gen.vocab(rng.nextInt(Gen.vocab.length)) + "ый"
        planted += ((k, src))
        w.mkString(" ")
      } else {
        words(24 + rng.nextInt(16)).mkString(" ")
      }
    if (!copy) freshThisHour += k
    k
  }

  private def card(k: Long): Card = {
    // static listing attributes are a pure function of (seed, key)
    val r = new SplittableRandom(seed * 1000003L + k)
    val floors = 5 + r.nextInt(20)
    Card(Some(k), k.toString, price(k), rng.nextInt(24), rng.nextInt(60),
      desc(k), 1 + r.nextInt(4), 250 + r.nextInt(1200), 1 + r.nextInt(floors),
      floors, r.nextInt(400), 1 + r.nextInt(90), r.nextInt(200))
  }

  private def keylessCard(): Card = {
    keylessSeq += 1
    Card(None, if (keylessSeq % 2 == 0) "" else s"draft-$seed-$keylessSeq", 20000L, 12, 0,
      words(20).mkString(" "), 1, 300, 1, 5, 0, 1, 0)
  }

  private def newPrice(old: Long): Long = {
    val step = 500L * (1 + rng.nextInt(20))
    if (rng.nextBoolean() && old - step >= 10000L) old - step else old + step
  }

  /** The next hour's pages. */
  def next(): Batch = {
    freshThisHour.foreach(copyable += _)
    freshThisHour = ArrayBuffer.empty
    val fresh = ArrayBuffer.empty[Long]
    if (hour == 0) {
      for (_ <- 0 until shape.cardsPerBatch) {
        val k = freshKey(allowCopy = false); active += k; fresh += k
      }
    } else {
      val n = active.length
      val leaving = (0 until (n * shape.goneFrac).round.toInt).map(_ => pick(active))
      for (_ <- 0 until math.min(gone.length, (n * shape.backFrac).round.toInt))
        active += pick(gone)
      gone ++= leaving
      for (_ <- 0 until (n * shape.newFrac).round.toInt) {
        val k = freshKey(allowCopy = true); active += k; fresh += k
      }
      for (_ <- 0 until (active.length * shape.priceFrac).round.toInt) {
        val k = active(rng.nextInt(active.length))
        price(k) = newPrice(price(k))
      }
    }
    // search order changes hour to hour
    val order = active.toArray
    for (i <- order.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
    }
    val cards = ArrayBuffer.empty[Card]
    for (pass <- 0 until shape.scrapesPerKey) {
      if (pass > 0) // a re-scrape within the batch may see a new price
        for (k <- order if rng.nextDouble() < shape.priceFrac)
          price(k) = newPrice(price(k))
      order.foreach(k => cards += card(k))
    }
    val keyless = (cards.length * shape.keylessFrac).round.toInt
    for (_ <- 0 until keyless)
      cards.insert(rng.nextInt(cards.length + 1), keylessCard())
    val pages = cards.grouped(Shape.CardsPerPage).zipWithIndex.map {
      case (cs, p) =>
        (s"https://www.cian.ru/cat.php?deal_type=rent&offer_type=flat&p=${p + 1}&h=$hour",
          Gen.page(cs.toSeq))
    }.toSeq
    val b = Batch(hour, pages, cards.toSeq, fresh.toSeq)
    hour += 1
    b
  }
}

object Gen {
  private val syl = Array("ка", "ро", "ми", "на", "ле", "то", "зу", "ве",
    "ши", "да", "по", "лю", "ре", "ны", "ск", "ба", "го", "жи", "фе", "ча")

  /** Fixed 4 000-word pseudo-Russian vocabulary (lowercase Cyrillic only,
    * so tokens survive HTML text extraction unchanged). */
  val vocab: Array[String] = {
    val r = new SplittableRandom(17L)
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < 4000)
      seen += Array.fill(2 + r.nextInt(3))(syl(r.nextInt(syl.length))).mkString
    seen.toArray
  }

  private val metros = Array("Арбатская", "Тверская", "Сокол", "Динамо",
    "Беговая", "Полежаевская", "Пушкинская", "Чеховская")

  def fmtPrice(p: Long): String = {
    val s = p.toString
    val head = s.length % 3
    val groups = (if (head > 0) Seq(s.take(head)) else Nil) ++
      s.drop(head).grouped(3)
    groups.mkString(" ")
  }

  def cardHtml(c: Card): String = {
    val area = s"${c.areaDm / 10},${c.areaDm % 10}"
    val link = if (c.slug.isEmpty) "" else
      s"""<div data-name="LinkArea"><a href="https://www.cian.ru/rent/flat/${c.slug}/">card</a></div>"""
    f"""<article data-name="CardComponent">
       |$link
       |<span data-mark="OfferTitle"><span>${c.rooms}-комн. кв., $area м², ${c.floor}/${c.floors} этаж</span></span>
       |<span data-mark="MainPrice"><span>${fmtPrice(c.price)} ₽/мес.</span></span>
       |<p data-mark="PriceInfo">на год, комм. платежи включены, без комиссии, залог ${fmtPrice(c.price)} ₽</p>
       |<div data-testid="metadata-updated-date"><span>Обновлено: сегодня ${c.hh}%02d:${c.mm}%02d</span></div>
       |<div data-name="Description"><span>${c.desc}</span></div>
       |<div data-name="Gallery"><img src="https://images.cdn-cian.ru/${c.slug}-4.jpg"/></div>
       |<div data-name="Geo">
       |<a data-name="AddressItem" href="https://www.cian.ru/kupit-kvartiru-moskva/">Москва</a>
       |<a data-name="AddressItem" href="https://www.cian.ru/ulitsa-${c.street}-02${c.street}/">Улица ${c.street} улица</a>
       |<a data-name="AddressItem" href="https://www.cian.ru/?house%%5B0%%5D=${c.house}">${c.house}</a>
       |<a data-name="AddressItem" href="https://www.cian.ru/?metro%%5B0%%5D=${c.metro}">м. ${metros(c.metro % metros.length)}</a>
       |</div>
       |</article>""".stripMargin
  }

  def page(cards: Seq[Card]): String =
    cards.map(cardHtml).mkString(
      "<html><body>\n<div data-name=\"Offers\">\n", "\n", "\n</div>\n</body></html>")
}
