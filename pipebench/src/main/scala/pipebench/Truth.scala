package pipebench

import scala.collection.mutable

/** Expected master content, folded from the generated cards by the
  * merge rules the pipeline implements: a fresh key is inserted with no
  * price changes; a seen key counts a change whenever its price differs
  * from the stored one and comes back published; after each batch every
  * published key the search no longer returns is unpublished. Keyless
  * cards never reach the master (their `offer_url` matches no key).
  */
final class KeyTruth(var price: Long, var changes: Long, var unpublished: Boolean)

final class Truth {
  val keys = mutable.LinkedHashMap.empty[Long, KeyTruth]
  /** Planted (copy, source) description pairs of the deduplicated hours. */
  val planted = mutable.LinkedHashSet.empty[(Long, Long)]
  /** Span-gram anchors appended so far: one per window of `l` words. */
  var anchors = 0L
  var docs = 0L

  def apply(b: Batch): Unit = {
    val seen = mutable.HashSet.empty[Long]
    for (c <- b.cards; k <- c.key) {
      seen += k
      keys.get(k) match {
        case None => keys(k) = new KeyTruth(c.price, 0L, false)
        case Some(s) =>
          if (s.price != c.price) s.changes += 1
          s.price = c.price
          s.unpublished = false
      }
    }
    for ((k, s) <- keys if !s.unpublished && !seen(k)) s.unpublished = true
  }

  /** Record the dedup tick of `b`: its fresh keys are the documents. */
  def dedup(b: Batch, gen: Gen, l: Int): Unit = {
    val fresh = b.fresh.toSet
    val descs = b.cards.iterator.collect {
      case c if c.key.exists(fresh) => c.key.get -> c.desc
    }.toMap
    docs += descs.size
    anchors += descs.valuesIterator
      .map(d => math.max(0, d.split(' ').length - l + 1).toLong).sum
    planted ++= gen.planted.filter(p => fresh(p._1))
  }

  def rows: Long = keys.size.toLong
  def priceChanges: Long = keys.valuesIterator.map(_.changes).sum
  def unpublished: Long = keys.valuesIterator.count(_.unpublished).toLong
}
