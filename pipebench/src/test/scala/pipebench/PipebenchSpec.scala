package pipebench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own guarantees: the generator is a pure function of
  * its seed, the checker accepts what the pipeline really produces, and
  * it rejects a corrupted master — a batch replayed twice, which the
  * non-idempotent MERGE double-counts (50000 → 40000 → 45000 carries 2
  * price changes; replayed, the master reports 4). */
class PipebenchSpec extends AnyFunSuite {
  private val work = new File("target/test-work").getAbsoluteFile

  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("pipebench-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val small = Shape(56, 0.05, 0.1, 0.05, 0.2, 0.02, 0.2, 1)

  private def runner(name: String, wl: Workload, seed: Long): Runner = {
    val root = new File(work, name)
    Files.delete(root)
    new Runner(spark, wl, seed, root.getPath)
  }

  test("the generator is deterministic per seed") {
    def hours(seed: Long) = {
      val g = new Gen(seed, Shape.hourly)
      (0 until 4).map(_ => g.next())
    }
    val (a, b, c) = (hours(7), hours(7), hours(8))
    assert(a.map(_.pages) == b.map(_.pages))
    assert(a.map(_.cards) == b.map(_.cards))
    assert(a.map(_.pages) != c.map(_.pages))
    // the paper's batch: 34 search pages of 28 cards
    val (pages, cards) = (a.head.pages.size, a.head.cards.size)
    assert(pages == 34 && cards == 952)
    val keyless = a.flatMap(_.cards).count(_.key.isEmpty)
    assert(keyless > 0)
  }

  test("the ground truth folds the merge rules") {
    val t = new Truth
    def card(k: Long, price: Long) =
      Card(Some(k), k.toString, price, 10, 0, "a b c", 1, 300, 1, 5, 1, 1, 1)
    t(Batch(0, Nil, Seq(card(1, 50000), card(2, 30000)), Nil))
    t(Batch(1, Nil, Seq(card(1, 40000), card(1, 45000)), Nil))
    assert(t.keys(1L).changes == 2 && t.keys(1L).price == 45000)
    assert(t.keys(2L).unpublished, "a key the search no longer returns")
    t(Batch(2, Nil, Seq(card(2, 30000)), Nil))
    assert(!t.keys(2L).unpublished && t.keys(2L).changes == 0, "it came back")
    assert(t.rows == 2 && t.priceChanges == 2 && t.unpublished == 1)
  }

  test("the checker accepts real runs, with the same fingerprint per seed") {
    val wl = Workload("small", small)
    def run(name: String) = {
      val r = runner(name, wl, 3)
      r.setup()
      r.batch(r.nextBatch(), None)
      val c = Check.run(spark, r, wl)
      assert(c.failures == 0, c.detail.mkString("\n"))
      Check.fingerprint(spark, r.store.master)
    }
    assert(run("fp-a") == run("fp-b"))
  }

  test("the checker finds the planted near-duplicates of the dedup ticks") {
    val wl = Workload("feed", Shape(84, 1.0, 1.0, 0, 0, 0.02, 0.2, 1),
      pipeline = false, dedup = true)
    val r = runner("feed", wl, 5)
    r.setup()
    r.batch(r.nextBatch(), None)
    val c = Check.run(spark, r, wl)
    assert(c.failures == 0, c.detail.mkString("\n"))
    assert(r.truth.planted.nonEmpty && r.compactions >= 1)
  }

  test("the checker rejects a batch replayed twice") {
    val wl = Workload("replay", small)
    val r = runner("replay", wl, 1)
    def card(price: Long) =
      Card(Some(1001L), "1001", price, 9, 30, "светлая квартира у метро", 2, 456,
        3, 9, 12, 7, 3)
    def batch(hour: Int, cards: Seq[Card]) = Batch(hour,
      Seq(("https://www.cian.ru/cat.php?p=1", Gen.page(cards))), cards, Nil)
    val first = batch(0, Seq(card(50000)))
    val changes = batch(1, Seq(card(40000), card(45000)))
    for (b <- Seq(first, changes)) { r.truth(b); r.batch(b, None) }
    val ok = Check.run(spark, r, wl)
    assert(ok.failures == 0, ok.detail.mkString("\n"))
    assert(r.truth.priceChanges == 2)

    r.batch(changes, None) // the replay: same pages, truth unchanged
    val bad = Check.run(spark, r, wl)
    assert(bad.failures > 0)
    assert(bad.detail.exists(_.contains("total_price_changes: got 4, want 2")),
      bad.detail.mkString("\n"))
    assert(bad.detail.exists(_.contains("mismatched_keys: got 1, want 0")))
  }
}
