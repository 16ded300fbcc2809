package graft.merge

import scala.util.Random

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Seeded randomized differential test: [[MergeListings.mergeBatch]]'s
  * compiled fold against [[ReferenceMerge]], the Column-built
  * `aggregate()` fold it replaced, row for row after every batch.
  *
  * Each run draws 200 independent batch sequences of 4 batches. A
  * sequence owns its keys and urls, so the merge treats it on its own;
  * a run merges batch b of every sequence in one call. Rows cover keyed
  * and keyless-url rows (adopting a master key, an earlier batch key, or
  * nothing), `""` and null `updated_date`, several rows per key in one
  * batch, price changes, unpublish/reappear, and `extras` maps whose
  * keys overlap in both orders. One run passes a shuffled `seqCol`, the
  * other lets the merge generate arrival ids.
  *
  * One deliberate difference is kept out of the draw: the reference
  * adopts an orphan by grouping on every source column, and grouping on
  * a map column sorts its keys, so an adopted orphan's `extras` reached
  * the fold key-sorted. `mergeBatch` keeps the scraped key order
  * (MergeListingsSpec pins it); keyless rows here carry sorted maps.
  */
class MergeDifferentialSpec extends SparkSpec {

  private val fields = Seq(
    StructField("offer_id", StringType),
    StructField("offer_url", StringType),
    StructField("updated_date", StringType),
    StructField("price_value", DoubleType),
    StructField("is_unpublished", BooleanType),
    StructField("description", StringType),
    StructField("timestamp", StringType),
    StructField("image_urls", ArrayType(StringType)),
    StructField("extras", MapType(StringType, StringType)),
    StructField("status", StringType),
    StructField("unpublished_date", StringType))
  private val sourceSchema = StructType(fields :+ StructField("seq", LongType))

  private val Sequences = 200
  private val Batches = 4
  private val KeysPerSequence = 3

  /** Batch `b` of every sequence, rows in a seeded random arrival order. */
  private def batch(rnd: Random, b: Int): DataFrame = {
    def pick[T](xs: T*): T = xs(rnd.nextInt(xs.size))
    val rows = for {
      s <- 0 until Sequences
      k <- 0 until KeysPerSequence
      if rnd.nextDouble() < 0.7
      _ <- 0 until pick(1, 1, 2, 3)
    } yield {
      val key = s"s$s-k$k"
      val keyless = rnd.nextDouble() < 0.15
      Row(
        if (keyless) null else key,
        if (keyless) pick(s"u/$key", s"u/$key", s"u/s$s-none")
        else pick(s"u/$key", s"u/$key", null),
        pick(null, "", s"2026-01-0${b + 1} 1${rnd.nextInt(10)}:00:00",
          s"2026-01-0${b + 1} 0${rnd.nextInt(10)}:30:00"),
        pick(null, 100.0, 150.0, 150.5, 90.0, 90.0),
        pick(null, true, false, false, false),
        pick(null, "d1", s"d$b"),
        s"t$b",
        pick(null, Seq.empty[String], Seq("a"), Seq("a", "b")),
        // a keyless row's map keys come sorted: the reference's url
        // fallback groups by every column, which sorts map keys
        if (keyless) pick(null, Map("a" -> "1"), Map("a" -> "2", "b" -> null))
        else pick(null, Map.empty[String, String], Map("a" -> "1"),
          Map("b" -> null, "a" -> "2"), Map("c" -> "3", "a" -> null)),
        pick(null, "active", "non active"),
        if (rnd.nextDouble() < 0.05) "2025-12-31 00:00:00" else null)
    }
    val order = rnd.shuffle(rows.indices.toList).toArray
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ order(i).toLong) }, 3),
      sourceSchema)
  }

  /** Rows as JSON, sorted: map entries keep their order in the text. */
  private def rowsOf(df: DataFrame): Seq[String] = df.toJSON.collect().toSeq.sorted

  private def differential(seed: Long, seqCol: Option[String]): Unit = {
    val rnd = new Random(seed)
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(fields))
    var (ref, got) = (empty, empty)
    for (b <- 0 until Batches) {
      val src = batch(rnd, b)
      val source = if (seqCol.isDefined) src else src.drop("seq")
      ref = ReferenceMerge.mergeBatch(ref, source, seqCol).localCheckpoint()
      got = MergeListings.mergeBatch(got, source, seqCol).localCheckpoint()
      assert(got.schema == ref.schema, s"batch $b")
      val (r, g) = (rowsOf(ref), rowsOf(got))
      assert(g.size == r.size, s"batch $b")
      for ((x, y) <- r.zip(g)) assert(y == x, s"batch $b")
    }
    val keys = got.select("offer_id").distinct().count()
    assert(keys == got.count() && keys > Sequences)
    // the draw exercised what it is meant to
    val stats = got.selectExpr("max(total_price_changes)", "count(unpublished_date)",
      "sum(size(extras))").head()
    assert(stats.getLong(0) >= 2 && stats.getLong(1) > 0 && stats.getLong(2) > 0)
  }

  test("compiled fold matches the aggregate() fold: 200 sequences, seqCol given") {
    differential(seed = 17L, seqCol = Some("seq"))
  }

  test("compiled fold matches the aggregate() fold: 200 sequences, generated ids") {
    differential(seed = 29L, seqCol = None)
  }
}
