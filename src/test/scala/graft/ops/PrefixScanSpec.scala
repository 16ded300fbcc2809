package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

import graft.SparkSpec

class PrefixScanSpec extends SparkSpec {
  import spark.implicits._

  /** running sum of x — the minimal nontrivial monoid (state reads a
    * column, unlike the rank counter) */
  private val sumMonoid = new PrefixScan.ScanMonoid[Long] {
    def stepCols: Seq[String] = Seq("x")
    def zero: Long = 0L
    def step(s: Long, v: Array[Any]): Long = s + v(0).asInstanceOf[Long]
    def combine(a: Long, b: Long): Long = a + b
    def emit(post: Long, v: Array[Any]): Seq[Any] = Seq(post)
  }
  private val outF =
    Seq(StructField("cum", LongType, nullable = false))

  test("scan: running sum matches the sequential fold at any " +
      "partition count, including p > distinct keys (empty partitions)") {
    val xs = Seq(5L, -3L, 7L, 0L, 2L, -9L, 4L)
    val df = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }
      .toDF("t", "x")
    val expected = xs.scanLeft(0L)(_ + _).tail
      .zipWithIndex.map { case (c, i) => (i.toLong, c) }.toSet
    for (p <- Seq(1, 3, 32)) { // 32 > 7 rows → empty partitions
      val got = PrefixScan.scan[Long](df, Seq(col("t")), outF,
          sumMonoid, numPartitions = p)
        .select("t", "cum").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected, s"p=$p")
    }
  }

  test("scan: emitCols are visible to emit but not folded in pass 1") {
    // emit scales the running sum by a per-row factor that step never
    // sees — wrong pass-1 projection would throw or mis-fold
    val m = new PrefixScan.ScanMonoid[Long] {
      def stepCols: Seq[String] = Seq("x")
      override def emitCols: Seq[String] = Seq("f")
      def zero: Long = 0L
      def step(s: Long, v: Array[Any]): Long =
        s + v(0).asInstanceOf[Long]
      def combine(a: Long, b: Long): Long = a + b
      def emit(post: Long, v: Array[Any]): Seq[Any] =
        Seq(post * v(1).asInstanceOf[Long])
    }
    val df = Seq((1L, 10L, 2L), (2L, 5L, 3L), (3L, 1L, 10L))
      .toDF("t", "x", "f")
    val got = PrefixScan.scan[Long](df, Seq(col("t")), outF, m,
        numPartitions = 2)
      .select("t", "cum").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 20L), (2L, 45L), (3L, 160L)))
  }

  test("scan: monotone done() truncates rows and skips tail " +
      "partitions wholesale") {
    val m = new PrefixScan.ScanMonoid[Long] {
      def stepCols: Seq[String] = Nil
      def zero: Long = 0L
      def step(s: Long, v: Array[Any]): Long = s + 1L
      def combine(a: Long, b: Long): Long = a + b
      def emit(post: Long, v: Array[Any]): Seq[Any] = Seq(post - 1L)
      override def done(s: Long): Boolean = s >= 4L
    }
    val df = (0L until 100L).map(t => (t, t)).toDF("t", "x")
    val got = PrefixScan.scan[Long](df, Seq(col("t")), outF, m,
        numPartitions = 8)
      .select("t", "cum").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 0L), (1L, 1L), (2L, 2L), (3L, 3L)))
  }

  test("PrefixScan: running-sum output is invariant to the partition " +
      "count and equals the sequential fold (the scan law)") {
    val rnd = new scala.util.Random(101)
    val xs = (1L to 400L).map(t => (t, rnd.nextInt(2001) - 1000L))
    val expected = xs.map(_._2).scanLeft(0L)(_ + _).tail
      .zip(xs.map(_._1)).map { case (c, t) => (t, c) }.toSet
    val m = new PrefixScan.ScanMonoid[Long] {
      def stepCols: Seq[String] = Seq("x")
      def zero: Long = 0L
      def step(s: Long, v: Array[Any]): Long =
        s + v(0).asInstanceOf[Long]
      def combine(a: Long, b: Long): Long = a + b
      def emit(post: Long, v: Array[Any]): Seq[Any] = Seq(post)
    }
    for (p <- Seq(1, 2, 7, 32)) {
      val got = PrefixScan.scan[Long](
          rnd.shuffle(xs).toDF("t", "x"), Seq(col("t")),
          Seq(StructField("cum", LongType, nullable = false)), m,
          numPartitions = p)
        .select("t", "cum").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected, s"p=$p")
    }
  }

  test("weightedQuantilesLong on PrefixScan: partition-count-invariant " +
      "and equal to the serial weighted rank") {
    val rnd = new scala.util.Random(117)
    val rows = (1 to 300).map(_ =>
      (rnd.nextInt(50).toLong, rnd.nextInt(9) + 1L))
    val ps = Seq(0.25, 0.5, 0.9, 1.0)
    // serial oracle: per-value weight sums, ascending cum, first value
    // whose cum >= ceil(p*W)
    val perV = rows.groupBy(_._1).view.mapValues(_.map(_._2).sum)
      .toSeq.sortBy(_._1)
    val total = perV.map(_._2).sum
    val cum = perV.scanLeft((0L, 0L)) { case ((_, c), (v, w)) =>
      (v, c + w) }.tail
    val expect = ps.map { p =>
      val t = math.ceil(p * total.toDouble).toLong
      p -> cum.find(_._2 >= t).get._1
    }.toMap
    for (parts <- Seq(1, 5, 32)) {
      val got = SketchStats.weightedQuantilesLong(
          rows.toDF("v", "w").repartition(parts), "v", "w", ps)
        .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
      assert(got == expect, s"parts=$parts")
    }
  }
}
