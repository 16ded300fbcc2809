package pipebench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

final case class CheckResult(failures: Int, report: Json.Raw, detail: Seq[String])

/** Compares the run's final state with the generator's ground truth.
  * Each failed comparison counts once in the run's `failed`. */
object Check {

  /** Order-independent content hash of the master (every column a hash
    * accepts), or "absent". Same seed and same number of hours → same
    * value. */
  def fingerprint(spark: SparkSession, path: String): String =
    if (!new File(path).exists()) "absent"
    else {
      val m = spark.read.parquet(path)
      val cols = m.schema.fields.filterNot(_.dataType.isInstanceOf[MapType])
        .map(f => col(f.name))
      val v = m.agg(bit_xor(xxhash64(cols.toIndexedSeq: _*))).head().get(0)
      if (v == null) "empty" else f"${v.asInstanceOf[Long]}%016x"
    }

  /** Master and views against the tally: row count, price-change sum,
    * unpublished count, and every key's last price, change count and
    * status. */
  private def master(spark: SparkSession, r: Runner,
      checks: scala.collection.mutable.Map[String, (Any, Any)]): Unit = {
    import spark.implicits._
    val t = r.truth
    val m = spark.read.parquet(r.store.master)
    val (rows, changes, unpub) = m.agg(count(lit(1)),
      coalesce(sum($"total_price_changes"), lit(0L)),
      count(when($"is_unpublished" === true, 1))).as[(Long, Long, Long)].head()
    checks("master_rows") = (rows, t.rows)
    checks("total_price_changes") = (changes, t.priceChanges)
    checks("unpublished") = (unpub, t.unpublished)
    val badKeys = m.select($"offer_id", $"price_value",
        coalesce($"total_price_changes", lit(0L)),
        coalesce($"is_unpublished", lit(false)))
      .as[(String, Option[Double], Long, Boolean)].collect()
      .count { case (k, p, c, u) =>
        Option(k).flatMap(_.toLongOption).flatMap(t.keys.get) match {
          case None => true
          case Some(s) =>
            !p.contains(s.price.toDouble) || c != s.changes || u != s.unpublished
        }
      }
    checks("mismatched_keys") = (badKeys.toLong, 0L)
    def csvRows(dir: String) = spark.read.option("header", "true").csv(dir).count()
    checks("view_rows") = (csvRows(s"${r.store.views}/combined_data"), t.rows)
    // every listing was active or seen within the view's 7-day window
    checks("dashboard_rows") =
      (csvRows(s"${r.store.views}/combined_data_filtered"), t.rows)
  }

  def run(spark: SparkSession, r: Runner, wl: Workload): CheckResult = {
    val checks = scala.collection.mutable.LinkedHashMap.empty[String, (Any, Any)]
    if (wl.pipeline) master(spark, r, checks)
    if (wl.dedup) {
      val t = r.truth
      checks("dedup_pairs") = (r.pairs.size.toLong, t.planted.size.toLong)
      checks("dedup_pairs_unplanted") = ((r.pairs -- t.planted).size.toLong, 0L)
      checks("planted_pair_found") = (r.pairs.exists(t.planted), t.planted.nonEmpty)
      checks("index_docs") = (graft.ops.Dedup.readPrefixIndex(spark, r.store.index)
        .grams.count(), t.docs)
      checks("span_anchor_sum") = (r.spanAnchors, t.anchors)
      checks("span_compactions") = (r.compactions >= 1, true)
    }
    val failed = checks.collect { case (k, (g, w)) if g != w => k }.toSeq
    val report = Json.obj(
      "failed" -> failed,
      "fingerprint" -> fingerprint(spark, r.store.master),
      "values" -> Json.Raw(checks.map { case (k, (g, _)) =>
        Json.str(k) + ":" + Json.render(g) }.mkString("{", ",", "}")))
    CheckResult(failed.size, report,
      checks.map { case (k, (g, w)) =>
        s"[pipebench] check $k: got $g, want $w${if (g != w) "  MISMATCH" else ""}"
      }.toSeq)
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  final case class Raw(s: String) { override def toString: String = s }

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def render(v: Any): String = v match {
    case null => "null"
    case r: Raw => r.s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => str(k) + ":" + render(v) }.mkString("{", ",", "}"))
}

object Stats {
  /** Linear-interpolated quantile of `xs` (NaN when empty). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (pos - lo) * (s(hi) - s(lo))
    }

  /** The highest quantile with at least ten samples above it, and its
    * value; with ten samples or fewer, the maximum (quantile 1.0). */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.size <= 10) (1.0, if (xs.isEmpty) Double.NaN else xs.max)
    else {
      val s = xs.sorted
      val i = s.size - 11
      (i.toDouble / (s.size - 1), s(i))
    }
}
