package pipebench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Flatten, Normalize}
import graft.io.AtomicParquet
import graft.merge.MergeListings
import graft.ops.Dedup
import graft.pipeline.{Pipeline, RawPage}

/** A workload: the input stream's shape and what each hour runs.
  *  - `pipeline`: parse → flatten → normalize → MERGE → publish → views;
  *  - `dedup`: the batch's listings are deduplicated against the
  *    persisted prefix index and span-gram state;
  *  - `seedRows` > 0 grows the master to about that many rows in set-up;
  *  - `backfill`: one big batch, replayed into a fresh master per sample;
  *  - `warmHours` run in set-up; a run measures at least `minHours`.
  */
final case class Workload(name: String, shape: Shape, pipeline: Boolean = true,
    dedup: Boolean = false, seedRows: Int = 0, backfill: Boolean = false,
    warmHours: Int = 2, minHours: Int = 1)

object Workload {
  val all: Seq[Workload] = Seq(
    Workload("hourly", Shape.hourly),
    // two measured ticks: one span-state append and one compaction
    Workload("dedup_ticks", Shape.feed, pipeline = false, dedup = true, minHours = 2),
    // heavier workloads for scaling studies; a run exceeds a minute
    Workload("big_master", Shape.hourly, seedRows = 150000),
    Workload("backfill", Shape.backfill, backfill = true, warmHours = 1))
}

/** Where one run's state lives. */
final case class Store(root: String) {
  val master = s"$root/master"
  val views = s"$root/views"
  val index = s"$root/dedup_index"
  val spans = s"$root/dedup_spans"
}

/** Per-layer figures of one traced batch (seconds, counts). */
final class BatchTrace {
  val wall = mutable.LinkedHashMap.empty[String, Double]
  val count = mutable.LinkedHashMap.empty[String, Double]
  def addWall(k: String, s: Double): Unit = wall(k) = wall.getOrElse(k, 0.0) + s
}

/** Drives the layers for one workload and keeps its ground truth. */
final class Runner(spark: SparkSession, wl: Workload, seed: Long, root: String) {
  import spark.implicits._

  /** Span-gram anchor length, and the delta-file count above which an
    * append compacts: 1, so every other tick compacts and each run
    * measures at least one compaction. */
  val SpanL = 8
  val CompactAt = 1

  val store = Store(root)
  val gen = new Gen(seed, wl.shape)
  val truth = new Truth
  val pairs = mutable.LinkedHashSet.empty[(Long, Long)]
  var compactions = 0
  var spanAnchors = 0L
  private var backfillBatch: Batch = _
  /** On-disk bytes of the store after the first hour past set-up: a
    * fixed point of the stream, so a faster program that gets through
    * more hours in a run does not read as a bigger store. */
  var storeBytes = 0L

  private val base = java.time.LocalDateTime.of(2026, 8, 12, 0, 0)
  private def asOfStr(hour: Int): String = base.plusHours(hour.toLong)
    .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))

  private def layer[T](name: String, tr: Option[BatchTrace])(body: => T): T =
    tr match {
      case None => body
      case Some(t) =>
        val (out, s) = Layers.timed(spark, name)(body)
        t.addWall(name, s)
        out
    }

  /** The next hour's input, folded into the ground truth. */
  def nextBatch(): Batch =
    if (wl.backfill) backfillBatch
    else {
      val b = gen.next()
      if (wl.pipeline) truth(b)
      if (wl.dedup) truth.dedup(b, gen, SpanL)
      b
    }

  /** Set-up: seed the store and run the first hours as the warm-up.
    * Returns the warm-up hours' wall seconds. */
  def setup(): Seq[Double] = {
    Files.delete(new File(root))
    if (wl.backfill) {
      backfillBatch = gen.next()
      truth(backfillBatch)
    }
    if (wl.seedRows > 0) seedMaster()
    val warm = (0 until wl.warmHours).map { _ =>
      val t0 = System.nanoTime()
      batch(nextBatch(), None)
      (System.nanoTime() - t0) / 1e9
    }
    storeBytes = -1L // taken after the next hour
    warm
  }

  /** One hour. With a trace, each layer's output is forced at its
    * boundary and its jobs are attributed to it. */
  def batch(b: Batch, tr: Option[BatchTrace]): Unit = {
    val ts = asOfStr(b.hour)
    val pages = pagesOf(b)
    if (wl.dedup) dedupTick(parse(pages, ts, tr), tr)
    if (wl.pipeline) hour(pages, ts, tr)
    if (storeBytes < 0) storeBytes = Files.bytes(new File(root))
  }

  private def pagesOf(b: Batch): Dataset[RawPage] =
    spark.createDataset(b.pages.map { case (u, h) => RawPage(u, h) })

  /** The `parse` layer as its own step (traced hours only need it split
    * out; the plain hourly job fuses it into `processBatch`). */
  private def parse(pages: Dataset[RawPage], ts: String,
      tr: Option[BatchTrace]): DataFrame = tr match {
    case None => Pipeline.filterParsed(Pipeline.parsePages(spark, pages, ts))
    case Some(t) =>
      val raw = layer("parse", tr) { Pipeline.parsePages(spark, pages, ts).localCheckpoint() }
      val kept = layer("parse", tr) { Pipeline.filterParsed(raw).localCheckpoint() }
      Layers.timed(spark, "trace") {
        t.count("parse.rows_in") = raw.count().toDouble
        t.count("parse.rows_kept") = kept.count().toDouble
      }
      kept
  }

  /** The hourly job as `graft.Main` runs it: read the master, parse →
    * flatten → normalize → MERGE, publish, write both CSV views. */
  private def hour(pages: Dataset[RawPage], ts: String,
      tr: Option[BatchTrace]): Unit = {
    val asOf = lit(ts).cast("timestamp")
    if (wl.backfill) { // every sample starts from an empty master
      AtomicParquet.recover(spark, store.master)
      Files.delete(new File(store.master))
    }
    val master = layer("publish", tr) {
      AtomicParquet.read(spark, store.master, Pipeline.emptyMaster(spark))
    }
    tr match {
      case None =>
        AtomicParquet.publish(
          Pipeline.processBatch(spark, master, pages, asOf, ts), store.master)
      case Some(t) =>
        val norm = layer("etl", tr) {
          Normalize(Flatten(parse(pages, ts, tr)), asOf).localCheckpoint() }
        val (merged, buildS) = Layers.timed(spark, "merge") {
          MergeListings.mergeBatch(master, norm.unionByName(
            Pipeline.missingAsUnpublished(master, norm), allowMissingColumns = true))
        }
        val (_, planS) = Layers.timed(spark, "merge")(merged.queryExecution.executedPlan)
        t.wall("merge.build") = buildS
        t.wall("merge.plan") = planS
        t.addWall("merge", buildS + planS)
        val mergedCk = layer("merge", tr) { merged.localCheckpoint() }
        // counting jobs the trace adds, kept out of every layer
        Layers.timed(spark, "trace") {
          val masterRows = master.count()
          val mergedRows = mergedCk.count()
          val inserted = mergedRows - masterRows
          val batchKeys = norm.filter($"offer_id".isNotNull)
            .select("offer_id").distinct().count()
          t.count("merge.rows_inserted") = inserted.toDouble
          t.count("merge.rows_matched") = (batchKeys - inserted).toDouble
          t.count("merge.unpublish_markers") =
            Pipeline.missingAsUnpublished(master, norm).count().toDouble
          t.count("publish.master_rows") = mergedRows.toDouble
        }
        layer("publish", tr) { AtomicParquet.publish(mergedCk, store.master) }
    }
    layer("views", tr) {
      val published = spark.read.parquet(store.master)
      Pipeline.writeCsv(published, s"${store.views}/combined_data")
      Pipeline.writeCsv(Pipeline.dashboardView(published, asOf),
        s"${store.views}/combined_data_filtered")
    }
  }

  /** The `dedup` layer for one hour: the batch's listings are paired
    * against the persisted prefix index and folded into it, then their
    * span-gram counts are appended to the persisted state and the state
    * is read back. The first hour builds both; its span state is written
    * as two appends, so the next hour's append already compacts. */
  private def dedupTick(kept: DataFrame, tr: Option[BatchTrace]): Unit = {
    val docs = layer("dedup.index", tr) {
      kept.filter($"offer_id".isNotNull)
        .select($"offer_id".cast("long").as("doc_id"), $"description".as("text"))
        .localCheckpoint()
    }
    val first = !AtomicParquet.exists(spark, store.index)
    layer("dedup.index", tr) {
      if (first)
        Dedup.writePrefixIndex(
          Dedup.indexCorpusPrefix(docs, "doc_id", "text"), store.index)
      else
        pairs ++= Dedup.dedupAndMergePrefixIndexDir(spark, store.index, docs, "text")
          .select($"id_new", $"id_old").as[(Long, Long)].collect()
    }
    layer("dedup.spans", tr) {
      val deltas =
        if (first) Seq(docs.filter($"doc_id" % 2 === 0), docs.filter($"doc_id" % 2 =!= 0))
        else Seq(docs)
      for (d <- deltas) {
        val before = Files.count(new File(s"${store.spans}/state"))
        Dedup.appendSpanGramState(
          Dedup.spanGramState(d, "doc_id", "text", SpanL), store.spans, CompactAt)
        if (Files.count(new File(s"${store.spans}/state")) < before) compactions += 1
      }
      spanAnchors = Dedup.readSpanGramState(spark, store.spans).df
        .agg(coalesce(sum($"__n"), lit(0L))).as[Long].head()
    }
  }

  /** Grow the master to `seedRows` rows: one real hour through the
    * pipeline, then its rows replicated under fresh keys as listings
    * that have left the search (the unpublished history). */
  private def seedMaster(): Unit = {
    val h = new Gen(seed ^ 0x5eedL, wl.shape, keyBase = 100000000L).next()
    val tmp = s"$root/seed_template"
    AtomicParquet.publish(Pipeline.processBatch(spark, Pipeline.emptyMaster(spark),
      pagesOf(h), lit(asOfStr(0)).cast("timestamp"), asOfStr(0)), tmp)
    val keys = h.cards.flatMap(c => c.key.map(_ -> c.price))
    val copies = (wl.seedRows + keys.size - 1) / keys.size
    val stride = 1000000L
    AtomicParquet.publish(spark.read.parquet(tmp)
      .crossJoin(spark.range(copies).withColumnRenamed("id", "__c"))
      .withColumn("offer_id", ($"offer_id".cast("long") + $"__c" * stride).cast("string"))
      .withColumn("offer_url", concat(lit("https://www.cian.ru/rent/flat/"), $"offer_id"))
      .withColumn("is_unpublished", lit(true))
      .withColumn("status", lit("non active"))
      .drop("__c"), store.master)
    Files.delete(new File(tmp))
    for ((k, price) <- keys; i <- 0 until copies)
      truth.keys(k + i * stride) = new KeyTruth(price, 0L, true)
  }
}

object Files {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** Data files under `f` (Spark's `_SUCCESS` and `.crc` files excluded). */
  def count(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(count).sum).getOrElse(0L)
    else if (!f.isFile || f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else 1L

  def bytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)
    else f.length()
}
