package graft.streaming

import graft.io.{AtomicParquet, TableLog}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery, Trigger}

/** Streaming restatement of the reference's incremental semantics
  * (SURVEY §2 H): the hourly cron batch IS a micro-batch stream —
  * `foreachBatch` + MERGE is the engine's S1/S2 realization; windowed
  * aggregations and keyed state cover S3–S6.
  */
object StreamingMerge {

  /** Micro-batch upsert: each streaming batch MERGEs into the Parquet
    * master in one [[TableLog]] commit (S7 — the reference's whole-file-
    * rewrite transaction, parse_data.py:222) that records the batch id
    * under `checkpointDir`, so a batch replayed after a crash is skipped.
    */
  def start(batches: DataFrame, masterPath: String,
      checkpointDir: String, seqCol: Option[String] = None): StreamingQuery = {
    batches.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeIntoMaster(batch.sparkSession, batch, masterPath, seqCol,
          Some(checkpointDir -> batchId))
      }
      .start()
  }

  /** One micro-batch merge + atomic publish (callable from batch mode
    * too — the cron-driven E2 entry uses exactly this).
    *
    * @param seqCol optional source column giving the deterministic fold
    *        order for multiple same-key rows inside one micro-batch (the
    *        reference folds listings in scrape order, merge.py:96-99)
    * @param txn the (writer, batch id) applied; a batch at or below the
    *        writer's recorded id is skipped
    *
    * The merge's url fallback reads the micro-batch three times, so it
    * is materialized once: here when `seqCol` is given (the merge then
    * stays lazy), otherwise inside `mergeBatch` with its arrival ids.
    */
  def mergeIntoMaster(spark: SparkSession, batch: DataFrame,
      masterPath: String, seqCol: Option[String] = None,
      txn: Option[(String, Long)] = None): Unit = {
    val replayed = txn.exists { case (writer, id) =>
      TableLog.latest(spark, masterPath).exists(_.txns.get(writer).exists(_ >= id)) }
    if (!replayed) {
      val master = AtomicParquet.read(spark, masterPath, batch)
      val source = if (seqCol.isDefined) graft.ops.Materialize(batch) else batch
      // the commit deletes the master's files only after its entry lands
      val merged = graft.merge.MergeListings.mergeBatch(master, source, seqCol)
      TableLog.commit(spark, masterPath, Map.empty[String, String], txn,
        Seq(TableLog.replace(TableLog.Root, merged)))
    }
  }
}

object StreamOps {

  /** Exactly-once event dedup: duplicate deliveries of the same
    * `event_id` inside the watermark horizon collapse to one row with
    * BOUNDED state — `dropDuplicatesWithinWatermark` evicts seen-keys
    * past the horizon, where plain `dropDuplicates` would grow state
    * forever (the streaming twin of [[graft.ops.Dedup.exactDedup]]). */
  def dedupEvents(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** S-windows: tumbling event-time aggregation with a watermark — the
    * streaming twin of q13's batch rollup. Late rows beyond the
    * watermark are dropped; on-time aggregates finalize per window. */
  def hourlyRollup(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Gap-based sessionization on the NATIVE streaming operator
    * (`session_window`): per user, events closer than `gap` merge into
    * one session; the window's end is last-event + gap. State is one
    * open window per (user, session) and the watermark closes/evicts
    * sessions — the streaming twin of the batch lag+cumsum form (q32),
    * with MICROSECOND gap boundaries (a new session starts when the
    * inter-event gap is ≥ `gap`, strictly-less merges), where the
    * batch twin compares seconds. q75's oracle restates these exact
    * semantics via epoch_us arithmetic. */
  def sessionize(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("session_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"),
        col("session_value"))

  /** Keyed lifecycle state (S2/S4): per key, track last price and last
    * activity; emit a CDC row per state change. Timeout fires an
    * unpublish marker when a key goes quiet — the streaming analog of
    * the batch anti-join J3.
    */
  case class KeyState(lastPrice: Option[Double], lastActive: Long,
      changes: Int)
  case class CdcEvent(key: String, kind: String, price: Option[Double],
      delta: Option[Double], ts: Long)

  /** S4 on EVENT time — the deterministic (and therefore driver-
    * checkable) twin of [[lifecycle]]'s processing-time timeout: a key
    * with no event for `quietMillis` of EVENT time past the watermark is
    * declared unpublished. Under `Trigger.AvailableNow` the final
    * watermark is `max(event ts) - delay`, so which keys time out is a
    * pure function of the data — the oracle restates it as
    * `last_active + quiet < max(ts) - delay` (Spark fires event-time
    * timeouts strictly below the watermark).
    *
    * Input columns: key string, price double, ts timestamp, seq long
    * (tie-break for same-timestamp rows within a key).
    */
  def lifecycleEventTime(input: DataFrame, quietMillis: Long,
      watermarkDelay: String): Dataset[CdcEvent] = {
    import input.sparkSession.implicits._
    input.withWatermark("ts", watermarkDelay)
      .as[(String, Double, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[KeyState, CdcEvent](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (key, rows, state: GroupState[KeyState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(CdcEvent(key, "unpublished", s.lastPrice, None, s.lastActive))
          } else {
            // sort on the FULL timestamp (micros-aware Comparable), not
            // getTime — ms truncation would order sub-ms siblings
            // differently than the oracle's ORDER BY ts, event_id
            val sorted = rows.toSeq.sortBy(r => (r._3, r._4))
            var st = state.getOption.getOrElse(KeyState(None, 0L, 0))
            val out = sorted.flatMap { case (_, price, ts, _) =>
              val t = ts.getTime
              val ev = st.lastPrice match {
                case None =>
                  Some(CdcEvent(key, "insert", Some(price), None, t))
                case Some(p) if p != price =>
                  Some(CdcEvent(key, "price_change", Some(price),
                    Some(price - p), t))
                case _ => None
              }
              // lastActive is monotone: a cross-batch out-of-order (but
              // not watermark-late) event must not pull the timeout
              // horizon backwards and unpublish a key that was active
              st = KeyState(Some(price), math.max(st.lastActive, t),
                st.changes +
                  (if (ev.exists(_.kind == "price_change")) 1 else 0))
              ev
            }
            state.update(st)
            // a timeout timestamp at/below the current watermark throws;
            // clamping (rather than skipping) keeps the key eligible to
            // fire on the very next watermark advance
            state.setTimeoutTimestamp(math.max(st.lastActive + quietMillis,
              state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }
  }

  case class QuotaState(counts: Map[Long, Int])
  case class QuotaOut(user_id: Long, event_id: Long, day: Long,
      seq_in_day: Int, accepted: Boolean)

  /** Stateful per-key quota gate: each user may pass at most
    * `perDay` events per event-time day; the rest are flagged
    * rejected (flagged, not dropped — the downstream sink decides).
    * The rate-limiter shape every ingestion front end needs, run as
    * keyed state (`flatMapGroupsWithState`): the state is the user's
    * per-day counter map, carried ACROSS micro-batches — an event
    * arriving in a later batch continues the day's count where the
    * earlier batch left it (q245 proves this with a two-tick replay).
    *
    * Ordering contract: within one batch a user's events are counted
    * in (ts, event_id) order (the [[lifecycleEventTime]] sort
    * convention); across batches, ARRIVAL order governs — an
    * out-of-order late event consumes quota at its arrival position,
    * not its event-time position (re-ordering history would mean
    * un-rejecting an already-rejected event; document, don't
    * pretend). State stays bounded by pruning day counters older
    * than `retainDays` behind the newest day seen for the key.
    */
  def quotaGate(events: DataFrame, perDay: Int,
      retainDays: Long = 48L): Dataset[QuotaOut] = {
    import events.sparkSession.implicits._
    require(perDay >= 1, s"perDay must be >= 1, got $perDay")
    events
      .selectExpr("user_id", "event_id",
        "CAST(ts AS LONG) div 86400 AS day", "ts")
      .as[(Long, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[QuotaState, QuotaOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[QuotaState]) =>
          val sorted = rows.toSeq.sortBy(r => (r._4, r._2))
          var counts = state.getOption.map(_.counts)
            .getOrElse(Map.empty[Long, Int])
          val out = sorted.map { case (_, eventId, day, _) =>
            val seq = counts.getOrElse(day, 0) + 1
            counts = counts.updated(day, seq)
            QuotaOut(user, eventId, day, seq, seq <= perDay)
          }
          val newest = counts.keys.max
          state.update(QuotaState(
            counts.filter { case (d, _) => d >= newest - retainDays }))
          out.iterator
      }
  }

  case class AsOfState(ts: java.sql.Timestamp, value: Double)
  case class AsOfOut(event_id: Long, user_id: Long,
      ts: java.sql.Timestamp, value: Double,
      asof_ts: Option[java.sql.Timestamp], asof_value: Option[Double])

  /** TRUE stream-STREAM interval join — Spark's symmetric watermarked
    * join (both sides are unbounded streams; each buffers state and
    * probes the other as micro-batches arrive), vs [[asOfJoinStream]]
    * which folds a single tagged stream through keyed state. This is
    * the S-family's missing native operator: attribution joins
    * (click↔purchase within ±N minutes) where BOTH sides keep flowing.
    *
    * Both sides carry a watermark and the join condition carries the
    * time bound — together they let Spark expire buffered rows: a left
    * row older than `rightTs + upper` past the watermark can never
    * match again and is dropped from state (Structured Streaming
    * docs, stream-stream joins). Without the time bound the state
    * grows forever; this operator REQUIRES it by construction.
    *
    * Inner join semantics: matches emit as soon as both rows have
    * arrived — no watermark wait (only outer joins hold rows back), so
    * a single AvailableNow batch over complete inputs reproduces the
    * batch interval join exactly (q207 shares q72's oracle shape).
    *
    * Column names must be disjoint across the two sides (the caller
    * aliases); `keyExpr` is the equi-key condition (e.g.
    * `"user_id = p_user_id"`) — keep it an equality so the join plans
    * as a hash join on the key, never a cross product.
    *
    * THE EQUI-KEY CARRIES A TIME BIN (the batch [[graft.ops
    * .TemporalJoins.rangeJoin]] decomposition applied to the stream):
    * Spark's stream-stream join scans ALL buffered opposite-side rows
    * per equi-key on every probe, so a low-cardinality key (150 users,
    * months of history inside the watermark) degrades to
    * O(|L|·|R| / keys) — measured 175 s of task time at sf0.1 for a
    * ±5-minute window. Binning the left timestamp and exploding each
    * right row into the 2–3 bins its window can touch makes the state
    * key (key, bin): probes scan one bin's worth of rows, output is
    * IDENTICAL (a match lands in exactly the left row's bin; the
    * exact time filter still decides), and the range condition stays
    * in place for watermark state expiry. Same trick, same proof
    * shape as the batch operator's q72 oracle.
    *
    * @return left ⋈ right where keyExpr holds and
    *         leftTs ∈ [rightTs − lowerSec, rightTs + upperSec] */
  def intervalJoinStreams(left: DataFrame, right: DataFrame,
      keyExpr: String, leftTsCol: String, rightTsCol: String,
      lowerSec: Long, upperSec: Long,
      watermark: String = "1 hour"): DataFrame =
    intervalJoin(left, right, keyExpr, leftTsCol, rightTsCol, lowerSec,
      upperSec, watermark, "inner")

  /** LEFT OUTER stream-stream interval join — [[intervalJoinStreams]]
    * plus null-extended rows for left events that never met a match.
    *
    * Outer semantics are where streaming diverges from batch: an
    * unmatched left row can only emit once the watermark PROVES no
    * matching right row can still arrive, so rows younger than
    * (final watermark − window) stay buffered forever under a finite
    * input. The deterministic harness recipe (q267): stage a far-
    * future SENTINEL row on BOTH sides under a join key that matches
    * nothing and a 0-second watermark delay — the trailing no-data
    * micro-batch then advances the global watermark past every real
    * row, flushing ALL real unmatched-left rows exactly once, and the
    * result equals the batch LEFT JOIN (sentinels filtered). A real
    * deployment instead accepts the trailing-window holdback as the
    * price of correctness.
    *
    * The binned state key is safe under LEFT outer: every left row
    * carries exactly ONE bin replica, so the null-extension for an
    * unmatched left row is emitted once (the exploded side is the
    * right/buffered side only — a RIGHT outer over the exploded form
    * would duplicate nulls per replica and is deliberately not
    * offered).
    */
  def intervalJoinStreamsLeftOuter(left: DataFrame, right: DataFrame,
      keyExpr: String, leftTsCol: String, rightTsCol: String,
      lowerSec: Long, upperSec: Long,
      watermark: String = "0 seconds"): DataFrame =
    intervalJoin(left, right, keyExpr, leftTsCol, rightTsCol, lowerSec,
      upperSec, watermark, "left_outer")

  private def intervalJoin(left: DataFrame, right: DataFrame,
      keyExpr: String, leftTsCol: String, rightTsCol: String,
      lowerSec: Long, upperSec: Long, watermark: String,
      joinType: String): DataFrame = {
    require(lowerSec >= 0 && upperSec >= 0,
      s"interval bounds must be >= 0, got $lowerSec/$upperSec")
    require(lowerSec + upperSec >= 1, "window must span at least 1 s")
    val binSec = lowerSec + upperSec
    val l = left.withWatermark(leftTsCol, watermark)
      .withColumn("__lbin",
        expr(s"floor(unix_timestamp($leftTsCol) / $binSec)"))
    val r = right.withWatermark(rightTsCol, watermark)
      .withColumn("__rbin", explode(expr(
        s"""sequence(
           |  floor((unix_timestamp($rightTsCol) - $lowerSec) / $binSec),
           |  floor((unix_timestamp($rightTsCol) + $upperSec) / $binSec))"""
          .stripMargin)))
    l.join(r, expr(
      s"""$keyExpr
         |AND __lbin = __rbin
         |AND $leftTsCol >= $rightTsCol - INTERVAL $lowerSec SECONDS
         |AND $leftTsCol <= $rightTsCol + INTERVAL $upperSec SECONDS"""
        .stripMargin), joinType)
      .drop("__lbin", "__rbin")
  }

  /** Streaming twin of [[graft.ops.TemporalJoins.asOfJoin]] — the
    * `mapGroupsWithState` form its scaladoc names: per key the state is
    * the latest right-side (ts, value) seen so far, and every left row
    * emits with the payload AS OF its own timestamp. Within a
    * micro-batch the group's rows sort by (ts, side, value, id) — right
    * before left at equal ts, max value winning a right-side tie — so a
    * single-batch run (AvailableNow over one file, q93) is EXACTLY the
    * batch operator / DuckDB ASOF JOIN. Across batches the usual
    * streaming as-of caveat applies (Flink's temporal join has the
    * same): a right row arriving after a left row already emitted is
    * not retroactively applied — exactness requires per-key event-time
    * order across batch boundaries.
    *
    * State is ONE small struct per key (bounded, like [[lifecycle]]);
    * per-batch group sort materializes only that key's batch slice.
    *
    * @param tagged single input stream with columns
    *        (side int — 0 right / 1 left, event_id long, user_id long,
    *        ts timestamp, value double)
    */
  def asOfJoinStream(tagged: DataFrame): Dataset[AsOfOut] = {
    import tagged.sparkSession.implicits._
    tagged.as[(Int, Long, Long, java.sql.Timestamp, Double)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[AsOfState, AsOfOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[AsOfState]) =>
          // full-Timestamp sort (micros-aware), right side first at
          // equal ts, value then id as deterministic tie-breaks
          val sorted = rows.toSeq.sortBy(r => (r._4, r._1, r._5, r._2))
          var st: Option[AsOfState] = state.getOption
          val out = Vector.newBuilder[AsOfOut]
          sorted.foreach { case (side, eid, _, ts, v) =>
            if (side == 0) {
              // newer-or-equal wins: ascending (ts, value) order makes
              // the max-value right row win an equal-ts tie, matching
              // the batch operator's max-payload-struct rule
              if (st.forall(s => !ts.before(s.ts))) st = Some(AsOfState(ts, v))
            } else {
              out += AsOfOut(eid, key, ts, v, st.map(_.ts), st.map(_.value))
            }
          }
          st.foreach(state.update)
          out.result().iterator
      }
  }

  /** @param quietMillis idle period after which a key is declared
    *        unpublished; ≤ 0 disables the timeout (NB: a processing-time
    *        timeout keeps the query triggering forever, which also makes
    *        `processAllAvailable` in tests never settle). */
  def lifecycle(input: Dataset[(String, Double, Long)],
      quietMillis: Long): Dataset[CdcEvent] = {
    import input.sparkSession.implicits._
    val timeoutMode =
      if (quietMillis > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    input.groupByKey(_._1)
      .flatMapGroupsWithState[KeyState, CdcEvent](
        OutputMode.Append(), timeoutMode) {
        case (key, rows, state: GroupState[KeyState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(CdcEvent(key, "unpublished", s.lastPrice, None, s.lastActive))
          } else {
            val sorted = rows.toSeq.sortBy(_._3)
            var st = state.getOption.getOrElse(KeyState(None, 0L, 0))
            val out = sorted.flatMap { case (_, price, ts) =>
              val ev = st.lastPrice match {
                case None =>
                  Some(CdcEvent(key, "insert", Some(price), None, ts))
                case Some(p) if p != price =>
                  Some(CdcEvent(key, "price_change", Some(price),
                    Some(price - p), ts))
                case _ => None
              }
              st = KeyState(Some(price), ts, st.changes +
                (if (ev.exists(_.kind == "price_change")) 1 else 0))
              ev
            }
            state.update(st)
            if (quietMillis > 0) state.setTimeoutDuration(quietMillis)
            out.iterator
          }
      }
  }

  /** Streaming NEAR-DEDUP against the trained corpus — the incremental
    * ingest gate: each micro-batch of incoming documents runs the
    * proven batch cross-corpus LSH pipeline (MinHash signatures →
    * banded candidates → estimate prefilter → exact gram verify)
    * against a [[graft.ops.Dedup.CorpusIndex]] prepared ONCE — the
    * old side's grams/signatures/buckets never recompute across
    * batches, which is the whole point of indexing the corpus.
    *
    * `foreachBatch`, not a stream-static join chain: the per-batch work
    * is a multi-join batch plan whose candidate step must NOT carry
    * signatures through the band explode (the batch operator's
    * documented shuffle-volume rule), and foreachBatch hands each batch
    * to exactly that plan — streaming semantics stay at the
    * micro-batch boundary (S1), the operator semantics are the batch
    * operator's verbatim (q100 proves single-batch output == q77's
    * batch pairs). Matches are appended as parquet per batch; a doc
    * with no near-dup in the corpus simply emits nothing.
    */
  def nearDupAgainstCorpusStream(stream: DataFrame,
      index: graft.ops.Dedup.CorpusIndex, textCol: String, tau: Double,
      outPath: String, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.Dedup.crossCorpusAgainstIndex(batch, index, textCol, tau)
          .write.mode("append").parquet(outPath)
      }
      .start()

  /** STREAMING exact-size uniform sample —
    * [[graft.ops.Sampling.sampleExact]] maintained incrementally over
    * micro-batches: the published table always holds the n lowest
    * (md5-60(key ‖ seed), key) rows seen so far. Min-n by a total
    * order is associative and commutative, so the state equals the
    * batch operator over the union of everything delivered REGARDLESS
    * of how the stream was split into batches or runs (q163 proves the
    * two-tick delivery against q90's batch construction), and the
    * state is SAMPLE-SIZED — n rows per publish, never corpus-sized:
    * the reservoir property that makes a fixed eval draw maintainable
    * at ingest time. Each batch unions the published sample with the
    * new rows' hashes, drops redelivered keys (hash is a function of
    * the key, so a duplicate delivery can never displace a distinct
    * row), and republishes the n lowest through [[AtomicParquet]] (S7:
    * a crash mid-publish leaves the previous sample readable). The
    * n-sized sort-limit is a TakeOrdered — no global sort shuffle.
    */
  def sampleExactStream(stream: DataFrame, keyCol: String, n: Long,
      seed: String, samplePath: String,
      checkpointDir: String): StreamingQuery = {
    require(n >= 1 && n <= Int.MaxValue, s"n must be in [1, 2^31), got $n")
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val hashed = batch.withColumn("__r",
          graft.ops.Dedup.md5Hash60(concat(
            col(keyCol).cast("string"), lit(seed))))
        val prev = AtomicParquet.read(spark, samplePath, hashed)
        AtomicParquet.publish(
          prev.unionByName(hashed)
            .dropDuplicates(keyCol)
            .orderBy(col("__r").asc, col(keyCol).asc).limit(n.toInt),
          samplePath)
      }
      .start()
  }
}
