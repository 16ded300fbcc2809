package graft.queries


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.streaming.{StreamingMerge, StreamOps}

/** Driver-visible exercise of the Structured Streaming layer (SURVEY §2
  * S1–S7): these queries run REAL streaming plans — `readStream` file
  * source → `Trigger.AvailableNow` → `foreachBatch` MERGE + atomic
  * publish / watermarked window aggregation — and surface the result as
  * a batch DataFrame the DuckDB oracle can restate.
  *
  * The reference's hourly cron run IS one micro-batch (scrape_and_
  * process.sh:1-24 + parse_data.py:213-233): each q41 streaming run
  * consumes the files that appeared since the last checkpoint, merges
  * them into the parquet master, and commits it atomically — two runs here
  * reproduce two cron ticks, so the matched-row merge rules fire
  * cross-batch exactly as in q38's fold restatement.
  */
object StreamingQueries extends QueryModule {

  /** Per-invocation scratch root (unique dir under java.io.tmpdir,
    * deleted at JVM exit; the file-source checkpoint, input files, and
    * master live beneath it). */
  private def scratch(): String = graft.io.Scratch.dir("graft-stream-")

  /** Stage-once input staging (r7 brief item 3): the input parquet a
    * harness query feeds its stream is deterministic per (query, sf),
    * but staging it — read table → filter → coalesce(1) → write —
    * runs several Spark jobs inside query CONSTRUCTION, so the
    * bench's warm/warm/timed triple paid it three times per query and
    * it dominated the streaming family's build_sec. [[graft.io.Scratch.staged]]
    * memoizes the staged dir per JVM; invocations after the first
    * reuse it read-only (checkpoints/sinks/masters stay fresh — only
    * the immutable input files are shared). Multi-tick queries stage
    * each tick's file in a subdir and DELIVER it (a local file copy)
    * into the per-invocation watched dir, preserving the
    * files-appear-between-runs shape the shared checkpoint tests. */
  private def staged(tag: String, d: String)(write: String => Unit): String =
    graft.io.Scratch.staged(tag, d)(write)

  /** Scoped shuffle/state partition count for the harness streams (r9
    * brief item 4, generalizing q207's fix): a stateful streaming run
    * creates one state-store partition per shuffle partition, and the
    * count is frozen into the checkpoint at the FIRST batch — at the
    * session default of 32, every harness tick paid 32 state-store
    * inits + 32 tasks per stateful stage for inputs of a few thousand
    * rows, and that setup dominated the family's build_sec. Scope it
    * to 4 for the duration of one harness query and restore after
    * (measured at sf0.1: the 13-query stateful family summed 22.3 s at
    * 8 partitions, 19.2 s at 4 — the per-store near-constant overhead
    * q207 first measured keeps paying down; 4 still exercises real
    * multi-partition state). Results are partition-count invariant
    * (exact aggregations / dedups / folds — the driver oracle
    * re-checks every row), so this is pure overhead removal; a real
    * deployment sizes the conf to its key cardinality instead. */
  private def withHarnessPartitions[T](s: SparkSession)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Shared even/odd-by-event_id staging of the events table (r9 brief
    * item 4): q222 and q245 tick the SAME parity split with different
    * column subsets, so they share ONE staged superset and each
    * readStream prunes to its own schema (parquet reads by name). */
  private def eventsParitySplit(s: SparkSession, d: String): String =
    staged("evsplit", d) { dir =>
      val e = Tables.events(s, d)
        .select(col("ts"), col("user_id"), col("event_id"),
          col("event_type"), col("value"))
      e.filter(col("event_id") % 2 === 0)
        .coalesce(1).write.parquet(s"$dir/t0")
      e.filter(col("event_id") % 2 === 1)
        .coalesce(1).write.parquet(s"$dir/t1")
    }

  /** q100's persisted old-corpus index, memoized per (live session,
    * sf) — see the in-query note. [[SessionMemo]] since r14 (the
    * identityHashCode-keyed map leaked dead sessions' checkpointed
    * frames and could collide — see its scaladoc). */
  private val indexMemo = new SessionMemo[graft.ops.Dedup.CorpusIndex]

  val queries: Seq[Q] = Seq(
    // ---- S1/S2/S5/S6/S7 + J1/R-rules through the real streaming path:
    // events (a deterministic 1-in-7 user subset) split by event_id
    // parity into two "cron ticks"; each tick is delivered as a parquet
    // file into a watched directory and processed by an AvailableNow run
    // with a shared checkpoint — run 2 sees ONLY the new file, so its
    // rows hit a populated master (the matched-row branch). The final
    // master must equal q38's batch fold of the same rows.
    Q(
      "q41_streaming_merge",
      (s, d) => withHarnessPartitions(s) {
        val src = staged("q41", d) { dir =>
          val ev = Tables.events(s, d)
            .filter(col("user_id") % 7 === 0)
            .select(
              col("user_id").cast("string").as("offer_id"),
              date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")
                .as("updated_date"),
              col("value").as("price_value"),
              (col("event_type") === "error").as("is_unpublished"),
              concat(lit("d-"), col("event_id").cast("string"))
                .as("description"),
              col("event_id"))
          ev.filter(col("event_id") % 2 === 0)
            .coalesce(1).write.parquet(s"$dir/t0")
          ev.filter(col("event_id") % 2 === 1)
            .coalesce(1).write.parquet(s"$dir/t1")
        }
        val schema = s.read.parquet(s"$src/t0").schema
        val root = scratch()
        val inDir = s"$root/in"
        val masterPath = s"$root/master"
        val ckpt = s"$root/ckpt"

        def tick(tickDir: String): Unit = {
          graft.io.Scratch.deliver(tickDir, inDir)
          val stream = s.readStream.schema(schema).parquet(inDir)
          StreamingMerge.start(stream, masterPath, ckpt, Some("event_id"))
            .awaitTermination()
        }
        tick(s"$src/t0")
        tick(s"$src/t1")

        s.read.parquet(masterPath).select(
          col("offer_id").cast("long").as("user_id"),
          col("price_value"),
          col("publication_date"),
          col("last_active"),
          col("is_unpublished"),
          col("unpublished_date"),
          col("description"),
          col("total_price_changes"),
          col("price_change_value"),
          col("price_change_date"),
          col("price_changes"),
          col("price_changes_dates"))
      },
      // Same window-function restatement as q38, restricted to the 1-in-7
      // user subset the streaming run consumed.
      Some("""WITH src AS (
             |  SELECT user_id, event_id, value,
             |    strftime(ts, '%Y-%m-%d %H:%M:%S') AS tss,
             |    (event_type = 'error') AS unpub,
             |    'd-' || CAST(event_id AS VARCHAR) AS descr,
             |    event_id % 2 AS batch
             |  FROM events WHERE user_id % 7 = 0
             |), ordered AS (
             |  SELECT *, row_number() OVER w AS rn,
             |    lag(value) OVER w AS prev_value,
             |    lag(unpub) OVER w AS prev_unpub
             |  FROM src WINDOW w AS (PARTITION BY user_id ORDER BY batch, event_id)
             |), flags AS (
             |  SELECT *,
             |    (rn > 1 AND unpub AND NOT prev_unpub) AS transition,
             |    (rn > 1 AND NOT (unpub AND NOT prev_unpub)
             |       AND value <> prev_value) AS price_changed,
             |    CAST(trunc(value) AS BIGINT) - CAST(trunc(prev_value) AS BIGINT) AS delta
             |  FROM ordered
             |), per_user AS (
             |  SELECT user_id,
             |    max_by(value, rn) AS price_value,
             |    min_by(tss, rn) AS publication_date,
             |    max_by(tss, rn) AS last_active,
             |    max_by(unpub, rn) AS is_unpublished,
             |    max_by(tss, rn) FILTER (WHERE transition) AS unpublished_date,
             |    max_by(descr, rn) FILTER (WHERE NOT unpub OR rn = 1) AS description
             |  FROM flags GROUP BY user_id
             |), cdc AS (
             |  SELECT user_id,
             |    count(*) AS total_price_changes,
             |    max_by(delta, rn) AS price_change_value,
             |    max_by(tss, rn) AS price_change_date,
             |    string_agg(CAST(delta AS VARCHAR), ', ' ORDER BY rn) AS price_changes,
             |    string_agg(tss, ', ' ORDER BY rn) AS price_changes_dates
             |  FROM flags WHERE price_changed GROUP BY user_id
             |)
             |SELECT p.user_id, p.price_value, p.publication_date, p.last_active,
             |  p.is_unpublished, p.unpublished_date, p.description,
             |  c.total_price_changes, c.price_change_value, c.price_change_date,
             |  c.price_changes, c.price_changes_dates
             |FROM per_user p LEFT JOIN cdc c ON p.user_id = c.user_id""".stripMargin),
    ),

    // ---- S3 event-time windows through the real streaming path: the
    // watermarked tumbling rollup (StreamOps.hourlyRollup) driven by a
    // file-source stream in Update mode into a memory sink. One
    // AvailableNow batch → every window is emitted exactly once, so the
    // sink contents equal q13's batch rollup and share its oracle.
    Q(
      "q42_streaming_rollup",
      (s, d) => withHarnessPartitions(s) {
        val root = scratch()
        val ev = Tables.events(s, d).select(col("ts"), col("event_type"),
          col("value"))
        // write targets a SUBPATH of the staged root: the root itself
        // already exists (createTempDirectory), and Spark's
        // ErrorIfExists save mode refuses an existing path
        val inDir = staged("q42", d)(r => ev.write.parquet(s"$r/in")) + "/in"
        val sinkTable = "graft_stream_rollup_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        val q = StreamOps
          .hourlyRollup(s.readStream.schema(ev.schema).parquet(inDir))
          .writeStream
          .outputMode("update")
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .format("memory")
          .queryName(sinkTable)
          .start()
        q.awaitTermination()
        s.table(sinkTable).select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"), col("n"),
          col("total_value").cast("double").as("total_value"))
      },
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
             |  event_type,
             |  count(*) AS n,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
             |FROM events GROUP BY 1, 2""".stripMargin),
    ),

    // ---- native streaming session windows (S3 extension): one
    // AvailableNow run through the real session_window operator. The
    // operator only supports APPEND mode — a session emits when the
    // watermark passes its end — so a sentinel event (user −1, far
    // future) pushes the final watermark past every real session's
    // end and Spark's closing no-data batch flushes them all; the
    // sentinel's own never-closable session is filtered out. The
    // DuckDB oracle restates session_window's exact micro-precision
    // semantics (new session when gap ≥ 30 min; end = last event +
    // gap) from first principles over the same events.
    Q(
      "q75_streaming_sessionize",
      (s, d) => withHarnessPartitions(s) {
        val root = scratch()
        val ev = Tables.events(s, d).select(col("ts"), col("user_id"),
          col("value"))
        val inDir = staged("q75", d) { dir =>
          val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
          val sentinel = s.range(1).select(
            lit(new java.sql.Timestamp(
              maxTs.getTime + 10L * 24 * 3600 * 1000)).as("ts"),
            lit(-1L).as("user_id"), lit(0.0).as("value"))
          ev.unionByName(sentinel).coalesce(1).write.parquet(s"$dir/in")
        } + "/in"
        val sinkTable = "graft_stream_sessions_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        val q = StreamOps
          .sessionize(s.readStream.schema(ev.schema).parquet(inDir))
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .format("memory")
          .queryName(sinkTable)
          .start()
        q.awaitTermination()
        s.table(sinkTable).filter(col("user_id") =!= -1L)
          .select(col("user_id"),
            date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss")
              .as("session_start"),
            date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss")
              .as("session_end"),
            col("n_events"),
            col("session_value").cast("double").as("session_value"))
      },
      Some("""WITH marked AS (
             |  SELECT user_id, ts, value,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
             |         THEN 1 ELSE 0 END AS new_session
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
             |), s AS (
             |  SELECT *, sum(new_session) OVER (
             |    PARTITION BY user_id ORDER BY ts
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM marked
             |)
             |SELECT user_id,
             |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
             |  strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
             |    AS session_end,
             |  count(*) AS n_events,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             |    AS session_value
             |FROM s GROUP BY user_id, sid""".stripMargin),
    ),

    // ---- streaming exactly-once dedup: the events table delivered
    // TWICE into the watched directory (duplicate delivery), collapsed
    // by dropDuplicatesWithinWatermark — output must equal the original
    // table exactly once.
    Q(
      "q53_streaming_dedup",
      (s, d) => withHarnessPartitions(s) {
        val root = scratch()
        val ev = Tables.events(s, d).select(col("event_id"),
          col("user_id"), col("ts"), col("value"))
        val inDir = staged("q53", d) { r =>
          ev.write.mode("append").parquet(s"$r/in")
          ev.write.mode("append").parquet(s"$r/in") // duplicate delivery
        } + "/in"
        val sink = "graft_stream_dedup_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        val q = StreamOps
          .dedupEvents(s.readStream.schema(ev.schema).parquet(inDir))
          .select(col("event_id"), col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("tss"),
            col("value"))
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .format("memory")
          .queryName(sink)
          .start()
        q.awaitTermination()
        s.table(sink)
      },
      Some("""SELECT event_id, user_id,
             |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS tss, value
             |FROM events""".stripMargin),
    ),

    // ---- S4 timeout unpublish through the real streaming path, on
    // EVENT time so the driver can check it: keys quiet for >7 event-
    // time days before the final watermark (max ts - 1h) emit an
    // 'unpublished' CDC row from the state timeout callback — the
    // streaming analog of the batch anti-join J3, deterministic because
    // every clock in it is data-derived. CDC inserts/price changes ride
    // along, so one oracle pins both the state machine and the timeout.
    Q(
      "q58_streaming_timeout_unpublish",
      (s, d) => withHarnessPartitions(s) {
        val root = scratch()
        val quiet = 7L * 24 * 3600 * 1000
        // 1-in-37 events per 1-in-5 user: ~2 events/key, so SOME keys'
        // last activity predates the quiet horizon (timeout branch
        // fires) and some don't (state survives) — both branches of the
        // timeout state machine land in the oracle compare
        val ev = Tables.events(s, d)
          .filter(col("user_id") % 5 === 0 && col("event_id") % 37 === 0)
          .select(col("user_id").cast("string").as("key"),
            col("value").as("price"), col("ts"),
            col("event_id").as("seq"))
        val inDir = staged("q58", d)(r =>
          ev.coalesce(1).write.parquet(s"$r/in")) + "/in"
        val sink = "graft_stream_timeout_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        val q = StreamOps.lifecycleEventTime(
            s.readStream.schema(ev.schema).parquet(inDir),
            quietMillis = quiet, watermarkDelay = "1 hour")
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .format("memory")
          .queryName(sink)
          .start()
        q.awaitTermination()
        s.table(sink).select(
          col("key").cast("long").as("user_id"), col("kind"),
          col("price"), col("delta"), col("ts").as("ts_ms"))
      },
      Some("""WITH src AS (
             |  SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts
             |  FROM events WHERE user_id % 5 = 0 AND event_id % 37 = 0
             |), ordered AS (
             |  SELECT *, row_number() OVER w AS rn,
             |    count(*) OVER (PARTITION BY user_id) AS cnt,
             |    lag(value) OVER w AS prev_value
             |  FROM src WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |), cdc AS (
             |  SELECT user_id, 'insert' AS kind, value AS price,
             |    CAST(NULL AS DOUBLE) AS delta,
             |    CAST(epoch_ms(ts) AS BIGINT) AS ts_ms
             |  FROM ordered WHERE rn = 1
             |  UNION ALL
             |  SELECT user_id, 'price_change', value, value - prev_value,
             |    CAST(epoch_ms(ts) AS BIGINT)
             |  FROM ordered WHERE rn > 1 AND value <> prev_value
             |), last AS (
             |  SELECT user_id, value AS price,
             |    CAST(epoch_ms(ts) AS BIGINT) AS last_ms
             |  FROM ordered WHERE rn = cnt
             |), wm AS (
             |  SELECT max(epoch_ms(ts)) - 3600000 AS w FROM src
             |)
             |SELECT user_id, kind, price, delta, ts_ms FROM cdc
             |UNION ALL
             |SELECT l.user_id, 'unpublished', l.price,
             |  CAST(NULL AS DOUBLE), l.last_ms
             |FROM last l, wm WHERE l.last_ms + 604800000 < wm.w""".stripMargin),
    ),

    // ---- streaming as-of join (the mapGroupsWithState twin
    // TemporalJoins.asOfJoin's scaladoc names): one AvailableNow batch
    // over a single tagged file — exactly the batch operator's
    // semantics, so it shares q71's framing and its DuckDB ASOF JOIN
    // oracle (an independent sorted-merge implementation).
    Q(
      "q93_streaming_asof",
      (s, d) => withHarnessPartitions(s) {
        val root = scratch()
        val ev = Tables.events(s, d)
        val left = ev.filter(col("event_type") =!= "purchase")
          .select(lit(1).as("side"), col("event_id"), col("user_id"),
            col("ts"), col("value"))
        val right = ev.filter(col("event_type") === "purchase")
          .select(lit(0).as("side"), lit(0L).as("event_id"),
            col("user_id"), col("ts"), col("value"))
        // ONE file → one micro-batch → exact single-batch semantics
        val inDir = staged("q93", d)(r =>
          left.unionByName(right).coalesce(1).write.parquet(s"$r/in")
        ) + "/in"
        val sinkTable = "graft_stream_asof_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        val q = StreamOps
          .asOfJoinStream(s.readStream.schema(
            left.schema).parquet(inDir))
          .toDF()
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .format("memory")
          .queryName(sinkTable)
          .start()
        q.awaitTermination()
        s.table(sinkTable).select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
          col("value"),
          date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss").as("asof_ts"),
          col("asof_value"))
      },
      Some("""WITH r AS (
             |  SELECT user_id, ts, value FROM events
             |  WHERE event_type = 'purchase'
             |), l AS (
             |  SELECT event_id, user_id, ts, value FROM events
             |  WHERE event_type <> 'purchase'
             |)
             |SELECT l.event_id, l.user_id,
             |  strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS ts,
             |  l.value,
             |  strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS asof_ts,
             |  r.value AS asof_value
             |FROM l ASOF LEFT JOIN r
             |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin),
    ),

    // ---- streaming cross-corpus near-dedup: the incremental ingest
    // gate. The already-trained corpus (doc_id % 3 != 0) is indexed
    // ONCE (grams + signatures + band buckets); the incoming batch
    // (doc_id % 3 == 0) arrives as one file → one AvailableNow
    // micro-batch whose foreachBatch runs the batch cross-corpus
    // operator against the index. Single-batch output == q77's batch
    // pairs, so it shares q77's brute-force DuckDB oracle verbatim.
    Q(
      "q100_streaming_cross_dedup",
      (s, d) => withHarnessPartitions(s) {
        val root = scratch()
        val outDir = s"$root/out"
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        // the index is the PERSISTED side of the operator — its own
        // contract is "build once, run every incoming batch against
        // it" — so it memoizes alongside the staged input (keyed per
        // LIVE session: a memoized index holds materialized RDD blocks
        // that die with their SparkContext)
        val index = indexMemo.getOrCompute(s, d)(
          graft.ops.Dedup.indexCorpus(
            docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", n = 3))
        val inDir = staged("q100", d)(r =>
          docs.filter(col("doc_id") % 3 === 0)
            .coalesce(1).write.parquet(s"$r/in")) + "/in"
        val q = StreamOps.nearDupAgainstCorpusStream(
          s.readStream.schema(docs.schema).parquet(inDir),
          index, "text", tau = 0.5, outDir, s"$root/ckpt")
        q.awaitTermination()
        s.read.parquet(outDir)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
             |), g AS MATERIALIZED (
             |  SELECT doc_id, list_distinct(
             |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS t
             |  FROM toks
             |), gw AS (SELECT * FROM g WHERE doc_id % 3 = 0
             |), go AS (SELECT * FROM g WHERE doc_id % 3 <> 0
             |)""".stripMargin + graft.queries.OracleSql.crossPrefixPairCtes + """
             |SELECT c.id_new, c.id_old,
             |  len(list_intersect(x.t, y.t)) * 1.0 /
             |    len(list_distinct(list_concat(x.t, y.t))) AS jaccard
             |FROM cand c JOIN gw x ON x.doc_id = c.id_new
             |JOIN go y ON y.doc_id = c.id_old
             |WHERE len(list_intersect(x.t, y.t)) * 1.0 /
             |    len(list_distinct(list_concat(x.t, y.t))) >= 0.5""".stripMargin),
    ),

    // ---- streaming exact-size sample: documents delivered as two
    // parity ticks through two AvailableNow runs (shared checkpoint —
    // run 2 sees only the new file); the published sample after both
    // runs must equal the BATCH sampleExact over the whole table
    // (min-n by a total order is associative/commutative, so the
    // split into batches can't change it). Oracle = q90's seeded-hash
    // construction with this query's seed.
    Q(
      "q163_streaming_sample",
      (s, d) => withHarnessPartitions(s) {
        val root = scratch()
        val inDir = s"$root/in"
        val samplePath = s"$root/sample"
        val ckpt = s"$root/ckpt"
        val docs = Tables.documents(s, d).select(col("doc_id"))
        val src = staged("q163", d) { dir =>
          docs.filter(col("doc_id") % 2 === 0)
            .coalesce(1).write.parquet(s"$dir/t0")
          docs.filter(col("doc_id") % 2 === 1)
            .coalesce(1).write.parquet(s"$dir/t1")
        }

        def tick(tickDir: String): Unit = {
          graft.io.Scratch.deliver(tickDir, inDir)
          StreamOps.sampleExactStream(
            s.readStream.schema(docs.schema).parquet(inDir),
            "doc_id", n = 100L, seed = "st1", samplePath, ckpt)
            .awaitTermination()
        }
        tick(s"$src/t0")
        tick(s"$src/t1")

        // rank the published n-row sample (sample-sized frame — the
        // buildVocab vocab-sized-rank precedent applies, but the
        // two-pass scan is the house shape anyway)
        graft.ops.Packing.globalRowNumber(
          s.read.parquet(samplePath),
          Seq(col("__r").asc, col("doc_id").asc), "sample_rank")
          .select(col("doc_id"), col("sample_rank"))
      },
      Some("""WITH h AS (
             |  SELECT doc_id,
             |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'st1'),
             |      1, 15) AS BIGINT) AS r
             |  FROM documents
             |)
             |SELECT doc_id,
             |  CAST(row_number() OVER (ORDER BY r ASC, doc_id ASC) - 1
             |    AS BIGINT) AS sample_rank
             |FROM h QUALIFY sample_rank < 100""".stripMargin),
    ),

    // ---- streaming WARC ingestion: the q174 record parse as a REAL
    // streaming plan — binaryFile readStream over a watched crawl
    // directory, two AvailableNow ticks with a shared checkpoint (tick
    // 2 sees only the two new .warc files — the nightly-crawl-drop
    // shape), records appended per micro-batch via foreachBatch.
    // Output projection and oracle are q174's VERBATIM: stream == batch
    // over any file split (record parsing is per-file, so micro-batch
    // boundaries can't change it — the q100/q163 stream-equals-batch
    // convention).
    Q(
      "q177_streaming_warc",
      (s, d) => withHarnessPartitions(s) {
        val fixtureDir = graft.sources.WarcFixtures.write(s, d)
        val root = scratch()
        val inDir = s"$root/in"
        val outDir = s"$root/records"
        val ckpt = s"$root/ckpt"
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(inDir))

        def tick(parts: Seq[Int]): Unit = {
          parts.foreach { p =>
            val name = f"crawl_$p%02d.warc"
            java.nio.file.Files.copy(
              java.nio.file.Paths.get(fixtureDir, name),
              java.nio.file.Paths.get(inDir, name))
          }
          val q = s.readStream.format("binaryFile")
            .schema(org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("path",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("modificationTime",
                org.apache.spark.sql.types.TimestampType),
              org.apache.spark.sql.types.StructField("length",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("content",
                org.apache.spark.sql.types.BinaryType))))
            .load(s"$inDir/*.warc")
            .writeStream
            .foreachBatch { (batch: DataFrame, _: Long) =>
              graft.sources.WarcReader.records(batch)
                .write.mode("append").parquet(outDir)
            }
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        tick(Seq(0, 1))
        tick(Seq(2, 3))

        s.read.parquet(outDir).select(
          regexp_extract(col("record_id"), "urn:graft:(\\d+)", 1)
            .cast("long").as("doc_id"),
          col("warc_type"), col("target_uri"), col("content_length"),
          md5(col("payload")).as("payload_md5"))
      },
      Some("""SELECT CAST(doc_id AS BIGINT) AS doc_id,
             |  'response' AS warc_type,
             |  'http://crawl.example/doc/' || doc_id AS target_uri,
             |  CAST(strlen(coalesce(text, '')) AS BIGINT)
             |    AS content_length,
             |  md5(coalesce(text, '')) AS payload_md5
             |FROM documents WHERE doc_id % 10 = 0""".stripMargin),
    ),

    // ---- watermark LATE-DATA DROP across runs (the S5 semantic the
    // null-skip queries don't reach): tick 1 (even event_ids) runs the
    // watermarked hourly rollup and CHECKPOINTS its watermark
    // (max ts − 1 h); tick 2 (odd ids, uncorrelated with ts, so many
    // are far older) replays against that persisted watermark and
    // Spark drops every row whose hour-window closed at or before it.
    // Update-mode memory sinks are per-run, so each run's emissions
    // land in their own table and union with a `run` tag: run 1 =
    // rollup over tick 1; run 2 = cumulative rollup rows ONLY for
    // windows a SURVIVING tick-2 row touched (update mode re-emits
    // changed groups only). The oracle restates the watermark, the
    // strict window_end > wm survival rule, and both emission sets —
    // a lost checkpoint, a boundary off-by-one, or an unchanged-group
    // re-emission all mismatch.
    Q(
      "q222_streaming_late_drop",
      (s, d) => withHarnessPartitions(s) {
        val root = scratch()
        val inDir = s"$root/in"
        val ckpt = s"$root/ckpt"
        val src = eventsParitySplit(s, d)
        // subset of the shared staged superset — parquet prunes by name
        val schema = Tables.events(s, d)
          .select(col("ts"), col("event_type"), col("value")).schema

        // memory sinks refuse checkpoint recovery (run 2 must resume
        // run 1's watermark), so each run's update emissions land in
        // their own parquet dir via foreachBatch — the q41 pattern
        def tick(tickDir: String, outDir: String): Unit = {
          graft.io.Scratch.deliver(tickDir, inDir)
          val q = StreamOps
            .hourlyRollup(s.readStream.schema(schema).parquet(inDir),
              watermark = "1 hour")
            .writeStream
            .outputMode("update")
            .foreachBatch { (b: DataFrame, _: Long) =>
              b.write.mode("append").parquet(outDir)
            }
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        tick(s"$src/t0", s"$root/out1")
        tick(s"$src/t1", s"$root/out2")

        def shape(dir: String, run: Int) = s.read.parquet(dir).select(
          lit(run).as("run"),
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("hour"),
          col("event_type"), col("n"),
          col("total_value").cast("double").as("total_value"))
        shape(s"$root/out1", 1).unionByName(shape(s"$root/out2", 2))
      },
      Some("""WITH t0 AS (
             |  SELECT ts, event_type, value FROM events
             |  WHERE event_id % 2 = 0
             |), t1 AS (
             |  SELECT ts, event_type, value FROM events
             |  WHERE event_id % 2 = 1
             |), wm AS (
             |  SELECT max(ts) - INTERVAL 1 HOUR AS w FROM t0
             |), r1 AS (
             |  SELECT 1 AS run,
             |    strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
             |      AS hour,
             |    event_type, count(*) AS n,
             |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             |      AS total_value
             |  FROM t0 GROUP BY 2, 3
             |), surv AS (
             |  SELECT t1.* FROM t1, wm
             |  WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR > w
             |), touched AS (
             |  SELECT DISTINCT date_trunc('hour', ts) AS h, event_type
             |  FROM surv
             |), allr AS (
             |  SELECT * FROM t0 UNION ALL SELECT * FROM surv
             |), r2 AS (
             |  SELECT 2 AS run,
             |    strftime(tch.h, '%Y-%m-%d %H:%M:%S') AS hour,
             |    tch.event_type, count(*) AS n,
             |    CAST(sum(CAST(a.value AS DECIMAL(18,2))) AS DOUBLE)
             |      AS total_value
             |  FROM touched tch JOIN allr a
             |    ON date_trunc('hour', a.ts) = tch.h
             |   AND a.event_type = tch.event_type
             |  GROUP BY 2, 3
             |)
             |SELECT * FROM r1 UNION ALL SELECT * FROM r2""".stripMargin),
    ),

    // ---- TRUE stream-stream interval join (Spark's symmetric
    // watermarked join — BOTH sides are readStream sources buffering
    // state against each other, unlike q93's single-stream keyed-state
    // as-of): non-purchase events ⋈ purchases on user within ±5 min.
    // Inner-join matches emit without waiting on the watermark, so one
    // AvailableNow batch per side over complete inputs equals the
    // batch interval join — q72's attribution shape, which the oracle
    // restates as the bare quadratic BETWEEN.
    Q(
      "q207_streaming_interval_join",
      (s, d) => withHarnessPartitions(s) {
        val root = scratch()
        // a stream-stream join runs FOUR state stores per partition
        // (two per side); at 32 shuffle partitions that is 128 store
        // loads+commits per micro-batch, and the bench measured the
        // cost as ~1.1 s/task of near-constant overhead (task time
        // barely moved when the input shrank 4×). State partitioning
        // is fixed at the FIRST batch from this conf — the measurement
        // that motivated withHarnessPartitions, which now scopes the
        // whole family.
        val ev = Tables.events(s, d)
        val left = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"))
        val right = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"),
            col("user_id").as("p_user_id"), col("ts").as("p_ts"))
        val src = staged("q207", d) { dir =>
          left.coalesce(1).write.parquet(s"$dir/left")
          right.coalesce(1).write.parquet(s"$dir/right")
        }
        val joined = StreamOps.intervalJoinStreams(
          s.readStream.schema(left.schema).parquet(s"$src/left"),
          s.readStream.schema(right.schema).parquet(s"$src/right"),
          keyExpr = "user_id = p_user_id",
          leftTsCol = "ts", rightTsCol = "p_ts",
          lowerSec = 300L, upperSec = 300L)
        val sinkTable = "graft_stream_ij_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        val q = joined.select(col("event_id"), col("purchase_id"))
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .format("memory")
          .queryName(sinkTable)
          .start()
        q.awaitTermination()
        s.table(sinkTable)
      },
      Some("""SELECT p.event_id, i.event_id AS purchase_id
             |FROM events p
             |JOIN (SELECT event_id, user_id, ts FROM events
             |      WHERE event_type = 'purchase') i
             |  ON p.user_id = i.user_id
             | AND p.ts BETWEEN i.ts - INTERVAL 5 MINUTE
             |             AND i.ts + INTERVAL 5 MINUTE
             |WHERE p.event_type = 'click'""".stripMargin),
    ),

    // ---- LEFT OUTER stream-stream interval join: q207's shape plus
    // null-extended unmatched clicks. Outer emission is watermark-
    // gated, so the harness stages a far-future SENTINEL row on each
    // side (join keys that match nothing) with a 0-second watermark
    // delay — the trailing no-data batch advances the watermark past
    // every real row and flushes ALL real unmatched lefts exactly
    // once; the result then equals the batch LEFT JOIN the oracle
    // runs (sentinels filtered out). See
    // StreamOps.intervalJoinStreamsLeftOuter's scaladoc for why a
    // production deployment instead holds back the trailing window.
    Q(
      "q267_streaming_outer_interval",
      (s, d) => withHarnessPartitions(s) {
        val root = scratch()
          val ev = Tables.events(s, d)
          val far = lit("2100-01-01 00:00:00").cast("timestamp")
          val left = ev.filter(col("event_type") === "click")
            .select(col("event_id"), col("user_id"), col("ts"))
            .union(s.range(1).select(lit(-1L).as("event_id"),
              lit(-1L).as("user_id"), far.as("ts")))
          val right = ev.filter(col("event_type") === "purchase")
            .select(col("event_id").as("purchase_id"),
              col("user_id").as("p_user_id"), col("ts").as("p_ts"))
            .union(s.range(1).select(lit(-2L).as("purchase_id"),
              lit(-2L).as("p_user_id"), far.as("p_ts")))
          val src = staged("q267", d) { dir =>
            left.coalesce(1).write.parquet(s"$dir/left")
            right.coalesce(1).write.parquet(s"$dir/right")
          }
          val joined = StreamOps.intervalJoinStreamsLeftOuter(
            s.readStream.schema(left.schema).parquet(s"$src/left"),
            s.readStream.schema(right.schema).parquet(s"$src/right"),
            keyExpr = "user_id = p_user_id",
            leftTsCol = "ts", rightTsCol = "p_ts",
            lowerSec = 300L, upperSec = 300L)
          val sinkTable = "graft_stream_oij_" +
            java.util.UUID.randomUUID().toString.replace("-", "")
          val q = joined.select(col("event_id"), col("purchase_id"))
            .writeStream
            .outputMode("append")
            .option("checkpointLocation", s"$root/ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .format("memory")
            .queryName(sinkTable)
            .start()
          q.awaitTermination()
          s.table(sinkTable).filter(col("event_id") >= 0)
      },
      Some("""SELECT c.event_id, p.event_id AS purchase_id
             |FROM events c
             |LEFT JOIN (SELECT event_id, user_id, ts FROM events
             |           WHERE event_type = 'purchase') p
             |  ON c.user_id = p.user_id
             | AND c.ts BETWEEN p.ts - INTERVAL 5 MINUTE
             |             AND p.ts + INTERVAL 5 MINUTE
             |WHERE c.event_type = 'click'""".stripMargin),
    ),

    // ---- stream-static dimension join: the streaming event feed is
    // enriched against a BATCH dimension table (customer segment) with
    // an explicit broadcast, then aggregated — the canonical streaming
    // star-join. Spark re-plans the static side per micro-batch, and
    // the broadcast means NO shuffle of the stream: at 100 TB/day of
    // events the per-batch cost is a map-side hash probe, while a
    // shuffle join would re-partition every batch by key. Update-mode
    // aggregation without watermark is exact for the AvailableNow
    // single batch (the state is the full group table — bounded at
    // |segments|·|event types|).
    Q(
      "q233_streaming_dim_join",
      (s, d) => withHarnessPartitions(s) {
        val root = scratch()
        val inDir = s"$root/in"
        val ckpt = s"$root/ckpt"
        val src = staged("q233", d) { dir =>
          Tables.events(s, d)
            .select(col("ts"), col("user_id"), col("event_type"),
              col("value"))
            .coalesce(1).write.parquet(s"$dir/t0")
        }
        val schema = s.read.parquet(s"$src/t0").schema
        graft.io.Scratch.deliver(s"$src/t0", inDir)
        val dim = broadcast(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment")))
        val q = s.readStream.schema(schema).parquet(inDir)
          .withColumn("cents",
            expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
          .join(dim, col("user_id") === col("c_custkey"))
          .groupBy(col("c_mktsegment"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
          .writeStream
          .outputMode("update")
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode("append").parquet(s"$root/out")
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.read.parquet(s"$root/out")
      },
      Some("""SELECT c_mktsegment, event_type, count(*) AS n,
             |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100
             |    AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM events JOIN customer ON user_id = c_custkey
             |GROUP BY 1, 2""".stripMargin),
    ),

    // ---- stateful quota gate (StreamOps.quotaGate): at most 2 events
    // per user per event-time DAY pass; the rest flag rejected. Two
    // AvailableNow ticks (even event_ids, then odd) prove the per-day
    // counters carry ACROSS batches: a tick-2 event's position in its
    // day continues where tick 1 stopped. The oracle restates exactly
    // that arrival contract — tick-1 sequence = rank among evens,
    // tick-2 sequence = that day's even count + rank among odds —
    // so a state reset between batches, a re-sort across batches, or
    // an off-by-one at the cap all mismatch.
    Q(
      "q245_streaming_quota",
      (s, d) => withHarnessPartitions(s) {
        val root = scratch()
        val inDir = s"$root/in"
        val ckpt = s"$root/ckpt"
        val src = eventsParitySplit(s, d)
        // subset of the shared staged superset — parquet prunes by name
        val schema = Tables.events(s, d)
          .select(col("ts"), col("user_id"), col("event_id")).schema
        def tick(tickDir: String, outDir: String): Unit = {
          graft.io.Scratch.deliver(tickDir, inDir)
          val q = StreamOps
            .quotaGate(s.readStream.schema(schema).parquet(inDir),
              perDay = 2)
            .writeStream
            .outputMode("append")
            .foreachBatch {
              (b: org.apache.spark.sql.Dataset[StreamOps.QuotaOut],
                  _: Long) =>
                b.write.mode("append").parquet(outDir)
            }
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        tick(s"$src/t0", s"$root/out1")
        tick(s"$src/t1", s"$root/out2")
        def shape(dir: String, run: Int) = s.read.parquet(dir)
          .withColumn("run", lit(run))
        shape(s"$root/out1", 1).unionByName(shape(s"$root/out2", 2))
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, ts,
             |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             |    event_id % 2 = 0 AS even
             |  FROM events
             |), t1 AS (
             |  SELECT user_id, event_id, day,
             |    CAST(row_number() OVER (PARTITION BY user_id, day
             |      ORDER BY ts, event_id) AS INT) AS seq_in_day,
             |    1 AS run
             |  FROM e WHERE even
             |), c1 AS (
             |  SELECT user_id, day, count(*) AS n1
             |  FROM e WHERE even GROUP BY 1, 2
             |), t2 AS (
             |  SELECT e.user_id, e.event_id, e.day,
             |    CAST(coalesce(c1.n1, 0) + row_number() OVER (
             |      PARTITION BY e.user_id, e.day ORDER BY e.ts,
             |      e.event_id) AS INT) AS seq_in_day,
             |    2 AS run
             |  FROM e LEFT JOIN c1
             |    ON c1.user_id = e.user_id AND c1.day = e.day
             |  WHERE NOT e.even
             |)
             |SELECT user_id, event_id, day, seq_in_day,
             |  seq_in_day <= 2 AS accepted, run
             |FROM (SELECT * FROM t1 UNION ALL SELECT * FROM t2)"""
        .stripMargin),
    ),

    // ---- INCREMENTAL exact-substring dedup state maintained ACROSS
    // REAL MICRO-BATCHES (r13 verdict "next" #2 — the q41 + q334
    // pattern combined): documents split by doc_id parity into two
    // cron ticks; each AvailableNow run's foreachBatch (a) builds the
    // batch's span-gram state, (b) folds it into the ACCUMULATED state
    // on disk (Dedup.appendSpanGramState — one TableLog commit of the
    // batch's count deltas; tick 2 appends to what tick 1 persisted),
    // and (c) scores the batch's duplicate coverage against the state
    // RE-READ from disk (Dedup.readSpanGramState sums the deltas) — so
    // the bar crosses the persistence boundary in BOTH directions every
    // micro-batch. The oracle replays from scratch: batch-0 coverage
    // against batch 0's own bar, batch-1 coverage against the
    // two-batch cumulative bar (counts are sums — 1 + 1 = 2 across
    // batches is exactly what the state carries).
    Q(
      "q336_streaming_span_state",
      (s, d) => withHarnessPartitions(s) {
        val src = staged("q336", d) { dir =>
          val docs = Tables.documents(s, d)
            .select(col("doc_id"), col("text"))
          docs.filter(col("doc_id") % 2 === 0)
            .coalesce(1).write.parquet(s"$dir/t0")
          docs.filter(col("doc_id") % 2 =!= 0)
            .coalesce(1).write.parquet(s"$dir/t1")
        }
        val schema = s.read.parquet(s"$src/t0").schema
        val root = scratch()
        val inDir = s"$root/in"
        val ckpt = s"$root/ckpt"
        val stateDir = s"$root/state"
        val outDir = s"$root/out"
        def tick(tickDir: String): Unit = {
          graft.io.Scratch.deliver(tickDir, inDir)
          val q = s.readStream.schema(schema).parquet(inDir)
            .writeStream
            .foreachBatch { (batch: DataFrame, _: Long) =>
              val D = graft.ops.Dedup
              val batchState =
                D.spanGramState(batch, "doc_id", "text", l = 12)
              // append-delta publish (r15): only the batch's
              // (hash, count-delta) rows are written, and one TableLog
              // commit adds them to the accumulated table's part-files,
              // which stay where they are. The old read → merge →
              // write-back cycle re-wrote the ENTIRE state every tick.
              D.appendSpanGramState(batchState, stateDir)
              // coverage against the state RE-READ from disk: the
              // persisted artifact, not the in-memory frame, is what
              // the next deployment stage would consume (the read
              // sums the deltas — value-identical to the merged bar)
              D.duplicateCoverageAgainst(batch,
                  D.readSpanGramState(s, stateDir), "doc_id", "text")
                .write.mode("append").parquet(outDir)
            }
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        tick(s"$src/t0")
        tick(s"$src/t1")
        s.read.parquet(outDir)
      },
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(trim(text), ' ') AS w
             |  FROM documents
             |), g0 AS (
             |  SELECT doc_id, unnest([{'pos': i,
             |      'h': CAST('0x' || substr(md5(
             |        array_to_string(w[i:i+11], ' ')), 1, 15) AS BIGINT)}
             |    for i in range(1, len(w) - 10)]) AS g
             |  FROM t WHERE len(w) >= 12
             |), g AS (
             |  SELECT doc_id, g.pos AS pos, g.h AS h FROM g0
             |), """.stripMargin +
        spanCoverageCtes(0, "doc_id % 2 = 0", "doc_id % 2 = 0") + ", " +
        spanCoverageCtes(1, "TRUE", "doc_id % 2 = 1") + "\n" +
        spanCoverageSelect(0) + "\nUNION ALL\n" + spanCoverageSelect(1)),
    ),

    // ---- the PREFIX INDEX maintained across real micro-batches —
    // q336's sibling for the second r13 persistence artifact, and the
    // full deployment loop for recall-exact incremental dedup: the
    // trained corpus (doc_id % 3 ≠ 0) is indexed + written to parquet
    // ONCE (staged); each invocation copies the index tree
    // (Scratch.deliver — the stream MUTATES its copy) and streams
    // the % 3 == 0 docs in two ticks (% 6 == 0, then % 6 == 3). Each
    // foreachBatch (a) dedups the batch against the index READ FROM
    // PARQUET — so tick 2's old side includes tick 1's batch — and
    // (b) folds the batch in and appends it to the index as one
    // TableLog commit (Dedup.dedupAndMergePrefixIndexDir). Intra-batch
    // pairs are deliberately out of scope (that is the self-join
    // operator, q329). The oracle replays both ticks from scratch with the
    // SUFFIXED cross-blocking generator (crossPrefixPairCtesAt):
    // tick 1 blocks batch A vs the initial corpus, tick 2 blocks
    // batch B vs initial ∪ A — recall-exact on both sides, so the
    // frozen-order index path must produce the identical pair set.
    Q(
      "q338_streaming_prefix_index",
      (s, d) => withHarnessPartitions(s) {
        val src = staged("q338", d) { dir =>
          val docs = Tables.documents(s, d)
            .select(col("doc_id"), col("text"))
          docs.filter(col("doc_id") % 6 === 0)
            .coalesce(1).write.parquet(s"$dir/t0")
          docs.filter(col("doc_id") % 6 === 3)
            .coalesce(1).write.parquet(s"$dir/t1")
        }
        val idxSrc = staged("q338idx", d) { dir =>
          graft.ops.Dedup.writePrefixIndex(
            graft.ops.Dedup.indexCorpusPrefix(
              Tables.documents(s, d)
                .filter(col("doc_id") % 3 =!= 0)
                .select(col("doc_id"), col("text")),
              "doc_id", "text", n = 3, tau = 0.5),
            s"$dir/idx")
        } + "/idx"
        val root = scratch()
        val idxDir = s"$root/idx"
        graft.io.Scratch.deliver(idxSrc, idxDir)
        val inDir = s"$root/in"
        val ckpt = s"$root/ckpt"
        val outDir = s"$root/out"
        val schema = s.read.parquet(s"$src/t0").schema
        def tick(tickDir: String): Unit = {
          graft.io.Scratch.deliver(tickDir, inDir)
          val q = s.readStream.schema(schema).parquet(inDir)
            .writeStream
            .foreachBatch { (batch: DataFrame, _: Long) =>
              // dedup against the pre-merge index (the batch never
              // pairs with itself here) and fold the batch in, as ONE
              // shared-frame, append-structured step: the dir step
              // keeps the unchanged part-files and appends only the
              // batch (outputs equal to a full rewrite,
              // DedupPersistenceSpec)
              graft.ops.Dedup
                .dedupAndMergePrefixIndexDir(s, idxDir, batch, "text")
                .write.mode("append").parquet(outDir)
            }
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        tick(s"$src/t0")
        tick(s"$src/t1")
        s.read.parquet(outDir)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
             |), g AS MATERIALIZED (
             |  SELECT doc_id, list_distinct(
             |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS t
             |  FROM toks
             |), gw1 AS (SELECT * FROM g WHERE doc_id % 6 = 0
             |), go1 AS (SELECT * FROM g WHERE doc_id % 3 <> 0
             |), gw2 AS (SELECT * FROM g WHERE doc_id % 6 = 3
             |), go2 AS (SELECT * FROM g WHERE doc_id % 3 <> 0 OR doc_id % 6 = 0
             |)""".stripMargin +
        OracleSql.crossPrefixPairCtesAt("1") +
        OracleSql.crossPrefixPairCtesAt("2") + "\n" +
        crossVerifySelect("1") + "\nUNION ALL\n" + crossVerifySelect("2")),
    ),
  )

  /** The exact-Jaccard verify tail over one suffixed cross blocking
    * (q338's per-tick replay — see [[OracleSql.crossPrefixPairCtesAt]]). */
  private def crossVerifySelect(sfx: String): String =
    s"""SELECT c.id_new, c.id_old,
       |  len(list_intersect(x.t, y.t)) * 1.0 /
       |    len(list_distinct(list_concat(x.t, y.t))) AS jaccard
       |FROM cand$sfx c JOIN gw$sfx x ON x.doc_id = c.id_new
       |JOIN go$sfx y ON y.doc_id = c.id_old
       |WHERE len(list_intersect(x.t, y.t)) * 1.0 /
       |    len(list_distinct(list_concat(x.t, y.t))) >= 0.5""".stripMargin

  /** One per-batch coverage pipeline for q336's oracle — q334's
    * island-merge CTEs at l = 12, parameterized by the CUMULATIVE-bar
    * predicate (which batches the state has seen) and the batch
    * predicate (which docs are scored); suffix `k` keeps the CTE
    * names distinct across the replay union. */
  private def spanCoverageCtes(k: Int, barPred: String,
      batchPred: String): String =
    s"""f$k AS (
       |  SELECT h FROM g WHERE $barPred GROUP BY h HAVING count(*) >= 2
       |), sel$k AS (
       |  SELECT g.doc_id, g.pos FROM g JOIN f$k USING (h)
       |  WHERE $batchPred
       |), o$k AS (
       |  SELECT doc_id, pos,
       |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
       |  FROM sel$k
       |), isl$k AS (
       |  SELECT doc_id, pos,
       |    sum(CASE WHEN prev IS NULL OR pos > prev + 12
       |      THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM o$k
       |), sp$k AS (
       |  SELECT doc_id, max(pos) + 12 - min(pos) AS len
       |  FROM isl$k GROUP BY doc_id, island
       |), pd$k AS (
       |  SELECT doc_id, CAST(sum(len) AS BIGINT) AS dup_tokens
       |  FROM sp$k GROUP BY doc_id
       |), nt$k AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+'))
       |      AS BIGINT) AS n_tokens
       |  FROM documents WHERE $batchPred
       |)""".stripMargin

  /** The final per-batch read of [[spanCoverageCtes]]' pipeline `k` —
    * q334's output contract (every batch doc appears, zero-coverage
    * included). */
  private def spanCoverageSelect(k: Int): String =
    s"""SELECT nt$k.doc_id, nt$k.n_tokens,
       |  CAST(coalesce(pd$k.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       |  CAST((1000 * coalesce(pd$k.dup_tokens, 0))
       |    // greatest(nt$k.n_tokens, 1) AS BIGINT) AS dup_fraction_pm
       |FROM nt$k LEFT JOIN pd$k USING (doc_id)""".stripMargin
}
