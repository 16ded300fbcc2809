package graft.ops

import org.apache.spark.sql.DataFrame

/** Shared mid-plan materialization for library entry points that reuse
  * an expensive subtree (n-gram tables, MinHash signatures, range-
  * partitioned scan bases) or must cut lineage per iteration round
  * (duplicate clustering).
  *
  * CAVEATS a caller must know, for EITHER strategy:
  *
  *  - **Eager execution**: constructing the returned DataFrame runs the
  *    upstream Spark jobs AT CALL TIME, not at first action. Library
  *    entry points built on this ([[Dedup.ngramJaccardPairs]],
  *    [[Dedup.crossCorpusJaccardPairs]], [[TextAnalysis.bigramFamiliarity]],
  *    [[TextAnalysis.stripBoilerplateLines]], [[TextAnalysis.tfIdfTop]],
  *    [[Packing.chunkAssignments]], [[Packing.globalRowNumber]],
  *    [[graft.pipeline.Pipeline.processBatch]],
  *    [[graft.streaming.StreamingMerge.mergeIntoMaster]], and
  *    [[graft.merge.MergeListings.mergeBatch]] only when its url fallback
  *    applies and it generates the arrival ids itself, i.e. without a
  *    `seqCol`) are therefore actions, not plan constructors.
  *  - **Block liveness**: the default `localCheckpoint` stores blocks on
  *    the executors that computed them. On a real cluster with executor
  *    loss or dynamic allocation, a lost block makes every downstream
  *    job fail UNRECOVERABLY (lineage was truncated — nothing can be
  *    recomputed). Fine on local[N] and static long-lived executors.
  *
  * For cluster deployments set the session conf
  * `graft.materialize.strategy=checkpoint` (and
  * `sparkContext.setCheckpointDir(...)`): a reliable checkpoint writes
  * blocks to the checkpoint directory and survives executor loss, at
  * the cost of that write. Why not `persist()`: these frames are
  * internal to a single entry-point call — a CacheManager entry would
  * pin the blocks for the whole session because callers never see the
  * frame to unpersist it, while (local)checkpoint blocks free when the
  * frame becomes unreachable.
  */
object Materialize {
  /** Session conf key; values: `localCheckpoint` (default) | `checkpoint`. */
  val StrategyKey = "graft.materialize.strategy"

  def apply(df: DataFrame): DataFrame =
    df.sparkSession.conf.get(StrategyKey, "localCheckpoint") match {
      case "localCheckpoint" => df.localCheckpoint()
      case "checkpoint" => df.checkpoint()
      case other => throw new IllegalArgumentException(
        s"$StrategyKey must be localCheckpoint or checkpoint, got $other")
    }

  /** Round-robin-widen a NARROW input before a CPU-heavy per-row map
    * (MinHash/SimHash sketches, n-gram builds): a small table often
    * arrives as one parquet file → one scan partition → ONE task
    * computes every document's sketch while 31 cores idle (measured:
    * the sf0.1 documents table is a single 15 MB file, and the
    * cross-corpus index build ran serial). No-op when the input
    * already has >= defaultParallelism partitions — at 100 TB real
    * tables arrive thousands of partitions wide and the extra
    * exchange would be pure waste; the narrow case this fixes is
    * exactly the one where the exchange is cheap.
    *
    * SCAN-SHAPED INPUTS ONLY (r12 ADVICE): the width probe converts to
    * an RDD, and with AQE enabled that finalizes the adaptive plan —
    * for a frame containing shuffles it would EXECUTE the upstream
    * query stages just to read a partition count, then the real query
    * re-executes them (silent 2× upstream work). Frames whose plan is
    * not scan-shaped (any aggregate/join/window/shuffle in the
    * optimized plan) are returned UNCHANGED: post-shuffle frames are
    * already `spark.sql.shuffle.partitions` wide by construction, and
    * the AQE-coalesced-narrow case has its own fix pattern (an
    * explicit `repartition(par, key)` at the consumer — the
    * containmentPairs lesson), not this helper.
    *
    * WHEN TO WIDEN AT ALL — the measured rule (r12, two waves):
    * widen a narrow scan feeding a CPU-heavy computation whose output
    * is CONSUMED AS A FRAME (sketch builds, gram explodes, per-row
    * parses: q22's sketch map, q64/q65's parse, q204's gram bar);
    * do NOT widen a cheap map feeding a map-side-COMBINING aggregate —
    * the exchange moves full pre-combine rows that the narrow plan
    * would have collapsed in place (q169's bigramOcc: widening
    * regressed 1.71 → 2.40 s and was reverted). When the per-row work
    * is trivial, the exchange is pure overhead either way. */
  def widened(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (!scanShaped(df) || df.rdd.getNumPartitions >= p) df
    else df.repartition(p)
  }

  /** True when the optimized plan is a scan (any [[LeafNode]]:
    * relation, LocalRelation, Range, or the LogicalRDD a
    * `materialized` frame lands as — already computed) with only
    * narrow row-level ops on top — the shapes whose `.rdd` width
    * probe is free (no exchange to finalize, nothing AQE could
    * execute early). */
  private[graft] def scanShaped(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def narrow(plan: LogicalPlan): Boolean = plan match {
      case _: LeafNode => true
      case p: Project => narrow(p.child)
      case f: Filter => narrow(f.child)
      case r: Repartition if !r.shuffle => narrow(r.child) // coalesce
      case s: SubqueryAlias => narrow(s.child)
      case h: ResolvedHint => narrow(h.child)
      case _ => false
    }
    narrow(df.queryExecution.optimizedPlan)
  }

  /** `.materialized` chain form: `df.groupBy(...).agg(...).materialized`. */
  implicit class MaterializeOps(private val df: DataFrame) extends AnyVal {
    def materialized: DataFrame = Materialize(df)
    def widened: DataFrame = Materialize.widened(df)
  }
}
