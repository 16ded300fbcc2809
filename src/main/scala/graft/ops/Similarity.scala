package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.Materialize.MaterializeOps

/** Similarity search over an embedding column (array<float|double>).
  *
  * Cosine arithmetic is a SEQUENTIAL left fold in double precision —
  * bit-identical to DuckDB's list_sum and to any other engine folding
  * left-to-right, which is what makes the oracle hash-compare exact.
  *
  * Brute-force variants are the correctness baseline (quadratic
  * shuffle-join — fine to ~10^4 vectors per partition group); the
  * random-hyperplane LSH bucketing is the 100 TB path: one shuffle on
  * the bucket key, quadratic only within buckets.
  */
object Similarity {

  /** Cosine similarity of two double arrays (sequential fold). */
  def cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    def norm(x: Column) =
      sqrt(aggregate(transform(x, p => p * p), lit(0.0), (acc, v) => acc + v))
    dot(a, b) / (norm(a) * norm(b))
  }

  private def asDouble(c: Column): Column = c.cast("array<double>")

  // ------------------------------------------------------- quantization

  /** Symmetric per-vector int8 quantization: scale = max|v|/127,
    * q_i = round(v_i/scale) ∈ [-127, 127]. At 100 TB this is the
    * memory lever for every similarity path above — a 64-dim float
    * embedding drops 4× (8× vs double), which is the difference
    * between an in-memory block kernel and a spilling one; IVF/LSH
    * candidate generation runs on the quantized vectors and only the
    * final re-rank (top-k·C candidates, a vanishing fraction) touches
    * full precision. Scale stays a per-row column, so dequantization
    * is exact-as-stored: dq_i = q_i · scale.
    *
    * Pure Column expressions (codegen'd map, no shuffle). Zero vectors
    * quantize to zeros with scale 0. Recall loss under quantization is
    * driver-gated by q73 (same floor pattern as q56/q62).
    */
  def quantizeInt8(vec: Column): Column = {
    val v = asDouble(vec)
    val scale = array_max(transform(v, abs(_))) / lit(127.0)
    struct(
      when(scale > 0.0,
          transform(v, x => round(x / scale).cast("tinyint")))
        .otherwise(transform(v, _ => lit(0).cast("tinyint"))).as("q"),
      scale.as("scale"))
  }

  /** Inverse of [[quantizeInt8]]: array<double> ≈ the original. */
  def dequantizeInt8(quantized: Column): Column =
    transform(quantized.getField("q"),
      x => x.cast("double") * quantized.getField("scale"))

  // -------------------------------------------- product quantization

  /** PQ codebooks (Jégou et al. 2011, "Product quantization for
    * nearest neighbor search" — the faiss IVF-PQ compression half):
    * the vector space splits into `m` subspaces of `subDim` dims, each
    * with its own `ks`-centroid codebook; a vector encodes to m byte
    * codes. A model-sized artifact (m·ks·subDim doubles — for 8×16 on
    * 64 dims, 8 KiB), broadcast like the IVF centroids. */
  case class PqCodebooks(m: Int, ks: Int, subDim: Int,
      centers: Array[Array[Array[Double]]]) extends Serializable

  /** Train PQ codebooks on a bounded seeded sample (the [[buildIvfIndex]]
    * shape: index training is sample-local, only encoding is
    * distributed). Vectors are unit-normalized first — similarity here
    * is cosine, and on the unit sphere the ADC inner-product estimate
    * Σ_m ⟨q_m, c_m[code]⟩ IS the cosine estimate. Per-subspace
    * codebooks come from the same deterministic [[localKMeans]]. */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String, m: Int = 8,
      ks: Int = 16, seed: Long = 42L,
      knownCount: Option[Long] = None): PqCodebooks = {
    require(m >= 1 && ks >= 2 && ks <= 256,
      s"need m >= 1 and ks in [2, 256] (byte codes), got m=$m ks=$ks")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(asDouble(col(vecCol)).as("__v"))
    val trainCap = 100000L
    val n = knownCount.getOrElse(base.count())
    val trainBase = if (n <= trainCap) base
      else base.sample(withReplacement = false, trainCap.toDouble / n, seed)
    val sample: Array[Array[Double]] =
      trainBase.select(col("__v")).as[Seq[Double]].collect()
        .map(s => pqUnit(s.toArray))
    require(sample.nonEmpty, "pqTrain needs a non-empty input")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val subDim = dim / m
    val centers = Array.tabulate(m) { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(
        v, s * subDim, (s + 1) * subDim))
      // per-subspace seed: identical seeds would correlate codebooks
      localKMeans(sub, ks, seed + s, maxIter = 20)
    }
    PqCodebooks(m, ks, subDim, centers)
  }

  private def pqUnit(v: Array[Double]): Array[Double] = {
    val n = l2(v)
    if (n == 0.0 || n.isNaN) v else v.map(_ / n)
  }

  /** Encode every vector to m byte codes — a pure map with the
    * broadcast codebooks (nearest subspace centroid, ties to the
    * lowest index). At 100 TB this is the memory lever past int8: a
    * 64-dim float embedding (256 B) compresses to 8 code bytes (32×),
    * which is what lets a candidate set live in executor memory at
    * corpus scale.
    *
    * @param normalize unit-normalize before encoding (default — the
    *        cosine/IP metric choice this file's search paths use). Pass
    *        false for L2-metric PQ over raw coordinates (the faiss
    *        default), where vectors encode as-is; with integer-valued
    *        inputs and codebooks the whole argmin is then exact integer
    *        math, restatable bit-for-bit by any engine (q136's oracle).
    * @return (idCol, codes binary) */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      cb: PqCodebooks, normalize: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cb)
    val enc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    df.select(col(idCol).cast("long"), asDouble(col(vecCol)))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val b = bc.value
        it.map { case (id, vec) =>
          val v = if (normalize) pqUnit(vec.toArray) else vec.toArray
          require(v.length == b.m * b.subDim,
            s"vector dim ${v.length} != codebook dim ${b.m * b.subDim}")
          val codes = new Array[Byte](b.m)
          var s = 0
          while (s < b.m) {
            val cents = b.centers(s)
            var best = 0; var bd = Double.MaxValue
            var j = 0
            while (j < b.ks) {
              var d = 0.0; var t = 0
              val c = cents(j)
              while (t < b.subDim) {
                val diff = v(s * b.subDim + t) - c(t); d += diff * diff
                t += 1
              }
              if (d < bd) { bd = d; best = j }
              j += 1
            }
            codes(s) = best.toByte
            s += 1
          }
          (id, codes)
        }
      }(enc)
      .toDF(idCol, "codes")
  }

  /** Reconstruct the quantized vector from its codes (centroid
    * concatenation). Exact-query-vs-reconstructed-candidate cosine
    * through any kernel above IS the ADC (asymmetric distance
    * computation) estimate: ⟨q, concat_m c_m[code_m]⟩ =
    * Σ_m ⟨q_m, c_m[code_m]⟩ — the per-query m×ks lookup table is a
    * constant-factor optimization of the same sum, not different
    * math. Recall under PQ is driver-gated (q133, the q73 pattern). */
  def pqReconstruct(codes: DataFrame, idCol: String,
      cb: PqCodebooks): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cb)
    codes.select(col(idCol).cast("long"), col("codes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val b = bc.value
        it.map { case (id, cs) =>
          val v = new Array[Double](b.m * b.subDim)
          var s = 0
          while (s < b.m) {
            val c = b.centers(s)(cs(s) & 0xff)
            System.arraycopy(c, 0, v, s * b.subDim, b.subDim)
            s += 1
          }
          (id, v.toSeq)
        }
      }
      .toDF(idCol, "vec")
  }

  /** (id, vec) projection — the native CosineSimilarity expression
    * computes dot and norms in one per-pair loop, so no per-vector norm
    * precompute is needed. */
  private def withVec(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol), asDouble(col(vecCol)).as("__v"))

  /** All pairs (idA < idB) with cosine ≥ tau — exact, brute force. */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String,
      tau: Double, dim: Int = 64): DataFrame = {
    val v = withVec(df, idCol, vecCol)
    val a = v.alias("a")
    val b = v.alias("b")
    a.join(b, col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        graft.functions.CosineSimilarity(col("a.__v"), col("b.__v"))
          .as("cosine"))
      .filter(col("cosine") >= tau)
  }

  /** Exact top-k neighbors per vector (brute force + per-key window).
    * Ties broken by neighbor id for determinism. */
  def cosineTopK(df: DataFrame, idCol: String, vecCol: String,
      k: Int, dim: Int = 64): DataFrame = {
    val v = withVec(df, idCol, vecCol)
    val a = v.alias("a")
    val b = v.alias("b")
    val pairs = a.join(b, col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id"), col(s"b.$idCol").as("neighbor_id"),
        graft.functions.CosineSimilarity(col("a.__v"), col("b.__v"))
          .as("cosine"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  // ------------------------------------------------- blocked kernel path

  /** Blocked all-pairs kernel: the DataFrame brute-force forms above push
    * the cosine predicate INTO the nested-loop join condition, where
    * Catalyst evaluates the 190-node expression interpreted per pair
    * (measured 60-90 s for 2M pairs). Here vectors land in `numBlocks`
    * stable blocks (id mod B); every (query-block, candidate-block) pair
    * becomes ONE task over two in-memory arrays, and a tight primitive
    * loop computes the dot products in the same ascending-index order as
    * the expression form — bit-identical results, no driver collect(),
    * per-task memory bounded by 2·n/B vectors. Replication factor is B
    * (each block ships to B tasks): at 100 TB pick B so n/B vectors fit
    * an executor (e.g. 64-dim doubles, 4 GiB budget → ~8M vectors/block),
    * which is exactly the blocked matrix-multiply decomposition. */
  private def packedBlocks(df: DataFrame, idCol: String, vecCol: String,
      numBlocks: Int): DataFrame =
    df.select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("__v"))
      .groupBy(pmod(col("id"), lit(numBlocks)).cast("int").as("__blk"))
      .agg(collect_list(struct(col("id").as("_1"), col("__v").as("_2")))
        .as("vecs"))

  private def l2(v: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    math.sqrt(s)
  }

  private def dotP(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0
    var i = 0
    while (i < a.length) { d += a(i) * b(i); i += 1 }
    d
  }

  /** Exact cosine pairs ≥ tau via the blocked kernel: B(B+1)/2 tasks —
    * each unordered id pair meets in exactly one (min-block, max-block)
    * task, same-block tasks loop the strict upper triangle. */
  def cosinePairsKernel(df: DataFrame, idCol: String, vecCol: String,
      tau: Double, numBlocks: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val packed = packedBlocks(df, idCol, vecCol, numBlocks)
    val tasks = packed.select(col("__blk").as("qblk"), col("vecs").as("qv"))
      .crossJoin(packed.select(col("__blk").as("cblk"), col("vecs").as("cv")))
      .filter(col("qblk") <= col("cblk"))
      // spread block pairs across the cluster: the nested-loop join
      // leaves all pair rows on the few non-empty groupBy partitions
      // (measured 6 tasks / 26 idle cores on q132's sibling)
      .repartition(numBlocks * numBlocks)
      .as[(Int, Seq[(Long, Seq[Double])], Int, Seq[(Long, Seq[Double])])]
    tasks.flatMap { case (qblk, qvecs, cblk, cvecs) =>
      val qs = qvecs.map { case (id, v) =>
        val a = v.toArray; (id, a, l2(a)) }.toArray
      val cs = if (qblk == cblk) qs
        else cvecs.map { case (id, v) =>
          val a = v.toArray; (id, a, l2(a)) }.toArray
      qs.iterator.flatMap { case (ida, va, na) =>
        cs.iterator.filter { case (idb, _, _) =>
          if (qblk == cblk) ida < idb else true
        }.flatMap { case (idb, vb, nb) =>
          val cos = dotP(va, vb) / (na * nb)
          // Spark SQL's `cosine >= tau` keeps NaN (NaN is largest
          // there); Java's would drop it — keep parity with the
          // declarative twin
          if (cos >= tau || cos.isNaN)
            Some((math.min(ida, idb), math.max(ida, idb), cos))
          else None
        }
      }
    }.toDF("id_a", "id_b", "cosine")
  }

  /** Per-block partial top-k: every query vector against one candidate
    * block, self-pairs skipped. NaN (zero-norm vectors) must sort FIRST,
    * matching Spark SQL's NaN-is-largest ordering in the merge window —
    * Scala's default Double ordering would sort it last and truncate it. */
  private def blockTopK(qvecs: Seq[(Long, Seq[Double])],
      cvecs: Seq[(Long, Seq[Double])], k: Int,
      excludeSelf: Boolean = true): Iterator[(Long, Long, Double)] = {
    // excludeSelf = false for CROSS-FRAME searches (crossCosineTopK):
    // query and candidate ids come from different tables there, and a
    // numeric collision must not silently drop a true neighbor
    val cs = cvecs.map { case (id, v) =>
      val a = v.toArray; (id, a, l2(a)) }.toArray
    qvecs.iterator.flatMap { case (qid, qv) =>
      val qa = qv.toArray
      val qn = l2(qa)
      val sims = cs.iterator.collect {
        case (idb, vb, nb) if !excludeSelf || idb != qid =>
          (dotP(qa, vb) / (qn * nb), idb)
      }.toArray
      sims.sortBy { case (c, id) =>
        (if (c.isNaN) Double.NegativeInfinity else -c, id)
      }.take(k)
        .iterator.map { case (c, idb) => (qid, idb, c) }
    }
  }

  /** Exact top-k per vector via the blocked kernel: each task emits a
    * per-query PARTIAL top-k against its candidate block (global top-k ⊆
    * union of partials), then one window pass merges the ≤ B·k partials
    * per id. Ties: cosine desc, neighbor id asc — same ordering as the
    * window-function form (tested bit-identical). */
  def cosineTopKKernel(df: DataFrame, idCol: String, vecCol: String,
      k: Int, numBlocks: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val packed = packedBlocks(df, idCol, vecCol, numBlocks)
    val tasks = packed.select(col("__blk").as("qblk"), col("vecs").as("qv"))
      .crossJoin(packed.select(col("__blk").as("cblk"), col("vecs").as("cv")))
      .repartition(numBlocks * numBlocks) // one task per block pair
      .as[(Int, Seq[(Long, Seq[Double])], Int, Seq[(Long, Seq[Double])])]
    val partial = tasks.flatMap { case (_, qvecs, _, cvecs) =>
      blockTopK(qvecs, cvecs, k)
    }.toDF("id", "neighbor_id", "cosine")
    val w = Window.partitionBy(col("id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    partial.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** HARD-NEGATIVE mining: for every vector, the k most-similar vectors
    * carrying a DIFFERENT label — the contrastive-training data step
    * (embedding-model and reranker training both want "closest
    * wrong-label" pairs; random negatives are too easy to teach
    * anything). Same blocked kernel and per-block partial top-k as
    * [[cosineTopKKernel]] — the label rides the packed block as one
    * extra long, the constraint is applied INSIDE the kernel loop
    * before the partial top-k (so a partial can never be starved by
    * same-label rows crowding out the k), and the merge window keeps
    * the identical (cosine desc, neighbor asc) tie-break. Null labels
    * fail loudly — an unlabeled row can neither be a query nor a
    * negative, and dropping it silently would fake coverage.
    *
    * @return (id, neighbor_id, cosine, rank 1..k) */
  def hardNegativesKernel(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int, numBlocks: Int = 8): DataFrame =
    labelNeighborsKernel(df, idCol, vecCol, labelCol, k, numBlocks,
      sameLabel = false)

  /** Top-k SAME-label neighbors — the positive-mining twin of
    * [[hardNegativesKernel]] (a contrastive training set pairs each
    * anchor with its nearest in-class example and its hardest
    * out-of-class one — q149 composes both). Identical blocked-kernel
    * shape; anchors whose label has no other member emit nothing. */
  def nearestPositivesKernel(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int, numBlocks: Int = 8): DataFrame =
    labelNeighborsKernel(df, idCol, vecCol, labelCol, k, numBlocks,
      sameLabel = true)

  /** BOTH label-constrained neighbor lists in ONE blocked pass —
    * [[nearestPositivesKernel]] and [[hardNegativesKernel]] fused for
    * callers that need both (q149's contrastive triplets). The two
    * single-sided kernels spend their CPU on the SAME all-(block-)pairs
    * dot products — called separately they compute every cosine twice
    * (measured r14: q149 at sf0.1 burned 106 s of task CPU, ~half of it
    * the duplicate pass). One pass computes each query-candidate cosine
    * once and routes it to the same-label or different-label partial
    * top-k; per-side candidate order, NaN-first sort, (cosine desc,
    * neighbor asc) tie-break, and the merge window are IDENTICAL to the
    * single-sided kernels, so the per-side output is bit-equal
    * (differentially pinned in Round14PerfSpec).
    *
    * @return (id, neighbor_id, cosine, rank 1..k within side,
    *         same_label) */
  def labelNeighborsBothKernel(df: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int,
      numBlocks: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val lbl = when(col(labelCol).isNotNull, col(labelCol).cast("long"))
      .otherwise(raise_error(concat(
        lit("labelNeighborsBothKernel: null label for "),
        col(idCol).cast("string"))))
    val packed = df.select(col(idCol).cast("long").as("id"),
        lbl.as("__l"), asDouble(col(vecCol)).as("__v"))
      .groupBy(pmod(col("id"), lit(numBlocks)).cast("int").as("__blk"))
      .agg(collect_list(struct(col("id").as("_1"), col("__l").as("_2"),
        col("__v").as("_3"))).as("vecs"))
    val tasks = packed.select(col("__blk").as("qblk"), col("vecs").as("qv"))
      .crossJoin(packed.select(col("__blk").as("cblk"), col("vecs").as("cv")))
      .repartition(numBlocks * numBlocks) // one task per block pair
      .as[(Int, Seq[(Long, Long, Seq[Double])],
        Int, Seq[(Long, Long, Seq[Double])])]
    val partial = tasks.flatMap { case (_, qvecs, _, cvecs) =>
      labelBlockTopKBoth(qvecs, cvecs, k)
    }.toDF("id", "neighbor_id", "cosine", "same_label")
    val w = Window.partitionBy(col("id"), col("same_label"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    partial.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Fused inner loop for [[labelNeighborsBothKernel]]: one cosine per
    * candidate, routed by label equality; each side then sorts and cuts
    * exactly like [[labelBlockTopK]] (same candidate order, same
    * NaN-first key, same stable sort), so side-filtered output equals
    * the single-sided loop's bit-for-bit. */
  private def labelBlockTopKBoth(qvecs: Seq[(Long, Long, Seq[Double])],
      cvecs: Seq[(Long, Long, Seq[Double])],
      k: Int): Iterator[(Long, Long, Double, Boolean)] = {
    val cs = cvecs.map { case (id, l, v) =>
      val a = v.toArray; (id, l, a, l2(a)) }.toArray
    qvecs.iterator.flatMap { case (qid, ql, qv) =>
      val qa = qv.toArray
      val qn = l2(qa)
      val same = Array.newBuilder[(Double, Long)]
      val diff = Array.newBuilder[(Double, Long)]
      var i = 0
      while (i < cs.length) {
        val c = cs(i)
        if (c._1 != qid) {
          val cos = dotP(qa, c._3) / (qn * c._4)
          if (c._2 == ql) same += ((cos, c._1)) else diff += ((cos, c._1))
        }
        i += 1
      }
      def top(side: Array[(Double, Long)],
          s: Boolean): Iterator[(Long, Long, Double, Boolean)] =
        side.sortBy { case (cv, id) =>
          (if (cv.isNaN) Double.NegativeInfinity else -cv, id)
        }.take(k).iterator.map { case (cv, idb) => (qid, idb, cv, s) }
      top(same.result(), s = true) ++ top(diff.result(), s = false)
    }
  }

  /** MARGIN-BASED BITEXT MINING (Artetxe & Schwenk 2019, "Margin-based
    * Parallel Corpus Mining with Multilingual Sentence Embeddings",
    * ACL; the ccMatrix/LASER alignment step): candidate translation
    * pairs between two embedding sides scored by the RATIO margin
    *   margin(x, y) = cos(x, y) / ((avgₖ(x) + avgₖ(y)) / 2)
    * where avgₖ(z) is the mean cosine of z's k nearest OTHER-side
    * neighbors. Raw cosine over-pairs "hub" sentences that are close
    * to everything; dividing by both ends' neighborhood density is
    * what makes mined pairs precise — the published insight this
    * operator encodes.
    *
    * Built on [[hardNegativesKernel]] with the side column as the
    * label (different-side = cross-lingual), so BOTH directions' k-NN
    * lists come from ONE blocked-kernel pass — never all-pairs. The
    * k-cosine mean folds in rank order via a sorted-array aggregate
    * (float addition is order-dependent; the fixed fold order is what
    * lets a second engine reproduce the exact doubles — the q25
    * summation-order precedent). Pairs emit from the `srcSideValue`
    * side only (each candidate once, directed); `mutual_top1` marks
    * forward-backward agreement — the high-precision extraction gate.
    *
    * Scale shape: one blocked kernel (B² block-pair tasks), then
    * k-bounded joins on id — candidate volume is |src|·k rows, never
    * |src|·|tgt|.
    *
    * @return (src_id, tgt_id, cosine, rank 1..k by cosine desc,
    *         margin, mutual_top1) */
  def bitextMarginPairs(df: DataFrame, idCol: String, vecCol: String,
      sideCol: String, srcSideValue: Long, k: Int,
      numBlocks: Int = 8): DataFrame = {
    val nn = hardNegativesKernel(df, idCol, vecCol, sideCol, k, numBlocks)
      .materialized // reused three times: denominators, top-1, pairs
    val denom = nn.groupBy(col("id"))
      .agg(sort_array(collect_list(
        struct(col("rank").as("r"), col("cosine").as("c")))).as("cs"))
      .select(col("id"),
        (aggregate(col("cs"), lit(0.0d),
          (acc, x) => acc + x.getField("c")) / size(col("cs")))
          .as("knn_avg"))
    val top1 = nn.filter(col("rank") === 1)
      .select(col("id").as("tgt_id"), col("neighbor_id").as("t1_nn"))
    val srcIds = df.select(col(idCol).cast("long").as("src_id"),
        col(sideCol).cast("long").as("__side"))
      .filter(col("__side") === srcSideValue).drop("__side")
    nn.select(col("id").as("src_id"), col("neighbor_id").as("tgt_id"),
        col("cosine"), col("rank"))
      .join(srcIds, "src_id") // broadcast-friendly id projection
      .join(denom.select(col("id").as("src_id"),
        col("knn_avg").as("a_src")), "src_id")
      .join(denom.select(col("id").as("tgt_id"),
        col("knn_avg").as("a_tgt")), "tgt_id")
      .join(top1, Seq("tgt_id"), "left")
      .select(col("src_id"), col("tgt_id"), col("cosine"), col("rank"),
        (col("cosine") / ((col("a_src") + col("a_tgt")) / lit(2.0d)))
          .as("margin"),
        coalesce(col("rank") === 1 && col("t1_nn") === col("src_id"),
          lit(false)).as("mutual_top1"))
  }

  private def labelNeighborsKernel(df: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int, numBlocks: Int,
      sameLabel: Boolean): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val lbl = when(col(labelCol).isNotNull, col(labelCol).cast("long"))
      .otherwise(raise_error(concat(
        lit("labelNeighborsKernel: null label for "),
        col(idCol).cast("string"))))
    val packed = df.select(col(idCol).cast("long").as("id"),
        lbl.as("__l"), asDouble(col(vecCol)).as("__v"))
      .groupBy(pmod(col("id"), lit(numBlocks)).cast("int").as("__blk"))
      .agg(collect_list(struct(col("id").as("_1"), col("__l").as("_2"),
        col("__v").as("_3"))).as("vecs"))
    val tasks = packed.select(col("__blk").as("qblk"), col("vecs").as("qv"))
      .crossJoin(packed.select(col("__blk").as("cblk"), col("vecs").as("cv")))
      .repartition(numBlocks * numBlocks) // one task per block pair
      .as[(Int, Seq[(Long, Long, Seq[Double])],
        Int, Seq[(Long, Long, Seq[Double])])]
    val partial = tasks.flatMap { case (_, qvecs, _, cvecs) =>
      labelBlockTopK(qvecs, cvecs, k, sameLabel)
    }.toDF("id", "neighbor_id", "cosine")
    val w = Window.partitionBy(col("id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    partial.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** The label-constrained inner loop shared by the exact blocked kernel
    * and the IVF candidate ranking: the constraint filters BEFORE the
    * partial top-k so same-label rows can never crowd the k, and the
    * (cosine desc, neighbor asc) tie-break matches the merge window. */
  private def labelBlockTopK(qvecs: Seq[(Long, Long, Seq[Double])],
      cvecs: Seq[(Long, Long, Seq[Double])], k: Int,
      sameLabel: Boolean): Iterator[(Long, Long, Double)] = {
    val cs = cvecs.map { case (id, l, v) =>
      val a = v.toArray; (id, l, a, l2(a)) }.toArray
    qvecs.iterator.flatMap { case (qid, ql, qv) =>
      val qa = qv.toArray
      val qn = l2(qa)
      val sims = cs.iterator.collect {
        case (idb, lb, vb, nb)
            if idb != qid && (lb == ql) == sameLabel =>
          (dotP(qa, vb) / (qn * nb), idb)
      }.toArray
      sims.sortBy { case (c, id) =>
        (if (c.isNaN) Double.NegativeInfinity else -c, id)
      }.take(k)
        .iterator.map { case (c, idb) => (qid, idb, c) }
    }
  }

  /** ADC (asymmetric distance computation) top-k under PQ compression:
    * EXACT query vectors ranked against RECONSTRUCTED candidates — the
    * faiss search shape (the query side never quantizes; only the
    * corpus side lives as codes). Composes [[pqEncode]] →
    * [[pqReconstruct]] → the blocked kernel with the query block built
    * from the original vectors. Self-matches are excluded by id, so a
    * corpus vector never retrieves its own reconstruction. Approximate
    * by nature → driver-gated by a recall floor (q133, the q73
    * pattern). */
  /** @param rerank ADC shortlist size for the faiss "refine" step: the
    *                ADC estimate retrieves `rerank` (> k) candidates per
    *                query and EXACT cosine on the original vectors
    *                re-ranks them to the final k — the standard
    *                accuracy lever when the corpus has weak cluster
    *                structure (exact work is |queries|·rerank pairs, a
    *                vanishing fraction of brute force). 0 = pure ADC. */
  def pqAdcTopKForQueries(df: DataFrame, idCol: String, vecCol: String,
      cb: PqCodebooks, k: Int, queryPred: Column,
      numBlocks: Int = 8, rerank: Int = 0): DataFrame = {
    require(rerank == 0 || rerank >= k,
      s"rerank must be 0 (off) or >= k, got rerank=$rerank k=$k")
    val spark = df.sparkSession
    import spark.implicits._
    val recon = pqReconstruct(pqEncode(df, idCol, vecCol, cb), idCol, cb)
    // query side stays EXACT (unit-normalized like the encode side, so
    // the estimate is the pure ADC inner product on the sphere)
    val qUnit = df.filter(queryPred)
      .select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("__q"))
      .as[(Long, Seq[Double])]
      .map { case (id, v) => (id, pqUnit(v.toArray).toSeq) }
      .toDF("id", "vec")
    val kAdc = if (rerank > 0) rerank else k
    val packedC = packedBlocks(recon, idCol, "vec", numBlocks)
    val packedQ = packedBlocks(qUnit, "id", "vec", numBlocks)
    val tasks = packedQ.select(col("__blk").as("qblk"), col("vecs").as("qv"))
      .crossJoin(packedC.select(col("__blk").as("cblk"), col("vecs").as("cv")))
      .repartition(numBlocks * numBlocks) // one task per block pair
      .as[(Int, Seq[(Long, Seq[Double])], Int, Seq[(Long, Seq[Double])])]
    val partial = tasks.flatMap { case (_, qvecs, _, cvecs) =>
      blockTopK(qvecs, cvecs, kAdc)
    }.toDF("id", "neighbor_id", "cosine")
    val w = Window.partitionBy(col("id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val shortlist = partial.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kAdc)
    if (rerank == 0) shortlist.filter(col("rank") <= k)
    else {
      // refine: exact cosine on the original vectors over the
      // |queries|·rerank shortlist pairs, then the final k
      val qv = df.filter(queryPred)
        .select(col(idCol).cast("long").as("__qid"),
          asDouble(col(vecCol)).as("__qv"))
      val cv = df.select(col(idCol).cast("long").as("__cid"),
        asDouble(col(vecCol)).as("__cv"))
      val refined = shortlist.select(col("id"), col("neighbor_id"))
        .join(qv, col("id") === col("__qid"))
        .join(cv, col("neighbor_id") === col("__cid"))
        .select(col("id"), col("neighbor_id"),
          cosine(col("__qv"), col("__cv")).as("cosine"))
      refined.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
    }
  }

  /** Exact top-k for a SUBSET of query vectors against the FULL table —
    * the recall-gate shape (q26/q33/q73): a seeded/deterministic query
    * subset is all a floor needs, and the exact side's cost drops from
    * n² to |subset|·n while the approximate operator under test still
    * runs whole. Same bits as [[cosineTopKKernel]] restricted to the
    * subset (identical block kernel, identical tie-break). */
  def cosineTopKKernelForQueries(df: DataFrame, idCol: String,
      vecCol: String, k: Int, queryPred: Column,
      numBlocks: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val packedC = packedBlocks(df, idCol, vecCol, numBlocks)
    val packedQ = packedBlocks(df.filter(queryPred), idCol, vecCol, numBlocks)
    val tasks = packedQ.select(col("__blk").as("qblk"), col("vecs").as("qv"))
      .crossJoin(packedC.select(col("__blk").as("cblk"), col("vecs").as("cv")))
      .repartition(numBlocks * numBlocks) // one task per block pair
      .as[(Int, Seq[(Long, Seq[Double])], Int, Seq[(Long, Seq[Double])])]
    val partial = tasks.flatMap { case (_, qvecs, _, cvecs) =>
      blockTopK(qvecs, cvecs, k)
    }.toDF("id", "neighbor_id", "cosine")
    val w = Window.partitionBy(col("id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    partial.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF (inverted-file) ANN: k-means partitions the vector space into
    * `numCentroids` cells; each query probes its `nProbe` nearest cells
    * and ranks only their members. The standard high-recall scale path
    * when LSH recall is poor (weakly-correlated vectors): one equality
    * join on cell id, candidate volume ≈ nProbe/numCentroids of brute
    * force. Training is eager, like any index build: a seeded spherical
    * k-means over a driver-collected ≤100k sample (see below).
    */
  def annTopKIvf(df: DataFrame, idCol: String, vecCol: String, k: Int,
      numCentroids: Int = 16, nProbe: Int = 4, dim: Int = 64,
      seed: Long = 42L, knownCount: Option[Long] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._

    val base = df.select(col(idCol).cast("long").as("id"),
      asDouble(col(vecCol)).as("__v"))
    // Train on a bounded seeded sample: 16 centroids need ~10^5 points,
    // not 8 full passes over the table (at 100 TB, full-table fit IS the
    // index-build bottleneck). Few iterations + rough cells on purpose —
    // recall comes from nProbe, not assignment optimality. Pass
    // `knownCount` to skip the sizing count() when the caller knows it.
    // The capped sample (≤100k × dim doubles ≈ 50 MB) is collected and
    // Lloyd's runs ON THE DRIVER: a cluster-side iterative fit launches
    // ~2 jobs per iteration against a frame we already bounded to
    // driver size, and that job-launch overhead WAS the dominant cost
    // of the whole query (7.7 s of an 11.3 s wall at sf0.1; local fit:
    // <0.1 s).
    // This is the faiss shape: index training is sample-local, only
    // assignment is distributed.
    val trainCap = 100000L
    val n = knownCount.getOrElse(base.count())
    val trainBase = if (n <= trainCap) base
      else base.sample(withReplacement = false,
        trainCap.toDouble / n, seed)
    // SPHERICAL cells: similarity is cosine, so cluster and assign on
    // L2-NORMALIZED vectors (cosine NN ≡ L2 NN on the unit sphere);
    // raw-L2 cells on unnormalized vectors split cosine neighborhoods
    // across norm shells. Candidate generation only — the kernel below
    // still ranks exact cosine on the original vectors.
    def unit(v: Array[Double]): Array[Double] = {
      val n = l2(v)
      if (n == 0.0 || n.isNaN) v else v.map(_ / n)
    }
    val sample: Array[Array[Double]] =
      trainBase.select(col("__v")).as[Seq[Double]].collect()
        .map(s => unit(s.toArray))
    val centers = localKMeans(sample, numCentroids, seed, maxIter = 20)
    val bcCenters = spark.sparkContext.broadcast(centers)

    // ONE distance pass per vector: distances to all centroids computed
    // once, the nProbe nearest emitted as probe cells with the nearest
    // (rank 0) doubling as the vector's own cell membership — a
    // separate transform-style member pass would recompute every
    // centroid distance a second time; assignment and probe tie-break
    // (lowest index) are consistent by construction.
    val assigned = nearestCells(base, bcCenters, nProbe)

    val members = assigned.filter(col("__r") === 0)
      .select(col("id").as("member_id"), col("__vq").as("__vm"), col("cell"))
    val probes = assigned.select(col("id"), col("__vq"), col("cell"))

    // Rank candidates with the same blocked-kernel shape as
    // [[cosineTopKKernel]]: a row-level join here would push
    // |probes|·|cell| candidate rows (≈ nProbe/numCentroids of brute
    // force — 85M at sf0.1) through an expression eval and a full
    // window sort. Instead members pack per cell and probes pack per
    // (cell, sub-block); each join row is ONE task over two in-memory
    // arrays emitting a per-probe partial top-k, so only ≤ nProbe·k
    // rows per id reach the merge window. Per-task memory is bounded
    // by |cell| + |probe sub-block| vectors — at scale numCentroids
    // grows with n (cells stay executor-sized) and numBlocks bounds
    // the probe side exactly like the brute-force kernel's B.
    rankAgainstPacks(probes, packMembers(members), k)
  }

  /** One distance pass per vector against the broadcast centroids: the
    * `nProbe` nearest cells per id, rank 0 = the vector's own cell.
    * Assignment and probe tie-break (lowest index) are consistent by
    * construction. */
  private def nearestCells(base: DataFrame,
      bcCenters: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
      nProbe: Int): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    base.as[(Long, Seq[Double])]
      .flatMap { case (id, v) =>
        val cs = bcCenters.value
        val va = v.toArray
        val n = l2(va)
        val u = if (n == 0.0 || n.isNaN) va else va.map(_ / n)
        val dists = cs.indices.map { c =>
          val ctr = cs(c)
          var s = 0.0
          var i = 0
          while (i < ctr.length) {
            val d = u(i) - ctr(i); s += d * d; i += 1
          }
          (s, c)
        }.sortBy(x => (x._1, x._2)).take(nProbe)
        dists.zipWithIndex.map { case ((_, c), r) => (id, v, c, r) }
      }.toDF("id", "__vq", "cell", "__r")
  }

  /** (member_id, __vm, cell) → per-cell member packs. */
  private def packMembers(members: DataFrame): DataFrame =
    members.groupBy(col("cell"))
      .agg(collect_list(struct(col("member_id").as("_1"),
        col("__vm").as("_2"))).as("mv"))

  /** The blocked-kernel candidate ranking shared by the fused and
    * index forms (see the plan rationale above [[annTopKIvf]]'s pack
    * step): probes pack per (cell, sub-block), each join row is one
    * task over two in-memory arrays emitting a per-probe partial
    * top-k, and only ≤ nProbe·k rows per id reach the merge window. */
  private def rankAgainstPacks(probes: DataFrame, memberPacks: DataFrame,
      k: Int, numBlocks: Int = 8): DataFrame = {
    val spark = probes.sparkSession
    import spark.implicits._
    val probePacks = probes
      .groupBy(col("cell"), pmod(col("id"), lit(numBlocks)).cast("int").as("__pblk"))
      .agg(collect_list(struct(col("id").as("_1"),
        col("__vq").as("_2"))).as("pv"))
    val tasks = probePacks.join(memberPacks, "cell")
      .select(col("pv"), col("mv"))
      .as[(Seq[(Long, Seq[Double])], Seq[(Long, Seq[Double])])]
    val partial = tasks.flatMap { case (pvecs, mvecs) =>
      blockTopK(pvecs, mvecs, k)
    }.toDF("id", "neighbor_id", "cosine")
    val w = Window.partitionBy(col("id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    partial.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Build-once IVF index — the faiss lifecycle split into its two real
    * phases: [[buildIvfIndex]] fits the spherical centroids (driver-
    * local seeded k-means over a bounded sample) and materializes the
    * per-cell member packs ONCE; [[annSearchIvf]] then serves any query
    * frame against it, paying only the query side's centroid pass +
    * the banded kernel join. The fused [[annTopKIvf]] stays the right
    * call for one-shot self-search (it shares the member/probe distance
    * pass); the index pair is the amortized shape — at scale, persist
    * `memberPacks` next to the corpus and rehydrate (the
    * [[graft.ops.Dedup.CorpusIndex]] convention). Eager (the pack
    * materialization runs at build time — see [[Materialize]]). */
  case class IvfIndex(centers: Array[Array[Double]], memberPacks: DataFrame)

  def buildIvfIndex(df: DataFrame, idCol: String, vecCol: String,
      numCentroids: Int = 16, seed: Long = 42L,
      knownCount: Option[Long] = None): IvfIndex = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).cast("long").as("id"),
      asDouble(col(vecCol)).as("__v"))
    val trainCap = 100000L
    val n = knownCount.getOrElse(base.count())
    val trainBase = if (n <= trainCap) base
      else base.sample(withReplacement = false, trainCap.toDouble / n, seed)
    def unit(v: Array[Double]): Array[Double] = {
      val nn = l2(v)
      if (nn == 0.0 || nn.isNaN) v else v.map(_ / nn)
    }
    val sample: Array[Array[Double]] =
      trainBase.select(col("__v")).as[Seq[Double]].collect()
        .map(s => unit(s.toArray))
    val centers = localKMeans(sample, numCentroids, seed, maxIter = 20)
    val bcCenters = spark.sparkContext.broadcast(centers)
    val members = nearestCells(base, bcCenters, nProbe = 1)
      .select(col("id").as("member_id"), col("__vq").as("__vm"), col("cell"))
    IvfIndex(centers, graft.ops.Materialize(packMembers(members)))
  }

  /** Full faiss IVF-PQ index: cells are assigned from the ORIGINAL
    * vectors (so cell-assignment error never compounds quantization
    * error — the faiss semantics), but the stored members are the PQ
    * RECONSTRUCTIONS: at 100 TB the residency cost of the index drops
    * from n·dim floats to n·m code bytes + the model-sized codebooks,
    * which is what makes a corpus-wide in-memory index feasible at
    * all. Search with [[annSearchIvf]] (ADC: exact queries vs
    * reconstructed members), shortlist k' > k, then exact-refine —
    * the q135 composition; recall is driver-gated there. */
  def buildIvfPqIndex(df: DataFrame, idCol: String, vecCol: String,
      cb: PqCodebooks, numCentroids: Int = 16, seed: Long = 42L,
      knownCount: Option[Long] = None): IvfIndex = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).cast("long").as("id"),
      asDouble(col(vecCol)).as("__v"))
    val trainCap = 100000L
    val n = knownCount.getOrElse(base.count())
    val trainBase = if (n <= trainCap) base
      else base.sample(withReplacement = false, trainCap.toDouble / n, seed)
    val sample: Array[Array[Double]] =
      trainBase.select(col("__v")).as[Seq[Double]].collect()
        .map(s => pqUnit(s.toArray))
    val centers = localKMeans(sample, numCentroids, seed, maxIter = 20)
    val bcCenters = spark.sparkContext.broadcast(centers)
    // cells from the ORIGINALS; member payloads swapped for the PQ
    // reconstructions
    val cells = nearestCells(base, bcCenters, nProbe = 1)
      .select(col("id").as("member_id"), col("cell"))
    val recon = pqReconstruct(pqEncode(df, idCol, vecCol, cb), idCol, cb)
      .select(col(idCol).cast("long").as("member_id"), col("vec").as("__vm"))
    val members = cells.join(recon, "member_id")
      .select(col("member_id"), col("__vm"), col("cell"))
    IvfIndex(centers, graft.ops.Materialize(packMembers(members)))
  }

  /** ANN top-k for `queries` against a prepared [[IvfIndex]]: only the
    * query side's distance pass runs per call. Note: a query whose ID
    * equals an indexed member's id is EXCLUDED from that member's
    * results (the shared kernel's self-exclusion — corrected r14: this
    * scaladoc used to claim the opposite; the oracle-checked behavior
    * was always exclusion). Searching for duplicates of indexed
    * vectors therefore needs query ids disjoint from member ids —
    * the Round14PropertySpec twin probe pattern. */
  def annSearchIvf(queries: DataFrame, index: IvfIndex, idCol: String,
      vecCol: String, k: Int, nProbe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    val base = queries.select(col(idCol).cast("long").as("id"),
      asDouble(col(vecCol)).as("__v"))
    val bcCenters = spark.sparkContext.broadcast(index.centers)
    val probes = nearestCells(base, bcCenters, nProbe)
      .select(col("id"), col("__vq"), col("cell"))
    rankAgainstPacks(probes, index.memberPacks, k)
  }

  /** Deletion-list size under which [[deleteFromIvfIndex]] filters the
    * packs IN PLACE with a broadcast SORTED PRIMITIVE Array[Long] +
    * binary search (2 M unboxed longs = 16 MB — the
    * [[DriverGate.EdgeCap]] driver-size budget applied to single ids;
    * a Set[Long] here would BOX every entry, ~10× the stated budget —
    * r14 review); larger lists fall back to the distributed unpack →
    * anti-join → repack compaction, index-sized at any list size. */
  private[ops] val MaxBroadcastDeletes = DriverGate.EdgeCap

  /** DELETION PROPAGATION into a built [[IvfIndex]] (r13 verdict
    * "next" #8 — q235's delete-manifest semantics applied to the
    * member packs): drop the listed members from every cell WITHOUT
    * refitting centroids or touching the source corpus. Below
    * [[MaxBroadcastDeletes]] ids the filter is pack-local — one map
    * over the pack rows against a broadcast hash set, no explode, no
    * shuffle (deletion manifests are bounded in practice); above it, a
    * distributed unpack → anti-join → repack runs at index size.
    * Cells emptied by the delete are dropped (a probe of an empty cell
    * contributes nothing either way). Exact-by-construction: search
    * results can only lose the deleted neighbors — candidate ranking
    * of the survivors is byte-identical (Round14PropertySpec pins
    * delete/append order-insensitivity and the never-retrieved
    * property). */
  def deleteFromIvfIndex(index: IvfIndex, deleteIds: DataFrame,
      idCol: String,
      maxBroadcast: Long = MaxBroadcastDeletes): IvfIndex = {
    val spark = deleteIds.sparkSession
    import spark.implicits._
    val ids = deleteIds.select(col(idCol).cast("long").as("member_id"))
      .distinct()
    val packs =
      if (ids.count() <= maxBroadcast) {
        // sorted primitive array, not a Set: unboxed 8 B/id keeps the
        // broadcast at the documented budget; binarySearch is the
        // membership probe
        val bc = spark.sparkContext.broadcast(
          ids.as[Long].collect().sorted)
        index.memberPacks.as[(Int, Seq[(Long, Seq[Double])])]
          .map { case (cell, mv) =>
            (cell, mv.filterNot(m =>
              java.util.Arrays.binarySearch(bc.value, m._1) >= 0)) }
          .filter(_._2.nonEmpty)
          .toDF("cell", "mv")
      } else {
        val unpacked = index.memberPacks
          .select(col("cell"), explode(col("mv")).as("m"))
          .select(col("cell"), col("m._1").as("member_id"),
            col("m._2").as("__vm"))
        packMembers(unpacked.join(ids, Seq("member_id"), "left_anti"))
      }
    IvfIndex(index.centers, graft.ops.Materialize(packs))
  }

  /** BATCH-APPEND into a built [[IvfIndex]] without centroid refit —
    * the ANN sibling of [[Dedup.mergePrefixIndex]]'s frozen order: new
    * vectors are assigned to the EXISTING centroids and their packs
    * concatenated per cell, so the merge costs one batch-sized
    * distance pass plus a pack-local delete and a cell-count-sized
    * pack join — never an old-corpus rescan or refit.
    *
    * UPSERT SEMANTICS (r14 review): the batch's ids are deleted from
    * the existing packs FIRST, so re-appending an updated vector (or
    * replaying a batch after a partial failure) replaces the old
    * entry instead of silently duplicating it — a duplicate would
    * consume a top-k slot AND distort any recall denominator. The
    * delete is the [[deleteFromIvfIndex]] pack-local broadcast filter
    * (a no-op map when the ids are genuinely new), so disjoint-batch
    * appends are unchanged — property-pinned.
    *
    * WHY FROZEN CENTROIDS ARE SOUND: cell assignment is only the
    * candidate-pruning heuristic — ranking is exact cosine on the
    * stored vectors, and assignment is a pure function of (centers,
    * vector), so the maintained index has byte-the-same member
    * placement as an index over the final corpus under the same
    * centers (delete/append fold order is irrelevant for disjoint
    * sets — property-pinned). BOUNDED DRIFT: what decays is recall,
    * not correctness — appended mass can shift true cell populations
    * away from the trained quantizer, exactly like novel grams
    * entering the frozen df order at 0. A deployment refits on a
    * drift budget; the q337 verdict query is the recall floor that
    * gates it. */
  def appendToIvfIndex(index: IvfIndex, dfNew: DataFrame, idCol: String,
      vecCol: String): IvfIndex = {
    val spark = dfNew.sparkSession
    val base = dfNew.select(col(idCol).cast("long").as("id"),
      asDouble(col(vecCol)).as("__v"))
    val bcCenters = spark.sparkContext.broadcast(index.centers)
    val membersNew = nearestCells(base, bcCenters, nProbe = 1)
      .select(col("id").as("member_id"), col("__vq").as("__vm"),
        col("cell"))
    // upsert: evict the batch's ids from the old packs before the
    // concat (no-op for genuinely novel ids)
    val evicted = deleteFromIvfIndex(index,
      dfNew.select(col(idCol)), idCol).memberPacks
    val merged = evicted.as("o")
      .join(packMembers(membersNew).as("n"), Seq("cell"), "full_outer")
      .select(col("cell"),
        when(col("o.mv").isNull, col("n.mv"))
          .when(col("n.mv").isNull, col("o.mv"))
          .otherwise(concat(col("o.mv"), col("n.mv"))).as("mv"))
    IvfIndex(index.centers, graft.ops.Materialize(merged))
  }

  /** ANN-BACKED CONTRASTIVE MINING — the 100-TB sibling of
    * [[hardNegativesKernel]]: at scale you mine hard negatives from IVF
    * candidate lists, not blocked brute force (the exact kernel is
    * O(n²/B) compute by contract and stays as the oracle). Same IVF
    * shape as [[annTopKIvf]] — spherical centroids from a bounded
    * driver-local sample, one distance pass per vector — but the LABEL
    * rides through the cell assignment into the member/probe packs, and
    * the different-label constraint applies INSIDE the per-cell ranking
    * task BEFORE the partial top-k (the [[labelNeighborsKernel]]
    * invariant: same-label rows in a probed cell can never crowd out
    * the k). Candidate volume ≈ nProbe/numCentroids of brute force;
    * exact cosine on the originals ranks the candidates, so the only
    * approximation is cell recall — gated by the q311 verdict query
    * (recall@3 vs the exact kernel ≥ 0.85; measured 0.913 at sf0.01 and
    * 0.908 at sf0.1 with 16 cells / nProbe 10, deterministic for a given
    * sf since the k-means is seeded). The testdata embeddings are
    * UNIFORM-RANDOM — near-orthogonal, so cells carry almost no signal
    * and recall scales ≈ linearly with nProbe (0.60 at nProbe 4, 0.84
    * at 8, 0.91 at 10 — recorded in SCALING.md "Round-9 hardening");
    * this is ANN's worst case, and on real clustered embeddings the
    * same operator reaches the same recall at nProbe ≈ 2-4 with a
    * proportionally deeper prune. nProbe is the recall lever, exactly
    * as in [[annTopKIvf]].
    *
    * @return (id, neighbor_id, cosine, rank 1..k) — same schema and
    *         tie-break as [[hardNegativesKernel]] */
  def hardNegativesIvf(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int, numCentroids: Int = 16, nProbe: Int = 4,
      numBlocks: Int = 8, seed: Long = 42L,
      knownCount: Option[Long] = None): DataFrame =
    labelNeighborsIvf(df, idCol, vecCol, labelCol, k, numCentroids,
      nProbe, numBlocks, seed, knownCount, sameLabel = false)

  /** Positive-mining twin of [[hardNegativesIvf]] (nearest SAME-label
    * neighbor from IVF candidates) — together they give the q149
    * triplet composition an end-to-end ANN path. Measured recall@3 vs
    * [[nearestPositivesKernel]] on the uniform-random embeddings table
    * at nProbe 10/16: 0.856 at sf0.01, 0.860 at sf0.1 (slightly below
    * the negatives because positives constrain candidates to one label
    * — fewer per probed cell). */
  def nearestPositivesIvf(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int, numCentroids: Int = 16, nProbe: Int = 4,
      numBlocks: Int = 8, seed: Long = 42L,
      knownCount: Option[Long] = None): DataFrame =
    labelNeighborsIvf(df, idCol, vecCol, labelCol, k, numCentroids,
      nProbe, numBlocks, seed, knownCount, sameLabel = true)

  private def labelNeighborsIvf(df: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int, numCentroids: Int,
      nProbe: Int, numBlocks: Int, seed: Long, knownCount: Option[Long],
      sameLabel: Boolean): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val lbl = when(col(labelCol).isNotNull, col(labelCol).cast("long"))
      .otherwise(raise_error(concat(
        lit("labelNeighborsIvf: null label for "),
        col(idCol).cast("string"))))
    val base = df.select(col(idCol).cast("long").as("id"),
      lbl.as("__l"), asDouble(col(vecCol)).as("__v"))
    val trainCap = 100000L
    val n = knownCount.getOrElse(base.count())
    val trainBase = if (n <= trainCap) base
      else base.sample(withReplacement = false, trainCap.toDouble / n, seed)
    def unit(v: Array[Double]): Array[Double] = {
      val nn = l2(v)
      if (nn == 0.0 || nn.isNaN) v else v.map(_ / nn)
    }
    val sample: Array[Array[Double]] =
      trainBase.select(col("__v")).as[Seq[Double]].collect()
        .map(s => unit(s.toArray))
    val centers = localKMeans(sample, numCentroids, seed, maxIter = 20)
    val bcCenters = spark.sparkContext.broadcast(centers)
    // one distance pass per vector (the [[nearestCells]] shape with the
    // label carried through — a post-hoc label join would re-shuffle
    // nProbe·n rows on id for a column the pass already holds)
    val assigned = base.as[(Long, Long, Seq[Double])]
      .flatMap { case (id, l, v) =>
        val cs = bcCenters.value
        val va = v.toArray
        val nm = l2(va)
        val u = if (nm == 0.0 || nm.isNaN) va else va.map(_ / nm)
        val dists = cs.indices.map { c =>
          val ctr = cs(c)
          var s = 0.0
          var i = 0
          while (i < ctr.length) {
            val d = u(i) - ctr(i); s += d * d; i += 1
          }
          (s, c)
        }.sortBy(x => (x._1, x._2)).take(nProbe)
        dists.zipWithIndex.map { case ((_, c), r) => (id, l, v, c, r) }
      }.toDF("id", "__l", "__vq", "cell", "__r")
    // rank 0 only → each corpus vector lives in exactly ONE member pack,
    // so a probe's ≤ nProbe·k partials can never contain a duplicate
    // neighbor and the merge window needs no distinct
    val memberPacks = assigned.filter(col("__r") === 0)
      .groupBy(col("cell"))
      .agg(collect_list(struct(col("id").as("_1"), col("__l").as("_2"),
        col("__vq").as("_3"))).as("mv"))
    val probePacks = assigned
      .groupBy(col("cell"),
        pmod(col("id"), lit(numBlocks)).cast("int").as("__pblk"))
      .agg(collect_list(struct(col("id").as("_1"), col("__l").as("_2"),
        col("__vq").as("_3"))).as("pv"))
    val tasks = probePacks.join(memberPacks, "cell")
      .select(col("pv"), col("mv"))
      .as[(Seq[(Long, Long, Seq[Double])], Seq[(Long, Long, Seq[Double])])]
    val partial = tasks.flatMap { case (pvecs, mvecs) =>
      labelBlockTopK(pvecs, mvecs, k, sameLabel)
    }.toDF("id", "neighbor_id", "cosine")
    val w = Window.partitionBy(col("id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    partial.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Seeded Lloyd's k-means over an in-memory sample (the IVF index
    * build). Deterministic: k-means++-style farthest-point seeding from
    * a seeded start, nearest-centroid ties to the lowest index, empty
    * cells keep their previous center. */
  private[ops] def localKMeans(points: Array[Array[Double]], k: Int,
      seed: Long, maxIter: Int): Array[Array[Double]] = {
    require(points.nonEmpty, "k-means needs a non-empty sample")
    val dim = points.head.length
    val rng = new scala.util.Random(seed)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // k-means++ seeding: next center drawn with probability ∝ D²(point,
    // chosen set) — the seeded RNG keeps it deterministic; D²-sampling
    // (not greedy farthest-point) avoids electing outliers as cells
    val centers = new Array[Array[Double]](k)
    centers(0) = points(rng.nextInt(points.length)).clone()
    val minD = Array.fill(points.length)(Double.MaxValue)
    var c = 1
    while (c < k) {
      var total = 0.0; var i = 0
      while (i < points.length) {
        val d = d2(points(i), centers(c - 1))
        if (d < minD(i)) minD(i) = d
        total += minD(i)
        i += 1
      }
      var r = rng.nextDouble() * total
      var pick = points.length - 1
      i = 0
      var acc = 0.0
      var found = false
      while (i < points.length && !found) {
        acc += minD(i)
        if (acc >= r) { pick = i; found = true }
        i += 1
      }
      centers(c) = points(pick).clone()
      c += 1
    }
    var iter = 0
    while (iter < maxIter) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      var i = 0
      while (i < points.length) {
        val p = points(i)
        var bc = 0; var bd = Double.MaxValue; var j = 0
        while (j < k) {
          val d = d2(p, centers(j))
          if (d < bd) { bd = d; bc = j }
          j += 1
        }
        val s = sums(bc); var t = 0
        while (t < dim) { s(t) += p(t); t += 1 }
        counts(bc) += 1
        i += 1
      }
      var j = 0
      while (j < k) {
        if (counts(j) > 0) {
          val s = sums(j); var t = 0
          while (t < dim) { s(t) /= counts(j); t += 1 }
          centers(j) = s
        }
        j += 1
      }
      iter += 1
    }
    centers
  }

  /** Deterministic pseudo-random hyperplanes for sign-LSH (seeded on the
    * driver; shipped as literals — they are plan constants). */
  private[ops] def hyperplanes(numPlanes: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(rng.nextGaussian()))
  }

  /** Random-hyperplane LSH bucket id (int of numPlanes sign bits) for
    * each vector. Vectors in the same bucket are ANN candidates. */
  def lshBucket(vec: Column, numPlanes: Int, dim: Int,
      seed: Long = 42L): Column = {
    // compact HOF form on purpose: this runs once per VECTOR (cheap), and
    // unrolling 16 tables × planes × dim terms into one projection blows
    // codegen/compiler memory (observed OOM at 8g driver heap); only the
    // per-PAIR dot product warrants unrolling.
    val planes = hyperplanes(numPlanes, dim, seed)
    planes.zipWithIndex.map { case (p, i) =>
      val dot = aggregate(
        zip_with(vec, array(p.map(lit): _*), (x, w) => x * w),
        lit(0.0), (acc, v) => acc + v)
      when(dot > 0, lit(1 << i)).otherwise(lit(0))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Approximate top-k per vector via MULTI-TABLE sign-LSH: L independent
    * tables of `numPlanes` hyperplanes each; candidates = pairs sharing a
    * bucket in ANY table (single probe per table). One explode + one
    * bucket-key shuffle join; quadratic only within buckets. Recall for a
    * pair at angle θ is 1-(1-(1-θ/π)^numPlanes)^numTables — tune tables
    * up / planes down for recall, the reverse for cost. A single table is
    * near-useless on weakly-correlated data (measured 2% recall@3 with
    * one 8-plane table on the test embeddings; 16×6 gives ~2/3 recall at
    * a quarter of brute-force cost).
    */
  def annTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
      numPlanes: Int, dim: Int, numTables: Int = 16,
      seed: Long = 42L): DataFrame = {
    val v = withVec(df, idCol, vecCol)
    // all tables' buckets in ONE native-expression pass per row (the
    // Column-form equivalent carries ~6k plan literals and re-runs a
    // HOF chain per table — bucket ids proven equal in tests)
    val planes: Array[Array[Array[Double]]] =
      (0 until numTables).map(t =>
        hyperplanes(numPlanes, dim, seed + t)
          .map(_.toArray).toArray).toArray
    val buckets = v
      .select(col(idCol), col("__v"),
        posexplode(graft.functions.HashSketches.signLshBuckets(
          col("__v"), planes)).as(Seq("tbl", "bucket")))
    val a = buckets.alias("a")
    val b = buckets.alias("b")
    // Vectors are CARRIED through the bucket join and the cosine computed
    // before the pair-dedup: a pair colliding in several tables costs a
    // few redundant expression evals, which beats re-joining the vector
    // table twice after distinct() (two extra shuffles of the whole
    // candidate set — measured slower than exact brute force at sf0.1).
    val pairs = a.join(b, col("a.tbl") === col("b.tbl")
        && col("a.bucket") === col("b.bucket")
        && col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id"), col(s"b.$idCol").as("neighbor_id"),
        graft.functions.CosineSimilarity(col("a.__v"), col("b.__v"))
          .as("cosine"))
      .distinct()
    val w = Window.partitionBy(col("id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Near-dup PAIRS (cosine ≥ tau) via multi-table sign-LSH — the
    * bounded-work scale path beside the exact [[cosinePairsKernel]]:
    * the kernel's B² block-pair tasks still enumerate every id pair
    * (exactness costs n²/2 dot products no matter how it's blocked),
    * while here work is candidate-bounded — one explode (L rows/vector),
    * one bucket-key shuffle, dot products only for in-bucket collisions.
    * Approximate by nature (recall = 1-(1-(1-θ/π)^p)^L per pair angle);
    * the measured recall vs the exact kernel is driver-gated in q56.
    * Same carry-the-vector strategy as [[annTopK]]: cosine is computed
    * on the collision row, then `(min id, max id)` pairs dedup once.
    */
  def cosinePairsLsh(df: DataFrame, idCol: String, vecCol: String,
      tau: Double, numPlanes: Int = 6, dim: Int = 64, numTables: Int = 16,
      seed: Long = 42L): DataFrame = {
    val v = withVec(df, idCol, vecCol)
    val planes: Array[Array[Array[Double]]] =
      (0 until numTables).map(t =>
        hyperplanes(numPlanes, dim, seed + t)
          .map(_.toArray).toArray).toArray
    val buckets = v
      .select(col(idCol), col("__v"),
        posexplode(graft.functions.HashSketches.signLshBuckets(
          col("__v"), planes)).as(Seq("tbl", "bucket")))
    val a = buckets.alias("a")
    val b = buckets.alias("b")
    a.join(b, col("a.tbl") === col("b.tbl")
        && col("a.bucket") === col("b.bucket")
        && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        graft.functions.CosineSimilarity(col("a.__v"), col("b.__v"))
          .as("cosine"))
      .filter(col("cosine") >= tau)
      .distinct()
  }

  /** Deterministic HASHED random projection — Achlioptas-style ±1
    * dimensionality reduction (public JL-lemma folklore) with the
    * "random" matrix derived from the shared portable hash instead of
    * an RNG: sign(j, i) = ±1 by the parity of md5-60("j:i"). Distances
    * distort by the usual JL bounds, but the projection is REPRODUCIBLE
    * anywhere — any engine (and any future run) rebuilds the identical
    * matrix from the formula, the property an RNG matrix can't give a
    * cross-engine gate.
    *
    * The sign matrix is computed ONCE on the driver (outDim·dim
    * entries — model-sized, the IVF-centroid pattern) and rides into
    * the plan as literal arrays; each output coordinate is a
    * sequential left fold over the input vector (bit-identical to
    * DuckDB's list_sum), so projections hash-verify exactly (q126).
    * Pure codegen'd map — no shuffle, no UDF.
    *
    * @return (idCol, proj array<double> of outDim)
    */
  def hashProjection(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, outDim: Int): DataFrame = {
    require(dim >= 1 && outDim >= 1 && outDim <= dim,
      s"need 1 <= outDim <= dim, got dim=$dim outDim=$outDim")
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(j: Int, i: Int): Double = {
      val hex = md.digest(s"$j:$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      // the shared md5-60 construction: first 15 hex chars as a long
      if (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2 == 0) 1.0
      else -1.0
    }
    val signs: IndexedSeq[Seq[Double]] =
      (0 until outDim).map(j => (0 until dim).map(i => sign(j, i)))
    val v = asDouble(col(vecCol))
    val coords = signs.map { s =>
      aggregate(zip_with(v, typedLit(s), (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x)
    }
    df.select(col(idCol), array(coords: _*).as("proj"))
  }

  // --------------------------------------------- distributed k-means

  /** DISTRIBUTED Lloyd's k-means over fixed-point-quantized vectors —
    * the cluster-then-prune primitive (SemDeDup / D4-style semantic
    * curation) at corpus scale, where [[localKMeans]]'s driver-side
    * sample fit is no longer representative. Every Lloyd iteration is
    * one assignment map + one map-side-combined aggregation; the model
    * (k·dim longs) is the only thing that ever leaves the executors.
    *
    * Quantization: q_i = floor(v_i · 2¹⁰) — a POWER-OF-TWO scale, so
    * the double multiply is exact (exponent shift) and floor is
    * unambiguous; from there every distance is an exact BIGINT
    * Σ(q_a−q_b)², making assignment order-independent and restatable
    * bit-exactly by any engine (float centroid means would differ
    * across summation orders — the reason naive k-means can't be
    * hash-verified). Center update: elem = floor(sum/n) computed as
    * floor(double(sum)/n) — IEEE-identical everywhere for |sum| ≲ 2⁵³
    * (the rounded quotient cannot cross an integer boundary while
    * 1/n exceeds its ulp).
    *
    * Determinism contract: init = the k lowest-id vectors (cluster j =
    * rank j); assignment ties break to the lowest cluster index; an
    * emptied cluster keeps its previous center. No RNG anywhere.
    *
    * Scale shape: the quantized frame is materialized once and feeds
    * iters+1 passes; assignment is a pure codegen'd map against k
    * broadcast literal centers (no shuffle, no explode); the update
    * posexplodes to (cluster, dim) grain — ×dim rows INTO a map-side-
    * combined hash agg that leaves k·dim rows per partition, and only
    * k·dim rows reach the driver (the IVF-centroid bounded-collect
    * pattern). iters driver-loop rounds = iters shuffles of k·dim·P
    * partial rows, independent of corpus size.
    *
    * @return (idCol, cluster int, dist2 bigint) under the final centers
    */
  /** Per-group embedding centroids over the same fixed-point lattice as
    * [[kmeansQuantized]] (elem = floor(sum(floor(v·scale))/n)) — the
    * source/cluster profile vector a curation pipeline reports, and a
    * deterministic seed for IVF cells. Exact integer math end to end,
    * so the result is order-independent and engine-restatable.
    *
    * Scale shape: posexplode to (group, dim) grain into ONE
    * map-side-combined aggregation (k·dim rows out), then a per-group
    * sorted re-assembly whose per-group state is one dim-sized array.
    *
    * @return (groupCol, centroid array<long>, n_vectors)
    */
  def groupCentroidsQuantized(df: DataFrame, groupCol: String,
      vecCol: String, scale: Int = 1024): DataFrame = {
    require(scale > 0 && (scale & (scale - 1)) == 0,
      s"scale must be a positive power of two, got $scale")
    df.select(col(groupCol),
        posexplode(transform(asDouble(col(vecCol)),
          x => floor(x * lit(scale.toDouble)).cast("long")))
          .as(Seq("__dim", "__x")))
      .groupBy(col(groupCol), col("__dim"))
      .agg(sum(col("__x")).as("__s"), count(lit(1)).as("__n"))
      .withColumn("__m",
        floor(col("__s").cast("double") / col("__n")).cast("long"))
      .groupBy(col(groupCol))
      .agg(
        transform(array_sort(collect_list(struct(col("__dim"), col("__m")))),
          x => x.getField("__m")).as("centroid"),
        max(col("__n")).as("n_vectors"))
  }

  def kmeansQuantized(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, scale: Int = 1024): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(scale > 0 && (scale & (scale - 1)) == 0,
      s"scale must be a positive power of two, got $scale")
    val qv = df.select(col(idCol),
        transform(asDouble(col(vecCol)),
          x => floor(x * lit(scale.toDouble)).cast("long")).as("__q"))
      .materialized // feeds iters+1 corpus passes
    def distTo(center: Seq[Long]): Column =
      aggregate(
        zip_with(col("__q"), typedLit(center), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, v) => acc + v)
    def withAssignment(centers: Array[Seq[Long]]): DataFrame = {
      val dists = array(centers.toSeq.map(distTo): _*)
      // array_position returns the FIRST index of the min — the
      // lowest-cluster tie-break, 1-based
      qv.withColumn("__d", dists)
        .withColumn("dist2", array_min(col("__d")))
        .withColumn("cluster",
          (array_position(col("__d"), col("dist2")) - 1).cast("int"))
    }
    var centers: Array[Seq[Long]] = qv
      .orderBy(col(idCol).asc).limit(k).collect()
      .map(_.getAs[scala.collection.Seq[Long]]("__q").toSeq)
    require(centers.length == k,
      s"k=$k exceeds the ${centers.length} input vectors")
    for (_ <- 1 to iters) {
      val sums = withAssignment(centers)
        .select(col("cluster"), posexplode(col("__q")).as(Seq("__dim", "__x")))
        .groupBy(col("cluster"), col("__dim"))
        .agg(sum(col("__x")).as("__s"), count(lit(1)).as("__n"))
        .collect() // k·dim rows — model-sized
      val next = centers.clone()
      sums.groupBy(_.getInt(0)).foreach { case (cl, rows) =>
        next(cl) = rows.sortBy(_.getInt(1)).map { r =>
          math.floor(r.getLong(2).toDouble / r.getLong(3)).toLong
        }.toSeq
      } // clusters absent from sums (emptied) keep their center
      centers = next
    }
    withAssignment(centers)
      .select(col(idCol), col("cluster"), col("dist2"))
  }

  /** MATRYOSHKA prefix-dimension ANN (Kusupati et al. 2022,
    * "Matryoshka Representation Learning": nested embeddings keep
    * most of their geometry in a prefix of the coordinates — the
    * adaptive-retrieval recipe is shortlist-at-low-dim, re-rank at
    * full dim): the shortlist is the exact blocked kernel run over
    * the FIRST `prefixDims` coordinates (a prefixDims/dim fraction of
    * the arithmetic and shuffle volume), and the k winners are an
    * exact full-dimension re-rank of each query's shortlist-bounded
    * candidate set. With MRL-trained embeddings the shortlist misses
    * little; the q167 recall gate measures exactly that and flips on
    * collapse (the q26/q33 verdict convention for approximate
    * operators).
    *
    * Scale shape: the prefix pass inherits [[cosineTopKKernel]]'s
    * blocked shape (quadratic only inside block pairs, never an
    * all-pairs shuffle); the refine is two key joins carrying full
    * vectors for SHORTLIST·n rows only, and the final per-query
    * window sorts shortlist-bounded groups.
    *
    * @return (id, neighbor_id, cosine full-dim, rank 1..k)
    */
  def annTopKMatryoshka(df: DataFrame, idCol: String, vecCol: String,
      k: Int, prefixDims: Int, shortlist: Int,
      numBlocks: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    require(prefixDims >= 1, s"prefixDims must be >= 1, got $prefixDims")
    val prefix = df.select(col(idCol),
      slice(asDouble(col(vecCol)), 1, prefixDims).as("__pv"))
    val cands = cosineTopKKernel(prefix, idCol, "__pv", shortlist,
        numBlocks)
      .select(col("id"), col("neighbor_id"))
    val full = df.select(col(idCol), asDouble(col(vecCol)).as("__v"))
    val refined = cands
      .join(full.select(col(idCol).as("id"), col("__v").as("__qv")), "id")
      .join(full.select(col(idCol).as("neighbor_id"),
        col("__v").as("__cv")), "neighbor_id")
      .withColumn("cosine",
        graft.functions.CosineSimilarity(col("__qv"), col("__cv")))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    refined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** PROTOTYPICALITY pruning over the quantized clustering — the
    * centroid-distance curation step of Sorscher et al. 2022 ("Beyond
    * neural scaling laws: beating power law scaling via data pruning")
    * as practiced by cluster-based web curation: assign every embedding
    * to its [[kmeansQuantized]] cluster, rank members by distance to
    * the final center (farthest first), and mark the farthest
    * `prunePermille` of each cluster as outliers (`keep = false`) —
    * the "prune the least prototypical examples" recipe. Pure-integer
    * per-mille thresholds (rank·1000 ≤ n·‰, the
    * [[Sampling.topFractionPerGroup]] arithmetic), so the surviving
    * set is engine- and cluster-size-independent.
    *
    * Rank shape: NOT a per-cluster window (a cluster is 1/k of the
    * corpus — one task would sort it): ONE [[Packing.globalRowNumber]]
    * two-pass scan over (cluster asc, dist2 desc, id asc) with the
    * per-cluster rank recovered by subtracting the cluster's broadcast
    * min rank (the q156 shape). Everything upstream is
    * [[kmeansQuantized]]'s exact fixed-point math, so q159's DuckDB
    * twin restates assignment, ranks, and the keep verdicts bit-exactly.
    *
    * `dropClosest = true` flips the rank direction: prune the MOST
    * prototypical (closest-to-centroid) per-mille instead — the
    * diversification half of D4 (Tirumala et al. 2023, "D4: Improving
    * LLM Pretraining via Document De-Duplication and
    * Diversification"), which drops near-centroid redundancy AFTER
    * semantic dedup (q178 composes both).
    *
    * @return (idCol, cluster, dist2, cluster_n, keep)
    */
  def pruneOutliersByCentroid(df: DataFrame, idCol: String,
      vecCol: String, k: Int, iters: Int, prunePermille: Long,
      scale: Int = 1024, dropClosest: Boolean = false): DataFrame = {
    require(prunePermille >= 0 && prunePermille <= 1000,
      s"prunePermille must be in [0, 1000], got $prunePermille")
    val assigned = kmeansQuantized(df, idCol, vecCol, k, iters, scale)
    val distOrd = if (dropClosest) col("dist2").asc else col("dist2").desc
    val ranked = Packing.globalRowNumber(assigned,
      Seq(col("cluster").asc, distOrd, col(idCol).asc), "__gr")
    val mins = ranked.groupBy(col("cluster"))
      .agg(min(col("__gr")).as("__min"), count(lit(1)).as("cluster_n"))
    ranked.join(broadcast(mins), "cluster")
      .withColumn("keep",
        !((col("__gr") - col("__min") + 1) * 1000 <=
          col("cluster_n") * prunePermille))
      .select(col(idCol), col("cluster"), col("dist2"),
        col("cluster_n"), col("keep"))
  }

  /** CROSS-FRAME exact top-k: every query-frame vector's k nearest
    * candidate-frame vectors — the two-corpus form of
    * [[cosineTopKKernel]] (same blocked shape, same FP contract), for
    * searches where queries and candidates are DIFFERENT tables:
    * semantic decontamination (train vs eval embeddings, q185),
    * eval-neighborhood mining, cross-corpus near-dup re-ranking.
    *
    * @return (id, neighbor_id, cosine, rank 1..k) */
  def crossCosineTopK(qDf: DataFrame, qIdCol: String, qVecCol: String,
      cDf: DataFrame, cIdCol: String, cVecCol: String, k: Int,
      numBlocks: Int = 8): DataFrame = {
    val spark = qDf.sparkSession
    import spark.implicits._
    val packedQ = packedBlocks(
      qDf.select(col(qIdCol), col(qVecCol)), qIdCol, qVecCol, numBlocks)
    val packedC = packedBlocks(
      cDf.select(col(cIdCol), col(cVecCol)), cIdCol, cVecCol, numBlocks)
    val tasks = packedQ.select(col("__blk").as("qblk"), col("vecs").as("qv"))
      .crossJoin(packedC.select(col("__blk").as("cblk"), col("vecs").as("cv")))
      .repartition(numBlocks * numBlocks) // one task per block pair
      .as[(Int, Seq[(Long, Seq[Double])], Int, Seq[(Long, Seq[Double])])]
    val partial = tasks.flatMap { case (_, qvecs, _, cvecs) =>
      blockTopK(qvecs, cvecs, k, excludeSelf = false)
    }.toDF("id", "neighbor_id", "cosine")
    val w = Window.partitionBy(col("id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    partial.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IN-CONTEXT PRETRAINING document ordering (Shi et al. 2023,
    * "In-Context Pretraining: Language Modeling Beyond Document
    * Boundaries", public): long-context training wants RELATED
    * documents adjacent in the packed stream, so the corpus is
    * clustered in embedding space and each cluster is linearized by a
    * greedy nearest-neighbor walk — start somewhere, repeatedly hop to
    * the most-similar unvisited member. Feed the resulting
    * (cluster, chain_pos) order into [[graft.ops.Packing]] and packed
    * sequences carry topically-coherent neighborhoods.
    *
    * Determinism contract (what makes q184's replay exact): vectors
    * quantize by the [[kmeansQuantized]] floor, similarity is the
    * EXACT INTEGER dot product of quantized vectors (no FP anywhere),
    * the walk starts at each cluster's minimum id, and ties fall to
    * the lowest id.
    *
    * Scale shape: clustering is the distributed [[kmeansQuantized]];
    * the walk is per-cluster state via `flatMapGroups` — the paper's
    * own O(c²) greedy run inside each cluster, so k must be sized to
    * keep clusters memory-bounded (the per-group-bounded-state caveat
    * of the document-rebuild ops; for clusters past ~10⁵ members,
    * compose an ANN-graph walk from [[annTopK]] instead).
    *
    * @return (idCol, cluster, chain_pos 0-based) */
  def greedySimilarityChains(df: DataFrame, idCol: String,
      vecCol: String, k: Int, iters: Int, scale: Int = 1024): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val assigned = kmeansQuantized(df, idCol, vecCol, k, iters, scale)
      .select(col(idCol).cast("long").as("id"), col("cluster"))
    val qv = df.select(col(idCol).cast("long").as("id"),
      transform(asDouble(col(vecCol)),
        x => floor(x * lit(scale.toDouble)).cast("long")).as("__q"))
    val members = assigned.join(qv, "id")
      .select(col("cluster").cast("int"), col("id"), col("__q"))
      .as[(Int, Long, Seq[Long])]
    members.groupByKey(_._1)
      .flatMapGroups { (cl, it) =>
        val ms = it.map { case (_, id, q) => (id, q.toArray) }.toArray
          .sortBy(_._1)
        val visited = new Array[Boolean](ms.length)
        val out = new Array[(Long, Int, Int)](ms.length)
        var cur = 0 // min id = first after sort
        visited(0) = true
        out(0) = (ms(0)._1, cl, 0)
        var pos = 1
        while (pos < ms.length) {
          var best = -1
          var bestDot = Long.MinValue
          val cq = ms(cur)._2
          var j = 0
          while (j < ms.length) {
            if (!visited(j)) {
              val oq = ms(j)._2
              var s = 0L
              var i = 0
              while (i < cq.length) { s += cq(i) * oq(i); i += 1 }
              // strict > : ties fall to the lowest id (ms is id-sorted)
              if (s > bestDot) { bestDot = s; best = j }
            }
            j += 1
          }
          visited(best) = true
          out(pos) = (ms(best)._1, cl, pos)
          cur = best
          pos += 1
        }
        out.iterator
      }
      .toDF(idCol, "cluster", "chain_pos")
  }

  /** Multi-vector (late-interaction) MaxSim retrieval, the ColBERT
    * scoring rule (Khattab & Zaharia, SIGIR 2020): each id's embedding
    * is treated as `chunks` contiguous token sub-vectors, and
    * score(q, d) = Σ_{i∈q} max_{j∈d} ⟨qᵢ, dⱼ⟩ — every query token
    * matches its best document token, so a long document can't dilute
    * a strong local match the way single-vector cosine does.
    *
    * Exactness: each token dot product is the sequential left fold
    * (the object-doc convention), each per-query-token best is a max
    * (order-free), and the per-token bests are floored to MICRO-INT
    * before the final sum — so the cross-token sum is associative
    * integer addition and the (score desc, doc asc) ranking hashes
    * identically in any engine.
    *
    * Scale shape: the query side is the serving batch — model-sized by
    * contract (require-capped), collected once and BROADCAST; scoring
    * is then one pass over the document scan (m·n·chunks² dots, the
    * irreducible exact-MaxSim cost), each task emitting its partial
    * top-k so the merge window sees ≤ partitions·k rows per query,
    * never the full m·n score matrix. The ANN variants (IVF shortlist
    * then exact MaxSim re-rank) compose from [[annSearchIvf]] upstream.
    *
    * @param queryPred predicate selecting the query subset of `df`
    * @return (qid, doc_id, score_micro, rank) — self-pairs excluded */
  /** score(q, d) = Σᵢ maxⱼ ⟨qᵢ, dⱼ⟩ in micro-ints — the one MaxSim
    * definition [[maxSimTopK]] and [[maxSimRerank]] both call, so the
    * exhaustive and re-rank paths can never drift. */
  private def maxSimMicro(qv: Array[Double], dv: Array[Double],
      chunks: Int, sub: Int): Long = {
    var scoreMicro = 0L
    var i = 0
    while (i < chunks) {
      var best = Double.NegativeInfinity
      var j = 0
      while (j < chunks) {
        var dot = 0.0
        var t = 0
        while (t < sub) {
          dot += qv(i * sub + t) * dv(j * sub + t)
          t += 1
        }
        if (dot > best) best = dot
        j += 1
      }
      scoreMicro += math.floor(best * 1e6).toLong
      i += 1
    }
    scoreMicro
  }

  def maxSimTopK(df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, chunks: Int, k: Int,
      maxQueries: Int = 100000): DataFrame = {
    require(chunks >= 1, s"chunks must be >= 1, got $chunks")
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val vecs = df.select(col(idCol).cast("long"),
        col(vecCol).cast("array<double>"))
      .as[(Long, Seq[Double])]
    val qRows = vecs.filter(queryPred).collect()
    require(qRows.nonEmpty, "query predicate selected no rows")
    require(qRows.length <= maxQueries,
      s"query side has ${qRows.length} rows > maxQueries=$maxQueries — " +
        "broadcast scoring needs a bounded serving batch")
    val dim = qRows.head._2.length
    require(dim % chunks == 0, s"dim $dim not divisible by $chunks chunks")
    val sub = dim / chunks
    val bcQ = spark.sparkContext.broadcast(
      qRows.map { case (id, v) => (id, v.toArray) })
    val partial = vecs.mapPartitions { it =>
      val qs = bcQ.value
      // per-partition partial top-k: a bounded (score asc, id desc)
      // min-heap per query, so the task emits ≤ |queries|·k rows and
      // the merge window sees ≤ partitions·k per query — never m·n
      val heaps = qs.map { case (qid, _) =>
        qid -> collection.mutable.PriorityQueue.empty[(Long, Long)](
          // reverse of the output order: the heap head is the WORST
          // kept pair, evicted first
          Ordering.by[(Long, Long), (Long, Long)] {
            case (score, did) => (-score, did)
          })
      }.toMap
      it.foreach { case (did, dvSeq) =>
        val dv = dvSeq.toArray
        qs.foreach { case (qid, qv) =>
          if (qid != did) {
            val scoreMicro = maxSimMicro(qv, dv, chunks, sub)
            val h = heaps(qid)
            if (h.size < k) h.enqueue((scoreMicro, did))
            else {
              val (ws, wd) = h.head
              // strictly better than the worst kept: higher score, or
              // equal score with smaller doc id (the output tie-break)
              if (scoreMicro > ws || (scoreMicro == ws && did < wd)) {
                h.dequeue(); h.enqueue((scoreMicro, did))
              }
            }
          }
        }
      }
      heaps.iterator.flatMap { case (qid, h) =>
        h.iterator.map { case (s, d) => (qid, d, s) }
      }
    }.toDF("qid", "doc_id", "score_micro")
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score_micro").desc, col("doc_id").asc)
    partial.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
  }

  /** Exact-MaxSim RE-RANK of a candidate shortlist — the second stage
    * of the amortized late-interaction pipeline: a cheap first stage
    * ([[annSearchIvf]] over the concatenated vectors) proposes
    * candidates, and only those (qid, doc_id) pairs pay the chunks²
    * MaxSim cost. Per pair the work is row-local after two hash joins
    * attach the vectors — no broadcast, no query-side collect, so the
    * query side may be arbitrarily large here (it's the shortlist
    * that bounds the work, |q|·k' pairs instead of m·n).
    *
    * Same [[maxSimMicro]] scoring as [[maxSimTopK]] (shared def —
    * can't drift); same (score desc, doc asc) ranking.
    *
    * @param pairs (qid, doc_id) candidate shortlist
    * @return (qid, doc_id, score_micro, rank ≤ k) */
  def maxSimRerank(pairs: DataFrame, df: DataFrame, idCol: String,
      vecCol: String, chunks: Int, k: Int): DataFrame = {
    require(chunks >= 1 && k >= 1, s"need chunks/k >= 1, got $chunks/$k")
    val spark = df.sparkSession
    import spark.implicits._
    val vecs = df.select(col(idCol).cast("long").as("__vid"),
      col(vecCol).cast("array<double>").as("__v"))
    val scored = pairs
      .select(col("qid").cast("long"), col("doc_id").cast("long"))
      .filter(col("qid") =!= col("doc_id"))
      .join(vecs.select(col("__vid").as("qid"), col("__v").as("__qv")),
        "qid")
      .join(vecs.select(col("__vid").as("doc_id"), col("__v").as("__dv")),
        "doc_id")
      // pin the tuple decode BY NAME: the using-column joins happen to
      // put doc_id first today, but MaxSim is asymmetric in (query,
      // doc) and a join-output column-order change would silently swap
      // the sides — select explicitly so the mapping can't drift
      .select(col("qid"), col("doc_id"), col("__qv"), col("__dv"))
      .as[(Long, Long, Seq[Double], Seq[Double])]
      .map { case (qid, did, qv, dv) =>
        val qa = qv.toArray
        require(qa.length % chunks == 0,
          s"dim ${qa.length} not divisible by $chunks chunks")
        (qid, did, maxSimMicro(qa, dv.toArray, chunks, qa.length / chunks))
      }
      .toDF("qid", "doc_id", "score_micro")
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score_micro").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
  }
}
