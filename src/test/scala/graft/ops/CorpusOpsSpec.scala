package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  private lazy val embs = spark.read.parquet(s"$sf/embeddings.parquet")

  test("portable md5-60 token hash is the cross-engine value") {
    // pinned to int(hashlib.md5(b'hello').hexdigest()[:15], 16) — the
    // same value DuckDB's CAST('0x'||substr(md5(t),1,15) AS BIGINT) gives
    val v = Seq("hello").toDF("t")
      .select(Dedup.md5Hash60($"t")).as[Long].collect().head
    assert(v == 419982666956583591L)
  }

  test("exact dedup keeps one survivor per distinct text") {
    val d = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y")).toDF("doc_id", "text")
    val out = Dedup.exactDedup(d, "text", "doc_id")
      .select("doc_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L), (3L, 1L)))
  }

  test("cross-corpus pairs: finds exactly the (new, old) near-dups, " +
      "never a within-side pair") {
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val newDocs = Seq(
      (100L, base),                      // near-dup of old 1 (identical)
      (101L, "zz yy xx ww vv uu"),       // no old match
      (102L, base + " w11"),             // J(102,1) = 8/9 ≥ 0.5
    ).toDF("doc_id", "text")
    val oldDocs = Seq(
      (1L, base),
      (2L, "aa bb cc dd ee ff gg hh"),
      // old-old near-dup of 2 — must NOT be reported
      (3L, "aa bb cc dd ee ff gg hh ii"),
    ).toDF("doc_id", "text")
    val out = Dedup.crossCorpusJaccardPairs(newDocs, oldDocs,
        "doc_id", "text", n = 3, tau = 0.5)
      .select($"id_new", $"id_old").as[(Long, Long)].collect().toSet
    assert(out == Set((100L, 1L), (102L, 1L)))
  }

  test("cross-corpus pairs tolerate the same id existing in both corpora") {
    val d = Seq((7L, "w1 w2 w3 w4 w5 w6")).toDF("doc_id", "text")
    val out = Dedup.crossCorpusJaccardPairs(d, d, "doc_id", "text",
        n = 3, tau = 0.5)
      .select($"id_new", $"id_old", $"jaccard")
      .as[(Long, Long, Double)].collect()
    assert(out.toSeq == Seq((7L, 7L, 1.0)))
  }

  test("duplicate clusters: min-label components over pair edges") {
    // two components: a 6-node path (worst-case diameter for label
    // propagation) and a triangle; 99 is absent from pairs entirely
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("id_a", "id_b")
    val out = Dedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert((1L to 6L).forall(out(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(out(_) == 10L))
    assert(!out.contains(99L))
  }

  test("resolveClusters: longest member survives, ties to lowest id, " +
    "singletons keep themselves") {
    val members = Seq(
      (1L, 1L, 10L), (2L, 1L, 30L), (3L, 1L, 30L), // tie at 30 → id 2
      (9L, 9L, 5L),                                // singleton
    ).toDF("doc_id", "cluster_id", "n_tokens")
    val out = Dedup.resolveClusters(members, "doc_id", "cluster_id",
        "n_tokens")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 1L, 2L, false)))
    assert(out(2L) == ((2L, 1L, 2L, true)))
    assert(out(3L) == ((3L, 1L, 2L, false)))
    assert(out(9L) == ((9L, 9L, 9L, true)))
  }

  test("star clustering matches min-label propagation on adversarial graphs") {
    // path (deep diameter — the case star ops exist for), triangle,
    // star, two-node component, and a seeded random graph
    val rng = new scala.util.Random(7)
    val random = Seq.fill(120)((rng.nextInt(40).toLong + 100L,
      rng.nextInt(40).toLong + 100L)).filter(p => p._1 != p._2)
    val fixed = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 24L), (20L, 23L), (20L, 22L), (20L, 21L),
      (30L, 31L))
    val pairs = (fixed ++ random ++ Seq((50L, 50L)))  // self-loop-only id
      .toDF("id_a", "id_b")
    val prop = Dedup.duplicateClusters(pairs, maxIter = 60)
      .as[(Long, Long)].collect().toMap
    val star = Dedup.duplicateClustersStar(pairs)
      .as[(Long, Long)].collect().toMap
    assert(star == prop)
    assert((1L to 6L).forall(star(_) == 1L))
    assert(star(50L) == 50L)   // contract: every id in pairs gets a row
  }

  test("star clustering converges on a long path in few rounds") {
    // 200-node path: propagation needs ~200 rounds, star ops O(log n) —
    // maxIter=12 would loudly fail if the alternation degraded to
    // per-hop propagation
    val pairs = (1L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.duplicateClustersStar(pairs, maxIter = 12)
      .as[(Long, Long)].collect().toMap
    assert(out.size == 200 && out.values.forall(_ == 1L))
  }

  test("wordNGrams produces distinct consecutive triples") {
    val g = Seq("a b c d a b c d").toDF("text")
      .select(Dedup.wordNGrams($"text", 3)).as[Seq[String]].collect().head
    assert(g.toSet == Set("a b c", "b c d", "c d a", "d a b"))
  }

  test("LSH jaccard pairs equal brute-force pairs on real docs") {
    val grams = docs.select($"doc_id", Dedup.wordNGrams($"text", 3).as("g"))
    val brute = grams.alias("a").join(grams.alias("b"),
        col("a.doc_id") < col("b.doc_id"))
      .withColumn("j", size(array_intersect($"a.g", $"b.g")) /
        size(array_union($"a.g", $"b.g")))
      .filter($"j" >= 0.5)
      .select(col("a.doc_id"), col("b.doc_id"))
      .as[(Long, Long)].collect().toSet
    val lsh = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(lsh == brute)
    assert(brute.nonEmpty)   // planted near-dups exist at sf0.001 too
  }

  test("native sketch expressions equal their Column-composed forms") {
    import graft.functions.HashSketches
    val grams = docs.select($"doc_id", split($"text", "\\s+").as("w"))
      .select($"doc_id", Dedup.wordNGramsFromWords($"w", 3).as("g"))
    val mismatch = grams.select(
        Dedup.minhashSignature($"g", 128).as("col_sig"),
        HashSketches.minhashSignature($"g", 128).as("nat_sig"))
      .filter($"col_sig" =!= $"nat_sig").count()
    assert(mismatch == 0)
    val shMismatch = docs.select(
        Dedup.simhash64(split($"text", "\\s+")).as("a"),
        HashSketches.simhash64(split($"text", "\\s+")).as("b"))
      .filter($"a" =!= $"b").count()
    assert(shMismatch == 0)
    val md5Mismatch = docs.select(
        Dedup.simhashBits(split($"text", "\\s+"), 60, Dedup.md5Hash60).as("a"),
        HashSketches.simhashMd5_60(split($"text", "\\s+")).as("b"))
      .filter($"a" =!= $"b").count()
    assert(md5Mismatch == 0)
    // the positioned gram-anchor expression (duplicateSpans' stream):
    // bit-identical to the composed HOF + md5/substring/conv form —
    // the q325/q328 oracles hash-depend on this
    val gramMismatch = docs
      .select(split(trim($"text"), "\\s+").as("w"))
      .filter(org.apache.spark.sql.functions.size($"w") >= 12)
      .select(
        org.apache.spark.sql.functions.expr(
          """transform(sequence(1, size(w) - 11),
            |  i -> struct(CAST(i AS INT) AS pos,
            |    CAST(conv(substring(md5(
            |      concat_ws(' ', slice(w, i, 12))), 1, 15), 16, 10)
            |      AS BIGINT) AS h))""".stripMargin).as("a"),
        HashSketches.gramHash60($"w", 12).as("b"))
      .filter($"a" =!= $"b").count()
    assert(gramMismatch == 0)
  }

  test("native sign-LSH buckets equal the Column-composed lshBucket form") {
    import graft.functions.HashSketches
    val numTables = 4
    val numPlanes = 6
    val planes = (0 until numTables).map(t =>
      Similarity.hyperplanes(numPlanes, 64, 42L + t)
        .map(_.toArray).toArray).toArray
    val v = embs.select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val colForm = v.select($"vec_id",
      array((0 until numTables).map(t =>
        Similarity.lshBucket($"v", numPlanes, 64, 42L + t)): _*).as("b"))
    val natForm = v.select($"vec_id",
      HashSketches.signLshBuckets($"v", planes).as("b"))
    val mismatch = colForm.alias("c").join(natForm.alias("n"), "vec_id")
      .filter(col("c.b") =!= col("n.b")).count()
    assert(mismatch == 0)
  }

  test("simhash of identical texts equal; hamming pairs include near-dups") {
    val d = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "q w e r t y u i")).toDF("doc_id", "text")
    val fps = d.select($"doc_id", Dedup.simhash64(split($"text", " ")).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
    val pairs = Dedup.simhashPairs(d, "doc_id", "text", 3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("cosine is exact: self-similarity 1.0, orthogonal 0.0") {
    val d = Seq((Seq(1.0, 0.0), Seq(1.0, 0.0)), (Seq(1.0, 0.0), Seq(0.0, 2.0)))
      .toDF("a", "b")
    val r = d.select(Similarity.cosine($"a", $"b")).as[Double].collect()
    assert(r(0) == 1.0 && r(1) == 0.0)
  }

  test("cosine kernel path equals DataFrame brute force exactly") {
    val dfPairs = Similarity.cosinePairs(embs, "vec_id", "embedding", 0.4)
      .as[(Long, Long, Double)].collect().toSet
    val kPairs = Similarity.cosinePairsKernel(embs, "vec_id", "embedding", 0.4)
      .as[(Long, Long, Double)].collect().toSet
    assert(kPairs == dfPairs && kPairs.nonEmpty)   // incl. identical doubles
    val dfTop = Similarity.cosineTopK(embs, "vec_id", "embedding", 3)
      .select("id", "neighbor_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val kTop = Similarity.cosineTopKKernel(embs, "vec_id", "embedding", 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(kTop == dfTop)
  }

  test("ANN LSH top-k recall vs exact top-k is usable") {
    val exact = Similarity.cosineTopK(embs, "vec_id", "embedding", 3)
      .select($"id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val ann = Similarity.annTopK(embs, "vec_id", "embedding", 3,
        numPlanes = 6, dim = 64, numTables = 16)
      .select($"id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ann).size.toDouble / exact.size
    info(f"ANN recall@3 with 16 tables x 6 planes: $recall%.3f")
    assert(recall > 0.5)
    assert(ann.size <= exact.size)
  }

  test("multimodal: batch decode path equals expression twin; frame offsets") {
    val blobs = docs.select($"doc_id", $"text".cast("binary").as("blob"))
    val viaCodec = Multimodal.decodeImages(blobs, "doc_id", "blob", batchSize = 7)
    val viaExpr = blobs.select($"doc_id", Multimodal.metaExpr($"blob").as("m"))
      .select($"doc_id", $"m.mime", $"m.width", $"m.height", $"m.channels")
    assert(viaCodec.exceptAll(viaExpr).isEmpty && viaExpr.exceptAll(viaCodec).isEmpty)
    val offs = blobs.limit(1)
      .select(Multimodal.frameOffsets($"blob", 4)).as[Seq[Long]].collect().head
    assert(offs.length == 4 && offs.head == 0L && offs == offs.sorted)
  }

  test("JavaImageIoCodec really decodes: PNG/JPEG dims, mime sniff, " +
      "exact solid-fill channel means, loud failure on garbage") {
    def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val bytes = png(20, 12, (200 << 16) | (100 << 8) | 50)
    val meta = Multimodal.JavaImageIoCodec.decode(bytes)
    assert(meta == Multimodal.MediaMeta("image/png", 20, 12, 3))
    val stats = Multimodal.JavaImageIoCodec.decodeStats(bytes)
    assert((stats.mean_r, stats.mean_g, stats.mean_b) == ((200.0, 100.0, 50.0)))
    // JPEG: mime sniff + dims (lossy → no exact mean assertion)
    val jimg = new java.awt.image.BufferedImage(
      8, 6, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val jbos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(jimg, "jpg", jbos)
    val jmeta = Multimodal.JavaImageIoCodec.decode(jbos.toByteArray)
    assert(jmeta.mime == "image/jpeg" && jmeta.width == 8 && jmeta.height == 6)
    intercept[IllegalArgumentException] {
      Multimodal.JavaImageIoCodec.decode("not an image".getBytes)
    }
    // batch mapPartitions path == direct codec call
    val blobs = Seq((1L, bytes), (2L, png(33, 17, 0x0a0b0c)))
      .toDF("doc_id", "blob")
    val viaDf = Multimodal
      .decodeImageStats(blobs, "doc_id", "blob", batchSize = 1)
      .as[(Long, String, Int, Int, Int, Double, Double, Double)]
      .collect().toSet
    val direct = Seq((1L, bytes),
      (2L, png(33, 17, 0x0a0b0c))).map { case (id, b) =>
      val s = Multimodal.JavaImageIoCodec.decodeStats(b)
      (id, s.mime, s.width, s.height, s.channels, s.mean_r, s.mean_g, s.mean_b)
    }.toSet
    assert(viaDf == direct)
  }

  test("PngFixtures round-trip: q87's Spark side reproduces the oracle " +
      "formulas from real decoded bytes") {
    val dir = graft.sources.PngFixtures.write(spark, "/root/testdata/sf0.001")
    val bin = spark.read.format("binaryFile").load(s"$dir/*.png")
      .select(regexp_extract($"path", "img_(\\d+)\\.png", 1)
        .cast("long").as("doc_id"), $"content")
    val out = Multimodal.decodeImageStats(bin, "doc_id", "content")
      .as[(Long, String, Int, Int, Int, Double, Double, Double)].collect()
    assert(out.nonEmpty)
    out.foreach { case (id, mime, w, h, c, mr, mg, mb) =>
      assert(mime == "image/png" && c == 3)
      assert(w == graft.sources.PngFixtures.widthOf(id))
      assert(h == graft.sources.PngFixtures.heightOf(id))
      assert(mr == graft.sources.PngFixtures.redOf(id).toDouble)
      assert(mg == graft.sources.PngFixtures.greenOf(id).toDouble)
      assert(mb == graft.sources.PngFixtures.blueOf(id).toDouble)
    }
  }

  test("aHash64: exact hash on 8x8 patterns, pooling-invariant on 2x " +
      "upscale, loud on tiny images; near-dup pairs match brute force") {
    def patternPng(scale: Int, th: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(8 * scale, 8 * scale,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8 * scale; x <- 0 until 8 * scale)
        img.setRGB(x, y,
          if ((x / scale) + 8 * (y / scale) < th) 0xffffff else 0x000000)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // 8x8: hash is the low-threshold run of ones
    assert(Multimodal.JavaImageIoCodec.aHash64(patternPng(1, 20)) ==
      (1L << 20) - 1)
    // 16x16 (each cell doubled): pooling reduces to the same grid
    assert(Multimodal.JavaImageIoCodec.aHash64(patternPng(2, 20)) ==
      (1L << 20) - 1)
    // smaller than the pooling grid → loud
    val tiny = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val tbos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(tiny, "png", tbos)
    intercept[IllegalArgumentException] {
      Multimodal.JavaImageIoCodec.aHash64(tbos.toByteArray)
    }
    // fixtures round-trip: decoded hashes match the 2^th − 1 formula,
    // banded pairs == brute-force |Δth| <= 3 over the same ids
    val dir = graft.sources.PngFixtures
      .writePatterned(spark, "/root/testdata/sf0.001")
    val bin = spark.read.format("binaryFile").load(s"$dir/*.png")
      .select(regexp_extract($"path", "pat_(\\d+)\\.png", 1)
        .cast("long").as("doc_id"), $"content")
    val fp = Multimodal.imageAHash(bin, "doc_id", "content")
    val hashes = fp.as[(Long, Long)].collect()
    assert(hashes.nonEmpty)
    hashes.foreach { case (id, h) =>
      assert(h == (1L << graft.sources.PngFixtures.threshOf(id)) - 1,
        s"doc $id")
    }
    val pairs = Dedup.fingerprintPairs(fp, "doc_id", "ahash", maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    val th = hashes.map { case (id, _) =>
      id -> graft.sources.PngFixtures.threshOf(id)
    }.toMap
    val brute = (for {
      a <- th.keys; b <- th.keys
      if a < b && math.abs(th(a) - th(b)) <= 3
    } yield (a, b, math.abs(th(a) - th(b)))).toSet
    assert(pairs == brute)
  }

  test("JavaSoundCodec really decodes WAV headers; fixtures round-trip " +
      "the q91 oracle formulas") {
    val dir = graft.sources.WavFixtures.write(spark, "/root/testdata/sf0.001")
    val bin = spark.read.format("binaryFile").load(s"$dir/*.wav")
      .select(regexp_extract($"path", "clip_(\\d+)\\.wav", 1)
        .cast("long").as("doc_id"), $"content")
    val out = Multimodal.decodeAudioMeta(bin, "doc_id", "content")
      .as[(Long, String, Int, Int, Long, Double)].collect()
    assert(out.nonEmpty)
    out.foreach { case (id, mime, rate, ch, frames, dur) =>
      assert(mime == "audio/wav")
      assert(rate == graft.sources.WavFixtures.rateOf(id))
      assert(ch == graft.sources.WavFixtures.channelsOf(id))
      assert(frames == graft.sources.WavFixtures.framesOf(id))
      assert(dur == frames.toDouble / rate)
    }
    intercept[IllegalArgumentException] {
      Multimodal.JavaSoundCodec.decodeAudio("not audio".getBytes)
    }
  }

  test("multimodal twins agree on blobs past the Int32 overflow point") {
    // 300 KB: n*7919 overflows Int32 — Int arithmetic would throw under
    // ANSI in the expression path while the codec wrapped
    val big = Seq((1L, Array.fill[Byte](300 * 1024)(7))).toDF("doc_id", "blob")
    val viaExpr = big.select(Multimodal.metaExpr($"blob").as("m"))
      .select($"m.width", $"m.height").as[(Int, Int)].collect().head
    val m = Multimodal.StubCodec.decode(Array.fill[Byte](300 * 1024)(7))
    assert(viaExpr == ((m.width, m.height)))
  }

  test("kernel top-k matches window form when zero-norm vectors yield NaN") {
    // Spark SQL orders NaN as the LARGEST double; the kernel's Scala-side
    // partial must not truncate it regardless of block assignment
    val d = (0L until 12L).map { i =>
      val v = if (i == 5L) Seq.fill(4)(0.0)
              else Seq(1.0 + i, 2.0, 3.0, i.toDouble)
      (i, v)
    }.toDF("vec_id", "embedding")
    val viaWindow = Similarity.cosineTopK(d, "vec_id", "embedding", 3)
      .select("id", "neighbor_id", "rank").as[(Long, Long, Int)]
      .collect().toSet
    val viaKernel = Similarity
      .cosineTopKKernel(d, "vec_id", "embedding", 3, numBlocks = 4)
      .select("id", "neighbor_id", "rank").as[(Long, Long, Int)]
      .collect().toSet
    assert(viaKernel == viaWindow)
    // the zero-norm neighbor ranks first everywhere (NaN is largest)
    assert(viaWindow.count { case (_, nb, r) => nb == 5L && r == 1 } == 11)

    val pairsWindow = Similarity.cosinePairs(d, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val pairsKernel = Similarity
      .cosinePairsKernel(d, "vec_id", "embedding", 0.9, numBlocks = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairsKernel == pairsWindow)
  }

  test("hardNegativesKernel: matches brute force, same-label rows never " +
      "crowd the top-k, null label is loud") {
    val rng = new scala.util.Random(7)
    val d = (0L until 30L).map { i =>
      (i, (i % 3).toInt, Seq.fill(6)(rng.nextDouble()))
    }.toDF("vec_id", "label", "embedding")
    val out = Similarity
      .hardNegativesKernel(d, "vec_id", "embedding", "label", 4,
        numBlocks = 4)
      .select($"id", $"neighbor_id", $"rank").as[(Long, Long, Int)]
      .collect()
    // brute force: per query, rank wrong-label neighbors by (cosine
    // desc, id asc)
    val rows = d.select($"vec_id", $"label", $"embedding")
      .as[(Long, Int, Seq[Double])].collect()
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
    }
    val brute = rows.flatMap { case (qid, ql, qv) =>
      rows.filter { case (id, l, _) => id != qid && l != ql }
        .map { case (id, _, v) => (cos(qv, v), id) }
        .sortBy { case (c, id) => (-c, id) }.take(4).zipWithIndex
        .map { case ((_, id), i) => (qid, id, i + 1) }
    }.toSet
    assert(out.toSet == brute)
    // every neighbor really is wrong-label
    val lbl = rows.map(r => r._1 -> r._2).toMap
    out.foreach { case (q, nb, _) => assert(lbl(q) != lbl(nb)) }
    val e = intercept[Exception] {
      Similarity.hardNegativesKernel(
        Seq((1L, Some(0), Seq(1.0)), (2L, None, Seq(2.0)))
          .toDF("vec_id", "label", "embedding"),
        "vec_id", "embedding", "label", 1).count()
    }
    assert(e.getMessage != null)
  }

  test("bitextMarginPairs: hand-computed margins, mutual-top1 flags, " +
      "pairs emit from the source side only") {
    // side 0: v0=(1,0), v2=(0,1); side 1: v1=(1,0), v3=(0,1) —
    // cross cosines are exactly 1 (aligned) or 0 (orthogonal), every
    // id's 2-NN mean is (1+0)/2 = 0.5, so an aligned pair's margin is
    // 1 / ((0.5+0.5)/2) = 2.0 and both aligned pairs are mutual top-1
    val d = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(1.0, 0.0)),
      (2L, Seq(0.0, 1.0)), (3L, Seq(0.0, 1.0)),
    ).toDF("vec_id", "embedding").withColumn("side", $"vec_id" % 2)
    val out = Similarity
      .bitextMarginPairs(d, "vec_id", "embedding", "side",
        srcSideValue = 0L, k = 2, numBlocks = 2)
      .select($"src_id", $"tgt_id", $"cosine", $"rank", $"margin",
        $"mutual_top1")
      .as[(Long, Long, Double, Int, Double, Boolean)].collect().toSet
    assert(out == Set(
      (0L, 1L, 1.0, 1, 2.0, true),
      (0L, 3L, 0.0, 2, 0.0, false),
      (2L, 3L, 1.0, 1, 2.0, true),
      (2L, 1L, 0.0, 2, 0.0, false)))
    // no pair originates from the target side
    assert(out.forall { case (s, t, _, _, _, _) =>
      s % 2 == 0 && t % 2 == 1 })
  }

  test("nearestPositivesKernel: matches brute force over SAME-label " +
      "neighbors; singleton labels emit nothing") {
    val rng = new scala.util.Random(11)
    // label 9 has exactly one member → no positive rows for it
    val d = ((0L until 24L).map { i =>
      (i, (i % 3).toInt, Seq.fill(6)(rng.nextDouble()))
    } :+ ((99L, 9, Seq.fill(6)(rng.nextDouble()))))
      .toDF("vec_id", "label", "embedding")
    val out = Similarity
      .nearestPositivesKernel(d, "vec_id", "embedding", "label", 2,
        numBlocks = 4)
      .select($"id", $"neighbor_id", $"rank").as[(Long, Long, Int)]
      .collect()
    val rows = d.select($"vec_id", $"label", $"embedding")
      .as[(Long, Int, Seq[Double])].collect()
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
    }
    val brute = rows.flatMap { case (qid, ql, qv) =>
      rows.filter { case (id, l, _) => id != qid && l == ql }
        .map { case (id, _, v) => (cos(qv, v), id) }
        .sortBy { case (c, id) => (-c, id) }.take(2).zipWithIndex
        .map { case ((_, id), i) => (qid, id, i + 1) }
    }.toSet
    assert(out.toSet == brute)
    assert(!out.exists(_._1 == 99L))
  }

  test("hardNegativesIvf/nearestPositivesIvf: full-probe parity with the " +
      "exact kernels, label constraint holds at reduced probe, null is loud") {
    val rng = new scala.util.Random(13)
    val d = (0L until 40L).map { i =>
      (i, (i % 3).toInt, Seq.fill(6)(rng.nextDouble()))
    }.toDF("vec_id", "label", "embedding")
    // probing ALL cells makes the IVF form examine every candidate, so
    // it must agree with the exact kernel BIT-FOR-BIT (same constraint,
    // same cosine arithmetic, same tie-break)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", $"neighbor_id", $"cosine", $"rank")
        .as[(Long, Long, Double, Int)].collect().toSet
    assert(
      rows(Similarity.hardNegativesIvf(d, "vec_id", "embedding", "label",
        3, numCentroids = 4, nProbe = 4, numBlocks = 2)) ==
      rows(Similarity.hardNegativesKernel(d, "vec_id", "embedding",
        "label", 3, numBlocks = 2)))
    assert(
      rows(Similarity.nearestPositivesIvf(d, "vec_id", "embedding", "label",
        3, numCentroids = 4, nProbe = 4, numBlocks = 2)) ==
      rows(Similarity.nearestPositivesKernel(d, "vec_id", "embedding",
        "label", 3, numBlocks = 2)))
    // reduced probe: every emitted neighbor still honors the label
    // constraint, and every cosine is the EXACT value (the pruning is
    // candidate-side only — scoring never approximates)
    val lbl = (0L until 40L).map(i => i -> (i % 3).toInt).toMap
    val reduced = Similarity.hardNegativesIvf(d, "vec_id", "embedding",
        "label", 3, numCentroids = 4, nProbe = 2, numBlocks = 2)
      .select($"id", $"neighbor_id").as[(Long, Long)].collect()
    reduced.foreach { case (q, nb) => assert(lbl(q) != lbl(nb)) }
    val e = intercept[Exception] {
      Similarity.hardNegativesIvf(
        Seq((1L, Some(0), Seq(1.0)), (2L, None, Seq(2.0)))
          .toDF("vec_id", "label", "embedding"),
        "vec_id", "embedding", "label", 1, numCentroids = 2).count()
    }
    assert(e.getMessage != null)
  }

  test("native cosine yields null on length mismatch, like the HOF form") {
    val d = Seq((Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)),
      (Seq(1.0, 0.0), Seq(1.0, 0.0))).toDF("a", "b")
    val native = d.select(graft.functions.CosineSimilarity($"a", $"b"))
      .as[Option[Double]].collect().toSeq
    val hof = d.select(Similarity.cosine($"a", $"b"))
      .as[Option[Double]].collect().toSeq
    assert(native == Seq(None, Some(1.0)))
    assert(native == hof)
  }

  test("IVF ANN recall beats LSH at comparable candidate volume") {
    val exact = Similarity.cosineTopK(embs, "vec_id", "embedding", 3)
      .select($"id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.annTopKIvf(embs, "vec_id", "embedding", 3,
        numCentroids = 16, nProbe = 6)
      .select($"id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    info(f"IVF recall@3 (16 cells, probe 6): $recall%.3f")
    assert(recall > 0.5)
  }

  test("IVF index lifecycle: build once, search external queries — " +
      "fused and index forms agree on self-search") {
    val index = Similarity.buildIvfIndex(embs, "vec_id", "embedding",
      numCentroids = 16)
    // external query = a corpus vector nudged slightly: its nearest
    // indexed neighbor must be the original vector
    val origRow = embs.select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].filter(_._1 == 7L).collect().head
    val q = Seq((9999L, origRow._2.map(_ * 1.0001)))
      .toDF("vec_id", "embedding")
    val got = Similarity.annSearchIvf(q, index, "vec_id", "embedding",
        k = 1, nProbe = 6)
      .select($"id", $"neighbor_id").as[(Long, Long)].collect()
    assert(got.toSeq == Seq((9999L, 7L)))
    // index-form self-search matches the fused operator's result set
    val fused = Similarity.annTopKIvf(embs, "vec_id", "embedding", 3,
        numCentroids = 16, nProbe = 6)
      .select($"id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val viaIndex = Similarity.annSearchIvf(embs, index, "vec_id",
        "embedding", k = 3, nProbe = 6)
      .select($"id", $"neighbor_id").as[(Long, Long)].collect().toSet
    assert(viaIndex == fused)
  }

  test("LSH pair recall vs exact kernel pairs is usable") {
    val exact = Similarity.cosinePairsKernel(embs, "vec_id", "embedding", 0.45)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val lsh = Similarity.cosinePairsLsh(embs, "vec_id", "embedding", 0.45)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val recall = (exact & lsh).size.toDouble / exact.size
    info(f"LSH pair recall at tau=0.45: $recall%.3f (${exact.size} true pairs)")
    assert((lsh -- exact).isEmpty)   // verification is exact: no false pairs
    assert(recall > 0.5)
  }

  test("tfidf top terms: rare terms outrank common ones; ties by term") {
    val d = Seq((1L, "x x common"), (2L, "y common"), (3L, "common"))
      .toDF("doc_id", "text")
    val top = TextAnalysis.tfIdfTop(d, "doc_id", "text", 1)
      .select($"doc_id", $"term").as[(Long, String)].collect().toMap
    // "x" tf=2 df=1 → 2*3/1=6 beats "common" (1*3/3=1); doc 3 only has common
    assert(top == Map(1L -> "x", 2L -> "y", 3L -> "common"))
  }

  test("hash split: deterministic, covers all rows, ~80/10/10") {
    val ids = spark.range(10000).toDF("id")
    val s1 = Sampling.hashSplit(ids, "id", "seedA")
      .groupBy($"split").count().as[(String, Long)].collect().toMap
    assert(s1.values.sum == 10000)
    assert(s1("train") > 7500 && s1("train") < 8500)
    assert(s1("val") > 700 && s1("val") < 1300)
    // identical assignment on re-run (stability is the whole point)
    val a = Sampling.hashSplit(ids, "id", "seedA")
      .select($"id", $"split").as[(Long, String)].collect().toSet
    val b = Sampling.hashSplit(ids.repartition(7), "id", "seedA")
      .select($"id", $"split").as[(Long, String)].collect().toSet
    assert(a == b)
  }

  test("sequence packing: contiguous intervals, exact chunk spans") {
    val d = Seq((1L, 300), (2L, 300), (3L, 1200), (4L, 24))
      .toDF("doc_id", "n")
    val out = Packing.chunkAssignments(d, "doc_id", $"n", seqLen = 512)
      .select($"doc_id", $"token_start", $"token_end", $"first_chunk",
        $"last_chunk", $"chunk_offset")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .sortBy(_._1)
    // stream: [0,300) [300,600) [600,1800) [1800,1824)
    assert(out.map(r => (r._2, r._3)).toSeq ==
      Seq((0L, 300L), (300L, 600L), (600L, 1800L), (1800L, 1824L)))
    assert(out.map(r => (r._4, r._5)).toSeq ==
      Seq((0L, 0L), (0L, 1L), (1L, 3L), (3L, 3L)))
    assert(out.map(_._6).toSeq == Seq(0L, 300L, 88L, 264L))
  }

  test("globalRowNumber: dense ranks in order, limit cuts the tail, " +
      "stable across input partitioning") {
    val d = spark.range(1000).toDF("id")
      .withColumn("k", pmod($"id" * 37, lit(1000)))
    val ranked = Packing.globalRowNumber(d, Seq($"k".asc), "rn",
      numPartitions = 7)
    val out = ranked.select($"k", $"rn").as[(Long, Long)].collect().sortBy(_._2)
    assert(out.map(_._2).toSeq == (0L until 1000L))
    assert(out.map(_._1).toSeq == out.map(_._1).sorted.toSeq)
    // limit truncates densely and skips tail partitions wholesale
    val top = Packing.globalRowNumber(d, Seq($"k".asc), "rn", limit = 10,
      numPartitions = 7).select($"k").as[Long].collect().sorted
    assert(top.toSeq == (0L until 10L))
    // repartitioned input → identical ranks
    val again = Packing.globalRowNumber(d.repartition(13), Seq($"k".asc),
      "rn", numPartitions = 7)
      .select($"k", $"rn").as[(Long, Long)].collect().toSet
    assert(again == out.toSet)
  }

  test("buildVocab plan has no window at all — the rank is the two-pass " +
      "distributed scan") {
    val docs = Seq((1L, "aa bb aa")).toDF("doc_id", "text")
    val plan = TextAnalysis.buildVocab(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("Materialize: checkpoint strategy works for cluster deployments, " +
      "bad values fail loudly") {
    val d = Seq((1L, "x")).toDF("id", "t")
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    spark.conf.set(Materialize.StrategyKey, "checkpoint")
    try {
      val out = Materialize(d).as[(Long, String)].collect()
      assert(out.toSeq == Seq((1L, "x")))
      spark.conf.set(Materialize.StrategyKey, "bogus")
      intercept[IllegalArgumentException] { Materialize(d) }
    } finally spark.conf.unset(Materialize.StrategyKey)
  }

  test("langId picks the dominant stopword language deterministically") {
    val d = Seq("the cat of the hat is", "der hund und die katze ist",
      "el perro y la casa es", "zzz qqq",
      // score ties go to the alphabetically-first language — the q28/q54
      // oracle CASE order encodes exactly this, so it's pinned here
      "the der", "the el", "der\tel").toDF("text")
    val r = d.select(TextAnalysis.langId($"text")).as[String].collect().toSeq
    assert(r == Seq("en", "de", "es", "unknown", "de", "en", "de"))
  }

  test("token counts and fingerprint are order-insensitive where claimed") {
    val d = Seq("a b, c! d", "d c! b, a").toDF("text")
    val counts = d.select(TextAnalysis.tokenCount($"text"),
      TextAnalysis.bpeTokenCount($"text")).as[(Int, Int)].collect()
    assert(counts(0) == ((4, 6)))   // a / b / , / c / ! / d
    val fps = d.select(TextAnalysis.bagFingerprint($"text")).as[String].collect()
    // bag fingerprint sorts tokens: "a" "b," "c!" "d" — same bag → same fp
    assert(fps(0) == fps(1))
    val roll = d.select(TextAnalysis.minHashFingerprint($"text", 4))
      .as[Long].collect()
    assert(roll(0) != 0L)
  }

  test("winnowing: shared substring >= w+k-1 chars shares a fingerprint") {
    val shared = "the quick brown fox jumps over the lazy dog!"  // 44 chars
    val d = Seq((1L, s"AAAA $shared BBBB"), (2L, s"XXXXXX $shared YYYY"),
      (3L, "totally unrelated content here with no overlap at all"))
      .toDF("doc_id", "text")
    // k=12, w=16: guarantee threshold w+k-1 = 27 <= 44
    val fps = TextAnalysis.winnowingFingerprints(d, "doc_id", "text")
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty)   // guaranteed shared fingerprint
    assert((fps(1L) & fps(3L)).isEmpty)    // unrelated docs don't collide
    // short doc (< k chars) contributes no rows rather than failing
    val short = TextAnalysis.winnowingFingerprints(
      Seq((9L, "tiny")).toDF("doc_id", "text"), "doc_id", "text")
    assert(short.count() == 0)
  }

  test("native winnowing sketch equals the HOF construction on real docs") {
    // covers m < w (truncated single window), m == w, and m >> w
    val edge = Seq((1L, "exactly twelve!"), (2L, "a" * 27), (3L, "b" * 28))
      .toDF("doc_id", "text")
    for ((df, k, w) <- Seq((docs, 12, 16), (edge, 12, 16), (docs, 8, 4))) {
      val native = TextAnalysis.winnowingFingerprints(df, "doc_id", "text", k, w)
        .as[(Long, Long)].collect().toSet
      val hof = TextAnalysis.winnowingFingerprintsHof(df, "doc_id", "text", k, w)
        .as[(Long, Long)].collect().toSet
      assert(native == hof && native.nonEmpty)
    }
  }

  test("PII redaction: emails before phones, counts, identity on clean text") {
    val d = Seq(
      "mail a.b_c%d+1@sub.example.org and +7 495 123 4567 twice 33-222-33-44",
      "nothing to scrub here").toDF("text")
    val r = d.select(TextAnalysis.redactPii($"text").as("p"))
      .select($"p.redacted", $"p.n_emails", $"p.n_phones")
      .as[(String, Int, Int)].collect()
    assert(r(0) == (("mail <EMAIL> and <PHONE> twice <PHONE>", 1, 2)))
    assert(r(1) == (("nothing to scrub here", 0, 0)))
  }

  test("repetition signals: fractions, tie-break, single-word degenerate") {
    val d = Seq(
      (1L, "spam spam spam spam"),         // dup 3/4; top bigram 3/3
      (2L, "a b a b c"),                   // "a b" x2 of 4 bigrams
      (3L, "w x y z"),                     // all bigrams distinct -> tie
      (4L, "solo"))                        // no bigrams at all
      .toDF("doc_id", "text")
    val r = TextAnalysis.repetitionSignals(d, "doc_id", "text")
      .as[(Long, Int, Int, Option[Double], Option[String], Option[Long],
        Option[Double], Option[Boolean])].collect()
      .map(t => t._1 -> t).toMap
    assert(r(1L)._4.contains(0.75) && r(1L)._7.contains(1.0)
      && r(1L)._8.contains(true))
    assert(r(2L)._5.contains("a b") && r(2L)._6.contains(2L)
      && r(2L)._7.contains(0.5))
    assert(r(3L)._5.contains("w x"))       // tie -> lexicographically first
    assert(r(4L)._2 == 1 && r(4L)._5.isEmpty && r(4L)._7.isEmpty
      && r(4L)._8.isEmpty)                 // null flag on degenerate doc
  }

  test("bigram LM: hand-computed smoothed conditionals, OOV backoff, degenerates") {
    // train corpus: bigrams "a b"x2, "b a"x1, "b c"x1; prefixes a:2 b:2; V=2
    val train = Seq("a b a b c").toDF("text")
    val lm = TextAnalysis.trainBigramLm(train, "text")
    assert(lm.vocabSize == 2L)
    val score = Seq(
      (1L, "a b"),        // P(b|a) = (2+1)/(2+2) = 0.75 -> 750000000 ppb
      (2L, "a z"),        // OOV bigram, seen prefix: (0+1)/(2+2) = 0.25
      (3L, "z z"),        // OOV bigram, unseen prefix: 1/(0+2) = 0.5
      (4L, "a b c q"),    // 0.75, P(c|b)=(1+1)/(2+2)=0.5, "c q" oov with
                          // unseen prefix c -> 1/V = 0.5;
                          // mean ppb = (750M + 500M + 500M) div 3
      (5L, "solo"),       // <2 tokens
      (6L, ""))           // empty
      .toDF("doc_id", "text")
    val r = TextAnalysis.scoreBigramLm(score, "doc_id", "text", lm)
      .as[(Long, Long, Long, Option[Long], Option[Double])].collect()
      .map(t => t._1 -> t).toMap
    assert(r(1L) == ((1L, 1L, 0L, Some(750000000L),
      r(1L)._5)) && math.abs(r(1L)._5.get - 4.0 / 3) < 1e-12)
    assert(r(2L) == ((2L, 1L, 1L, Some(250000000L), r(2L)._5)))
    assert(r(3L) == ((3L, 1L, 1L, Some(500000000L), r(3L)._5)))
    assert(r(4L) == ((4L, 3L, 1L, Some(583333333L), r(4L)._5)))
    // perplexity = exp(-(ln .75 + ln .5 + ln .5)/3) = (0.1875)^(-1/3)
    assert(math.abs(r(4L)._5.get - math.pow(0.75 * 0.5 * 0.5, -1.0 / 3))
      < 1e-12)
    assert(r(5L) == ((5L, 0L, 0L, None, None)))
    assert(r(6L) == ((6L, 0L, 0L, None, None)))
  }

  test("corpus data card: counts, dups, language mix per source") {
    val d = Seq(
      ("web", "the cat is of the mat and a dog"), // en, 9 toks
      ("web", "the cat is of the mat and a dog"), // exact dup
      ("web", "der hund ist und die katze"),      // de, 6 toks
      ("books", "zz qq ww"))                      // unknown, 3 toks
      .toDF("source", "text")
    val r = TextAnalysis.corpusDataCard(d, "text", "source")
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(t => t._1 -> t).toMap
    assert(r("web") == (("web", 3L, 24L, 9L, 1L, 2L, 1L, 0L, 0L)))
    assert(r("books") == (("books", 1L, 3L, 3L, 0L, 0L, 0L, 0L, 1L)))
  }

  test("decodeTokens inverts encodeTokens up to <unk> on OOV") {
    val vocab = Seq(("alpha", 0L), ("beta", 1L), ("gamma", 2L))
      .toDF("token", "vocab_id")
    val d = Seq((1L, "alpha beta gamma"), (2L, "beta zzz alpha"))
      .toDF("doc_id", "text")
    val enc = TextAnalysis.encodeTokens(d, "doc_id", "text", vocab)
    val r = TextAnalysis.decodeTokens(enc, "doc_id", "token_ids", vocab)
      .as[(Long, String)].collect().toMap
    assert(r(1L) == "alpha beta gamma")
    assert(r(2L) == "beta <unk> alpha")
  }

  test("fimTransform: sentinel order, token conservation, rate gates") {
    val d = (1L to 50L).map(i => (i, s"w${i}a w${i}b w${i}c w${i}d"))
      .toDF("doc_id", "text")
    val all = Packing.fimTransform(d, "doc_id", "text", 1000, "t")
      .as[(Long, String, Boolean, Option[Long], Option[Long])].collect()
    assert(all.forall(_._3), "rate 1000 must transform every doc")
    all.foreach { case (_, fim, _, i, j) =>
      val toks = fim.split(" ").toSeq
      // sentinels in PSM order, original tokens conserved as a multiset
      assert(toks.indexOf("<PRE>") == 0)
      assert(toks.indexOf("<PRE>") < toks.indexOf("<SUF>") &&
        toks.indexOf("<SUF>") < toks.indexOf("<MID>"))
      assert(i.exists(v => v >= 0 && v <= 4) &&
        j.exists(v => v >= i.get && v <= 4))
      assert(toks.filterNot(Set("<PRE>", "<SUF>", "<MID>")).sorted ==
        toks.filterNot(Set("<PRE>", "<SUF>", "<MID>")).distinct.sorted)
    }
    val none = Packing.fimTransform(d, "doc_id", "text", 0, "t")
      .as[(Long, String, Boolean, Option[Long], Option[Long])].collect()
    assert(none.forall(r => !r._3 && r._4.isEmpty && r._5.isEmpty))
    // untouched docs carry the original text byte-for-byte
    val orig = d.as[(Long, String)].collect().toMap
    none.foreach { case (id, t, _, _, _) => assert(t == orig(id)) }
  }

  test("spanCorrupt: splicing targets back into the input recovers the text") {
    val d = (1L to 30L).map(i =>
        (i, (1 to (i % 13 + 1).toInt).map(k => s"t$k").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Packing.spanCorrupt(d, "doc_id", "text",
        stride = 5, spanLen = 2, seed = "s")
      .as[(Long, String, String, Long, Long)].collect()
    val orig = d.as[(Long, String)].collect().toMap
    out.foreach { case (id, input, target, nMasked, nSpans) =>
      // parse target into span -> tokens, then splice into the input
      val spans = target.split("<X").filter(_.nonEmpty).map { part =>
        val Array(k, toks) = part.split(">", 2)
        k.toInt -> toks.trim
      }.toMap
      val rebuilt = input.split(" ").filter(_.nonEmpty).flatMap { t =>
        if (t.startsWith("<X")) {
          val sp = spans(t.stripPrefix("<X").stripSuffix(">").toInt)
          if (sp.isEmpty) Seq.empty else sp.split(" ").toSeq
        } else Seq(t)
      }.mkString(" ")
      assert(rebuilt == orig(id), s"doc $id failed to reconstruct")
      assert(spans.size == nSpans && spans.keySet == (0 until
        nSpans.toInt).toSet, "sentinels must be dense from 0")
      assert(nMasked >= nSpans, "each span has at least one token")
    }
  }

  test("mergeBigramLm(train(A), B) scores identically to train(A union B)") {
    val a = Seq((1L, "x y x z"), (2L, "y y x")).toDF("doc_id", "text")
    val b = Seq((3L, "z w x y"), (4L, "w w")).toDF("doc_id", "text")
    val merged = TextAnalysis.mergeBigramLm(
      TextAnalysis.trainBigramLm(a, "text"), b, "text")
    val full = TextAnalysis.trainBigramLm(a.unionByName(b), "text")
    assert(merged.vocabSize == full.vocabSize)
    val probe = Seq((10L, "x y z w q"), (11L, "q q")).toDF("doc_id", "text")
    def score(lm: TextAnalysis.BigramLm) =
      TextAnalysis.scoreBigramLm(probe, "doc_id", "text", lm)
        .as[(Long, Long, Long, Option[Long], Option[Double])]
        .collect().sortBy(_._1).toSeq
    assert(score(merged) == score(full))
  }

  test("mixtureSchedule: dense positions, exact prefix proportions, zero-weight drop") {
    val d = (0 until 20).flatMap(i => Seq(
        (i * 10L + 0, "a"), (i * 10L + 1, "b"),
        (i * 10L + 2, "c"), (i * 10L + 3, "junk")))
      .toDF("doc_id", "source")
    val sched = Sampling.mixtureSchedule(d, "doc_id", "source",
        weightsPermille = Map("a" -> 200L, "junk" -> 0L),
        defaultPermille = 100L, seed = "t")
      .as[(Long, String, Long)].collect().sortBy(_._3)
    // zero-weight source gone; positions dense over the remainder
    assert(sched.length == 60 && !sched.exists(_._2 == "junk"))
    assert(sched.map(_._3).toSeq == (0L until 60L))
    // key boundaries make prefix composition EXACT: after key <= k the
    // schedule holds 2k of a (w=200) and k each of b/c (w=100), so the
    // first 16 positions are 8/4/4 regardless of the shuffle hashes
    val prefix = sched.take(16).groupBy(_._2).view.mapValues(_.length).toMap
    assert(prefix == Map("a" -> 8, "b" -> 4, "c" -> 4))
  }

  // ------------------------------------------------ video frame path

  private def gvid(w: Int, h: Int, frames: Array[Byte]*): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(16 + frames.length * w * h)
    buf.put("GVID".getBytes("US-ASCII"))
    buf.putInt(w); buf.putInt(h); buf.putInt(frames.length)
    frames.foreach(buf.put)
    buf.array()
  }

  test("GvidCodec: real byte-level parsing — header, frame extraction, " +
      "loud on bad magic / truncation / out-of-range index") {
    val f0 = Array.fill[Byte](64)(10)
    val f1 = Array.fill[Byte](64)(20)
    val v = gvid(8, 8, f0, f1)
    assert(Multimodal.GvidCodec.frameCount(v) == 2)
    val (w, h, g) = Multimodal.GvidCodec.frame(v, 1)
    assert(w == 8 && h == 8 && g.toSeq == f1.toSeq)
    intercept[IllegalArgumentException] {
      Multimodal.GvidCodec.frameCount("XVID0000000000000".getBytes)
    }
    intercept[IllegalArgumentException] {
      Multimodal.GvidCodec.frameCount(v.dropRight(1))
    }
    intercept[IllegalArgumentException] { Multimodal.GvidCodec.frame(v, 2) }
  }

  test("sampleFrameHashes + videoOverlapPairs: fixture hashes match the " +
      "2^scene - 1 formula; pair counts match the scene-overlap brute force") {
    val dir = graft.sources.GvidFixtures.write(spark, "/root/testdata/sf0.001")
    val bin = spark.read.format("binaryFile").load(s"$dir/*.gvid")
      .select(regexp_extract($"path", "vid_(\\d+)\\.gvid", 1)
        .cast("long").as("doc_id"), $"content")
    val frames = Multimodal.sampleFrameHashes(bin, "doc_id", "content", k = 4)
    val got = frames.as[(Long, Int, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (id, f, hash) =>
      val n = graft.sources.GvidFixtures.framesOf(id)
      assert((0 until 4).map(j => j * n / 4).contains(f))
      assert(hash == (1L << graft.sources.GvidFixtures.sceneOf(id, f)) - 1,
        s"vid $id frame $f")
    }
    val pairs = Multimodal.videoOverlapPairs(frames, "doc_id", minMatches = 1)
      .as[(Long, Long, Long)].collect().toSet
    val scenes = got.groupBy(_._1).view.mapValues(
      _.map(r => graft.sources.GvidFixtures.sceneOf(r._1, r._2)).toSet).toMap
    val brute = (for {
      a <- scenes.keys; b <- scenes.keys if a < b
      m = (scenes(a) & scenes(b)).size if m >= 1
    } yield (a, b, m.toLong)).toSet
    assert(pairs == brute)
  }

  test("resizeImages: nearest-neighbor is the exact integer mapping " +
      "(2x2 -> 4x4 block copy), solid fill survives, loud on garbage") {
    def png(w: Int, h: Int, px: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, px(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val colors = Array(Array(0xff0000, 0x00ff00), Array(0x0000ff, 0xffffff))
    val src = png(2, 2, (x, y) => colors(y)(x))
    val out = Multimodal.resizeImages(
        Seq((1L, src)).toDF("doc_id", "blob"), "doc_id", "blob", 4, 4)
      .as[(Long, Array[Byte], Int, Int)].collect().head
    assert(out._3 == 4 && out._4 == 4)
    val dec = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out._2))
    for (y <- 0 until 4; x <- 0 until 4)
      assert((dec.getRGB(x, y) & 0xffffff) == colors(y / 2)(x / 2),
        s"pixel $x,$y")
    // solid fill down-scale stays solid (q171's oracle premise)
    val solid = png(31, 17, (_, _) => 0x123456)
    val small = Multimodal.resizeImages(
        Seq((2L, solid)).toDF("doc_id", "blob"), "doc_id", "blob", 5, 3)
      .as[(Long, Array[Byte], Int, Int)].collect().head
    val sdec = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(small._2))
    for (y <- 0 until 3; x <- 0 until 5)
      assert((sdec.getRGB(x, y) & 0xffffff) == 0x123456)
    intercept[Exception] {
      Multimodal.resizeImages(
        Seq((3L, "junk".getBytes)).toDF("doc_id", "blob"),
        "doc_id", "blob", 4, 4).collect()
    }
  }

  test("lshPlan: every divisor pair scored, one chosen per tau, the " +
      "τ=0.5/H=128 choice is the textbook (16 bands, 8 rows)") {
    val plan = Dedup.lshPlan(spark, numHashes = 128,
        tausPpm = Seq(500000L))
      .as[(Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(plan.size == 8) // divisors of 128
    assert(plan.forall { case (_, b, r, _, _) => b * r == 128 })
    val chosen = plan.filter(_._5)
    assert(chosen.size == 1)
    assert((chosen.head._2, chosen.head._3) == ((16L, 8L)))
    // a LOWER threshold wants MORE bands (catch lower-similarity
    // pairs → steeper-left S-curve): the planner must move b up
    val lo = Dedup.lshPlan(spark, 128, Seq(300000L))
      .filter($"chosen").as[(Long, Long, Long, Long, Boolean)]
      .collect().head
    assert(lo._2 > 16L)
  }

  test("maxSimTopK matches a hand-rolled MaxSim on a small corpus, " +
      "excludes self, deterministic under partitioning") {
    // 8-dim vectors read as 2 token sub-vectors of 4 dims
    val vecs = (0L until 20L).map { i =>
      (i, (0 until 8).map(j =>
        math.sin(i * 3.7 + j * 1.3) * (1 + (j % 3))))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.maxSimTopK(df, "vec_id", "embedding",
        queryPred = col("vec_id") % 7 === 0, chunks = 2, k = 3)
      .as[(Long, Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(
        _.sortBy(_._4).map(t => (t._2, t._3)).toSeq).toMap
    // reference computation
    def chunk(v: Seq[Double], c: Int) = v.slice(c * 4, c * 4 + 4)
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
    def maxSim(q: Seq[Double], d: Seq[Double]): Long =
      (0 until 2).map { i =>
        math.floor((0 until 2).map(j =>
          dot(chunk(q, i), chunk(d, j))).max * 1e6).toLong
      }.sum
    val queries = vecs.filter(_._1 % 7 == 0)
    for ((qid, qv) <- queries) {
      val expected = vecs.filter(_._1 != qid)
        .map { case (did, dv) => (did, maxSim(qv, dv)) }
        .sortBy { case (did, s) => (-s, did) }.take(3)
      assert(out(qid) == expected, s"query $qid")
    }
    // deterministic under partitioning
    val again = Similarity.maxSimTopK(df.repartition(7), "vec_id",
        "embedding", col("vec_id") % 7 === 0, 2, 3)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(again == Similarity.maxSimTopK(df, "vec_id", "embedding",
      col("vec_id") % 7 === 0, 2, 3)
      .as[(Long, Long, Long, Int)].collect().toSet)
    intercept[IllegalArgumentException] {
      Similarity.maxSimTopK(df, "vec_id", "embedding",
        col("vec_id") % 7 === 0, chunks = 3, k = 3) // 8 % 3 != 0
    }
    intercept[IllegalArgumentException] {
      Similarity.maxSimTopK(df, "vec_id", "embedding",
        col("vec_id") < 0, chunks = 2, k = 3) // empty query side
    }
  }

  test("maxSimRerank over the full pair space equals maxSimTopK " +
      "(shared scoring def); a pruned shortlist only removes rows") {
    val vecs = (0L until 15L).map { i =>
      (i, (0 until 8).map(j => math.cos(i * 2.1 + j * 0.9) * (1 + j % 2)))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val exact = Similarity.maxSimTopK(df, "vec_id", "embedding",
        col("vec_id") % 5 === 0, 2, 3)
      .as[(Long, Long, Long, Int)].collect().toSet
    val allPairs = vecs.filter(_._1 % 5 == 0).flatMap { case (q, _) =>
      vecs.map { case (d2, _) => (q, d2) }
    }.toDF("qid", "doc_id")
    val rr = Similarity.maxSimRerank(allPairs, df, "vec_id",
        "embedding", 2, 3)
      .select($"qid", $"doc_id", $"score_micro", $"rank")
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(rr == exact)
    // a shortlist missing a true neighbor yields a subset ranking,
    // never an invented score: feed only self+2 fixed candidates
    val tiny = Seq((0L, 3L), (0L, 4L), (0L, 0L)).toDF("qid", "doc_id")
    val pruned = Similarity.maxSimRerank(tiny, df, "vec_id",
        "embedding", 2, 3)
      .as[(Long, Long, Long, Int)].collect()
    assert(pruned.length == 2) // the self-pair dropped
    val full = exact.filter(_._1 == 0L).map(r => r._2 -> r._3).toMap
    pruned.foreach { case (_, did, s2, _) =>
      // scores come from the same def: any candidate that also
      // appears in the exhaustive top-3 carries the identical score
      full.get(did).foreach(sc => assert(sc == s2))
    }
  }

  test("labelNeighborsBothKernel side-filtered equals the single-sided " +
      "kernels bit-for-bit (cosines, ids, ranks), k=1 and k=3") {
    val emb = graft.model.Tables.embeddings(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    for (k <- Seq(1, 3)) {
      val both = Similarity.labelNeighborsBothKernel(emb, "vec_id",
        "embedding", "label", k = k)
      val pos = Similarity.nearestPositivesKernel(emb, "vec_id",
        "embedding", "label", k = k)
      val neg = Similarity.hardNegativesKernel(emb, "vec_id",
        "embedding", "label", k = k)
      val cols = Seq("id", "neighbor_id", "cosine", "rank").map(col)
      assert(rows(both.filter(col("same_label")).select(cols: _*)) ==
        rows(pos.select(cols: _*)), s"positives diverged at k=$k")
      assert(rows(both.filter(!col("same_label")).select(cols: _*)) ==
        rows(neg.select(cols: _*)), s"negatives diverged at k=$k")
    }
  }

  test("IVF maintenance: delete/append fold order irrelevant for " +
      "disjoint sets, deleted members never retrieved, appended twins " +
      "found, empty ops are identity, both delete paths agree") {
    val emb = graft.model.Tables.embeddings(spark, sf)
    val bulk = emb.filter(col("vec_id") % 5 =!= 4)
    val appendBatch = emb.filter(col("vec_id") % 5 === 4)
    val delIds = bulk.filter(col("vec_id") % 7 === 3).select(col("vec_id"))
    val queries = emb.filter(col("vec_id") % 11 === 0)
    def results(idx: Similarity.IvfIndex): Set[(Long, Long, Double)] =
      Similarity.annSearchIvf(queries, idx, "vec_id", "embedding",
          k = 3, nProbe = 4)
        .select(col("id"), col("neighbor_id"), col("cosine"))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          BigDecimal(r.getDouble(2)).setScale(9,
            BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet

    val base = Similarity.buildIvfIndex(bulk, "vec_id", "embedding",
      numCentroids = 8)
    // fold order: (delete then append) == (append then delete) —
    // assignment is a pure function of the FROZEN centers, so
    // disjoint maintenance ops commute
    val da = results(Similarity.appendToIvfIndex(
      Similarity.deleteFromIvfIndex(base, delIds, "vec_id"),
      appendBatch, "vec_id", "embedding"))
    val ad = results(Similarity.deleteFromIvfIndex(
      Similarity.appendToIvfIndex(base, appendBatch, "vec_id",
        "embedding"),
      delIds, "vec_id"))
    assert(da == ad)
    assert(da.nonEmpty)
    // deleted members are never retrieved
    val deleted = delIds.collect().map(_.getLong(0)).toSet
    assert(da.forall { case (_, nb, _) => !deleted(nb) })
    // appended twins are found: a RE-ID'd duplicate of each appended
    // vector (the kernel excludes equal ids — annSearchIvf's r14 doc
    // fix) probed at nProbe = 1 retrieves the appended member at
    // cosine ~1: same vector + same frozen centers ⇒ the twin's
    // rank-0 probe cell IS the member's stored cell
    val appendedIds = appendBatch.select(col("vec_id")).collect()
      .map(_.getLong(0)).toSet
    val twinProbes = appendBatch.select(
      (col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val twinHits = Similarity.annSearchIvf(twinProbes,
        Similarity.appendToIvfIndex(base, appendBatch, "vec_id",
          "embedding"),
        "vec_id", "embedding", k = 1, nProbe = 1)
      .select(col("id"), col("neighbor_id"), col("cosine")).collect()
    assert(twinHits.nonEmpty && twinHits.forall(r =>
      r.getLong(1) == r.getLong(0) - 1000000L && r.getDouble(2) > 0.999999))
    assert(appendedIds.nonEmpty)
    // empty delete and empty append are identity on search output
    val emptyIds = delIds.filter(col("vec_id") < 0)
    val emptyBatch = appendBatch.filter(col("vec_id") < 0)
    assert(results(Similarity.deleteFromIvfIndex(base, emptyIds,
      "vec_id")) == results(base))
    assert(results(Similarity.appendToIvfIndex(base, emptyBatch,
      "vec_id", "embedding")) == results(base))
    // both delete implementations agree: the broadcast pack-local
    // filter (default) vs the distributed unpack → anti-join → repack
    // (forced via maxBroadcast = -1, the driverCap convention)
    assert(results(Similarity.deleteFromIvfIndex(base, delIds,
        "vec_id", maxBroadcast = -1L)) ==
      results(Similarity.deleteFromIvfIndex(base, delIds, "vec_id")))
    // deleting EVERY bulk member leaves only appended neighbors
    val allBulkGone = Similarity.appendToIvfIndex(
      Similarity.deleteFromIvfIndex(base,
        bulk.select(col("vec_id")), "vec_id"),
      appendBatch, "vec_id", "embedding")
    val onlyAppended = results(allBulkGone)
    assert(onlyAppended.nonEmpty &&
      onlyAppended.forall { case (_, nb, _) => appendedIds(nb) })
    // UPSERT semantics (r14 review): replaying the same append — or
    // re-appending an updated vector — must REPLACE, not duplicate.
    // A duplicate entry would burn a top-k slot and distort any
    // recall denominator; search results after the replay are
    // byte-identical to the single append
    val once = Similarity.appendToIvfIndex(base, appendBatch,
      "vec_id", "embedding")
    val replayed = Similarity.appendToIvfIndex(once, appendBatch,
      "vec_id", "embedding")
    assert(results(replayed) == results(once))
    // ...and the member count did not grow
    def memberCount(idx: Similarity.IvfIndex): Long = idx.memberPacks
      .select(explode(col("mv"))).count()
    assert(memberCount(replayed) == memberCount(once))
  }
}
