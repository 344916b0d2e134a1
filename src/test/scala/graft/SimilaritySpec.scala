package graft

import graft.operators.Similarity

class SimilaritySpec extends SparkSuite {

  lazy val emb = Tables.embeddings(spark, sfDir)

  test("cosine of a vector with itself is 1.0") {
    import org.apache.spark.sql.functions._
    val v = Similarity.toDoubleArray(col("embedding"))
    val sims = emb.limit(10).select(Similarity.cosine(v, v).as("s"))
      .collect().map(_.getDouble(0))
    assert(sims.forall(s => math.abs(s - 1.0) < 1e-12))
  }

  test("brute-force top-k is ordered desc and excludes the query vector") {
    val q = Similarity.queryVector(emb, 0L)
    val top = Similarity.bruteForceTopK(emb, q, 10, excludeVecId = Some(0L)).collect()
    assert(top.length == 10)
    assert(!top.map(_.getLong(0)).contains(0L))
    val sims = top.map(_.getDouble(2))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  test("truncatedTopK ≡ brute force over prefix-sliced vectors; full-dims degenerates exactly") {
    import org.apache.spark.sql.functions._
    val q = Similarity.queryVector(emb, 0L)
    // ground truth: physically slice the embeddings to 16 dims, then exact top-k
    val sliced = emb.withColumn("embedding", slice(col("embedding"), 1, 16))
    val want = Similarity.bruteForceTopK(sliced, q.take(16), 10, Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val got = Similarity.truncatedTopK(emb, q, 10, dims = 16, Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(got == want, s"$got vs $want")
    // dims = full dimensionality must reproduce bruteForceTopK bit-for-bit
    val full = Similarity.bruteForceTopK(emb, q, 10, Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val trunc64 = Similarity.truncatedTopK(emb, q, 10, dims = q.length, Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(trunc64 == full)
  }

  test("embeddingDrift: identical snapshots give cosine 1; one-sided labels stay null-safe") {
    import org.apache.spark.sql.functions._
    val same = Similarity.embeddingDrift(emb, emb, "label")
      .collect().map(r => r.getInt(0) -> r.getDouble(3)).toMap
    assert(same.nonEmpty && same.values.forall(c => math.abs(c - 1.0) < 1e-9),
      s"self-drift must be exactly 1: $same")
    // label present only on one side: counts survive, cosine is null
    val a = emb.filter(col("label") === 0)
    val b = emb.filter(col("label") === 1)
    val rows = Similarity.embeddingDrift(a, b, "label").collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.isNullAt(3)))).toMap
    assert(rows(0)._1 > 0 && rows(0)._2 == 0 && rows(0)._3, s"$rows")
    assert(rows(1)._1 == 0 && rows(1)._2 > 0 && rows(1)._3, s"$rows")
  }

  test("IVF top-k achieves recall >= 0.5 vs brute force at nprobe=4/16 " +
      "and full recall at nprobe=16/16") {
    val q = Similarity.queryVector(emb, 0L)
    val cents = Similarity.centroids(emb, 16)
    val exact = Similarity.bruteForceTopK(emb, q, 10, Some(0L))
      .collect().map(_.getLong(0)).toSet
    val approx = Similarity.ivfTopK(emb, cents, q, 10, nprobe = 4, Some(0L))
      .collect().map(_.getLong(0)).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall too low: $recall")
    val full = Similarity.ivfTopK(emb, cents, q, 10, nprobe = 16, Some(0L))
      .collect().map(_.getLong(0)).toSet
    assert(full == exact, "nprobe=all must equal brute force")
  }

  test("VectorMeanAggregator computes exact element-wise means (k-means update)") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Seq(1.0, 2.0)), (0L, Seq(3.0, 4.0)), (1L, Seq(10.0, 20.0))).toDS()
    val agg = new Similarity.VectorMeanAggregator(2).toColumn
    val means = vecs.groupByKey(_._1).mapValues(_._2).agg(agg)
      .collect().toMap
    assert(means(0L) == Seq(2.0, 3.0))
    assert(means(1L) == Seq(10.0, 20.0))
  }

  test("random projection: signs are ±1 and balanced, recall@10 beats chance, widening helps") {
    import org.apache.spark.sql.functions._
    val s8 = Similarity.rpSigns(64, 8)
    assert(s8.flatten.forall(v => v == 1.0 || v == -1.0))
    // non-degenerate matrix: no two rows (anti-)parallel — the polyHash
    // parity derivation failed exactly this (rank-2, all sims ±1)
    for (a <- s8.indices; b <- s8.indices if a < b) {
      val dot = s8(a).zip(s8(b)).map { case (x, y) => x * y }.sum
      assert(math.abs(dot) < 40, s"rows $a,$b near-parallel (dot $dot)")
    }
    val q = Similarity.queryVector(emb, 0L)
    val exact = Similarity.bruteForceTopK(emb, q, 10, Some(0L))
      .collect().map(_.getLong(0)).toSet
    def rpTop(outDim: Int): Set[Long] = {
      val signs = Similarity.rpSigns(64, outDim)
      val qp = Similarity.rpProjectLocal(q, signs)
      emb.filter(col("vec_id") =!= 0L)
        .withColumn("sim", Similarity.cosine(
          Similarity.rpProject(col("embedding"), signs), array(qp.map(lit): _*)))
        .orderBy(col("sim").desc, col("vec_id").asc).limit(10)
        .collect().map(_.getLong(0)).toSet
    }
    val r8 = (exact intersect rpTop(8)).size / 10.0
    val r32 = (exact intersect rpTop(32)).size / 10.0
    // the sf0.001 corpus is tie-dense (clustered synthetic labels: many
    // candidates within ~1e-2 of the rank-10 sim), so even 32 dims only
    // hold the coarse ordering — the floors are chance-vs-structure
    // gates (random 10 of 499 ⇒ E[recall] = 0.02), not quality targets
    assert(r8 >= 0.2, s"8-dim JL recall@10 collapsed: $r8")
    assert(r32 >= r8, s"wider projection must not lose recall ($r32 < $r8)")
    assert(r32 >= 0.25, s"32-dim JL recall@10 too low: $r32")
  }

  test("GramAggregator: sums match a driver fold exactly; partitioning never changes them") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val quant = emb.select(transform(col("embedding"),
      x => floor(x.cast("double") * 1e6 + lit(0.5)).cast("long")).as("q"))
      .as[Seq[Long]]
    def packed(ds: org.apache.spark.sql.Dataset[Seq[Long]]) =
      ds.select(new Similarity.GramAggregator(64).toColumn).head()
    val (s1, n1) = packed(quant)
    val (s2, n2) = packed(quant.repartition(13))
    assert(n1 == n2 && s1 == s2, "integer sums are partitioning-invariant")
    val local = quant.collect()
    assert(n1 == local.length)
    assert(s1(5) == local.map(_(5)).sum, "coordinate sum mirror")
    val flat57 = 64 + (5 * (2 * 64 - 5 + 1)) / 2 + (7 - 5)
    assert(s1(flat57) == local.map(q => q(5) * q(7)).sum, "product sum mirror")
  }

  test("PCA: top component captures more projected variance than any single axis") {
    import org.apache.spark.sql.functions._
    val proj = Similarity.pcaProject(emb, 64, iters = 8)
      .select(col("proj")).collect().map(_.getDouble(0))
    val n = proj.length
    val mean = proj.sum / n
    val pcVar = proj.map(p => (p - mean) * (p - mean)).sum / n
    // per-axis variances straight off the covariance diagonal
    val diag = Similarity.covariancePairs(emb, 64) // off-diagonals only; rebuild diag locally
    val coords = emb.select(Similarity.toDoubleArray(col("embedding"))).collect()
      .map(_.getSeq[Double](0))
    val axisVars = (0 until 64).map { i =>
      val xs = coords.map(_(i)); val m = xs.sum / n
      xs.map(x => (x - m) * (x - m)).sum / n
    }
    assert(pcVar >= axisVars.max * 0.99,
      s"PC1 variance $pcVar must dominate best single axis ${axisVars.max}")
    assert(diag.count() == 64L * 63 / 2)
  }

  test("centroid refinement keeps all centroids and does not hurt IVF recall") {
    val q = Similarity.queryVector(emb, 0L)
    val seed = Similarity.centroids(emb, 16)
    val refined = Similarity.refineCentroids(emb, seed)
    assert(refined.length == 16)
    assert(refined.map(_._1).toSeq == seed.map(_._1).toSeq)
    val exact = Similarity.bruteForceTopK(emb, q, 10, Some(0L))
      .collect().map(_.getLong(0)).toSet
    def recall(c: Array[(Long, Seq[Double])]) = {
      val got = Similarity.ivfTopK(emb, c, q, 10, nprobe = 4, Some(0L))
        .collect().map(_.getLong(0)).toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val rSeed = recall(seed)
    val rRef = recall(refined)
    assert(rRef >= rSeed - 0.2, s"refinement collapsed recall: $rSeed -> $rRef")
  }

  test("lloyd: round 1 ≡ rounded refineCentroids; objective non-decreasing over rounds") {
    import org.apache.spark.sql.functions._
    val seeds = Similarity.centroids(emb, 16)
    val one = Similarity.lloyd(emb, seeds, rounds = 1)
    val manual = Similarity.refineCentroids(emb, seeds)
      .map { case (cid, v) => (cid, v.map(Similarity.duckRound6)) }
    assert(one.toSeq == manual.toSeq)
    // mean within-cell cosine (the Lloyd objective under cosine assignment)
    // must not degrade from seeds → 3 rounds
    def objective(cents: Array[(Long, Seq[Double])]): Double = {
      val spark2 = spark
      import spark2.implicits._
      val centDf = broadcast(cents.toSeq.toDF("cid", "cv"))
      Similarity.ivfAssign(emb, cents)
        .join(centDf, col("centroid_id") === col("cid"))
        .agg(avg(Similarity.cosine(col("__v"), col("cv"))))
        .head().getDouble(0)
    }
    val o0 = objective(seeds)
    val o3 = objective(Similarity.lloyd(emb, seeds, rounds = 3))
    assert(o3 >= o0 - 1e-6, s"objective degraded: $o0 -> $o3")
    // every cell survives (empty cells carry their previous centroid)
    assert(Similarity.lloyd(emb, seeds, rounds = 3).length == 16)
  }

  test("q88 (refined IVF) returns k rows and holds recall vs the exact q46 answer") {
    val exact = SparkEntry.queries("q46_cosine_topk")(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    val seed = SparkEntry.queries("q48_ivf_topk")(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    val refined = SparkEntry.queries("q88_ivf_refined")(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    assert(refined.size == 10)
    def recall(s: Set[Long]) = (exact intersect s).size.toDouble / exact.size
    assert(recall(refined) >= recall(seed) - 0.2,
      s"refined recall ${recall(refined)} collapsed vs seed ${recall(seed)}")
  }

  test("knnJoinLsh: every (anchor, rank) matches a brute force within the bucket") {
    import org.apache.spark.sql.functions._
    val out = Similarity.knnJoinLsh(emb, numPlanes = 8, dim = 64, k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    val bucket = Similarity.lshBucketsDeterministic(emb, 8, 64)
      .select("vec_id", "lsh_bucket")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    // Spark round() = HALF_UP — mirror it exactly for the rank ordering
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = vecs.keys.groupBy(bucket(_)).values
      .filter(_.size >= 2)
      .flatMap { cell =>
        cell.flatMap { anchor =>
          cell.view.filterNot(_ == anchor)
            .map(o => (o, r4(cos(vecs(anchor), vecs(o))))).toSeq
            .sortBy { case (o, s) => (-s, o) }
            .take(3).zipWithIndex
            .map { case ((o, s), i) => (anchor, i + 1L) -> ((o, s)) }
        }
      }.toMap
    assert(expected.nonEmpty && out == expected,
      s"missing=${(expected.keySet -- out.keySet).take(5)} " +
        s"extra=${(out.keySet -- expected.keySet).take(5)}")
  }

  test("pqEncode: codes in range, and every codebook seed vector encodes to itself") {
    import org.apache.spark.sql.functions._
    val cb = Similarity.pqCodebook(emb, numSubspaces = 4, codebookSize = 16, dim = 64)
    assert(cb.length == 64 && cb.map(_._3.length).forall(_ == 16))
    val seedIds = emb.orderBy("vec_id").limit(16)
      .collect().map(_.getLong(0))
    val codes = Similarity.pqEncode(emb, cb, dim = 64)
      .select(col("vec_id"), col("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes.values.forall(cs => cs.length == 4 && cs.forall(c => c >= 0 && c < 16)))
    // a seed vector's subvectors are codewords: distance 0 to themselves, so
    // argmin must pick their own rank in every subspace (ties go lower-cw,
    // and a tie at 0 means a duplicate seed subvector — not in this data)
    seedIds.zipWithIndex.foreach { case (id, rank) =>
      assert(codes(id) == Seq.fill(4)(rank), s"seed $id -> ${codes(id)}, want all $rank")
    }
  }

  test("pqTopK matches a driver-side mirror of the ADC pipeline") {
    import org.apache.spark.sql.functions._
    val q = Similarity.queryVector(emb, 0L)
    val cb = Similarity.pqCodebook(emb, numSubspaces = 4, codebookSize = 16, dim = 64)
    val out = Similarity.pqTopK(emb, cb, q, k = 10, excludeVecId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    // mirror: Spark round() = HALF_UP on the column side (dist), duckRound6
    // on the driver side (lut) — exactly the engine's split
    def rn(x: Double, n: Int): Double =
      BigDecimal(x).setScale(n, BigDecimal.RoundingMode.HALF_UP).toDouble
    def d2(a: Seq[Double], b: Seq[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    val bySub = cb.groupBy(_._1)
    val lut = cb.map { case (s, cw, cv) =>
      (s, cw) -> Similarity.duckRound6(d2(q.slice(s * 16, (s + 1) * 16), cv))
    }.toMap
    val vecs = emb.select(col("vec_id"), Similarity.toDoubleArray(col("embedding")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
    val expected = vecs.filterNot(_._1 == 0L).map { case (id, v) =>
      val adc = (0 until 4).map { s =>
        val best = bySub(s).map { case (_, cw, cv) =>
          (rn(d2(v.slice(s * 16, (s + 1) * 16), cv), 6), cw)
        }.min
        lut((s, best._2))
      }.reduce(_ + _)
      (id, adc)
    }.sortBy { case (id, adc) => (adc, id) }.take(10)
      .map { case (id, adc) => (id, rn(adc, 4)) }
    assert(out.toSeq == expected.toSeq,
      s"engine=${out.toSeq.take(3)} mirror=${expected.toSeq.take(3)}")
  }

  test("PQ top-k overlaps the exact answer and full-dim PQ degenerates to ranks") {
    val q = Similarity.queryVector(emb, 0L)
    val cb = Similarity.pqCodebook(emb, numSubspaces = 4, codebookSize = 16, dim = 64)
    val exact = Similarity.bruteForceTopK(emb, q, 10, Some(0L))
      .collect().map(_.getLong(0)).toSet
    val approx = Similarity.pqTopK(emb, cb, q, 10, Some(0L))
      .collect().map(_.getLong(0)).toSet
    assert(approx.size == 10)
    // 16 codewords over 500 vectors is a coarse quantizer; require overlap,
    // not equality — the scale story is bigger codebooks + exact re-rank
    assert((exact intersect approx).nonEmpty,
      s"PQ top-10 shares nothing with exact top-10: $approx vs $exact")
  }

  test("PQ re-rank: recall >= raw ADC, and shortlist = corpus equals brute force") {
    val q = Similarity.queryVector(emb, 0L)
    val cb = Similarity.pqCodebook(emb, numSubspaces = 4, codebookSize = 16, dim = 64)
    val exact = Similarity.bruteForceTopK(emb, q, 10, Some(0L))
      .collect().map(_.getLong(0)).toSet
    def recall(ids: Set[Long]) = (exact intersect ids).size.toDouble / exact.size
    val raw = Similarity.pqTopK(emb, cb, q, 10, Some(0L))
      .collect().map(_.getLong(0)).toSet
    val refined = Similarity.pqTopKRefined(emb, cb, q, 10, shortlist = 50, Some(0L))
      .collect().map(_.getLong(0)).toSet
    assert(recall(refined) >= recall(raw),
      s"re-rank lost recall: ${recall(raw)} -> ${recall(refined)}")
    val n = emb.count().toInt
    val full = Similarity.pqTopKRefined(emb, cb, q, 10, shortlist = n, Some(0L))
      .collect().map(_.getLong(0)).toSet
    assert(full == exact, "shortlist covering the corpus must equal brute force")
  }

  test("IVF-PQ: nprobe=all equals plain PQ-ADC; nprobe=4 stays within probed cells") {
    import org.apache.spark.sql.functions.col
    val q = Similarity.queryVector(emb, 0L)
    val cents = Similarity.centroids(emb, 16)
    val cb = Similarity.pqCodebook(emb, numSubspaces = 4, codebookSize = 16, dim = 64)
    val full = Similarity.ivfPqTopK(emb, cents, cb, q, 10, nprobe = 16, Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val plain = Similarity.pqTopK(emb, cb, q, 10, Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(full == plain, "probing every cell must degenerate to plain PQ-ADC")
    val probed = Similarity.ivfPqTopK(emb, cents, cb, q, 10, nprobe = 4, Some(0L))
      .collect().map(_.getLong(0)).toSet
    assert(probed.nonEmpty && probed.size <= 10)
    val cells = Similarity.ivfAssign(emb, cents)
      .select(col("vec_id"), col("centroid_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val probeCells = probed.map(cells)
    assert(probeCells.size <= 4, s"results span ${probeCells.size} cells, nprobe=4")
  }

  test("LSH buckets partition the corpus (every vector in exactly one bucket)") {
    val b = Similarity.lshBucketsDeterministic(emb, numPlanes = 8, dim = 64)
    assert(b.count() == emb.count())
    val nBuckets = b.select("lsh_bucket").distinct().count()
    assert(nBuckets > 1 && nBuckets <= 256)
  }

  test("hashed-plane LSH: partition + range + rerun-stable + spread planes") {
    val q = Similarity.lshBucketsHashed(emb, numPlanes = 8, dim = 64)
    assert(q.count() == emb.count())
    val buckets = q.select("lsh_bucket").collect().map(_.getLong(0))
    assert(buckets.forall(b => b >= 0 && b <= 255))
    val again = Similarity.lshBucketsHashed(emb, numPlanes = 8, dim = 64)
      .select("lsh_bucket").collect().map(_.getLong(0))
    assert(buckets.toSeq == again.toSeq, "hash-derived planes must be rerun-stable")
    // pseudo-random planes should split the corpus meaningfully: more
    // than a handful of buckets populated, and every PLANE bit must
    // actually fire both ways somewhere (a degenerate all-positive
    // plane means the coefficient derivation collapsed)
    assert(buckets.distinct.length > 8)
    (0 until 8).foreach { i =>
      val ones = buckets.count(b => (b & (1L << i)) != 0)
      assert(ones > 0 && ones < buckets.length, s"plane $i never splits")
    }
  }

  test("SQ8 top-k holds recall vs brute force; on-grid vectors quantize losslessly") {
    import org.apache.spark.sql.functions.col
    val q = Similarity.queryVector(emb, 0L)
    val exact = Similarity.bruteForceTopK(emb, q, 10, Some(0L))
      .collect().map(_.getLong(0)).toSet
    val sq = Similarity.sq8TopK(emb, q, 10, Some(0L))
      .collect().map(_.getLong(0)).toSet
    val recall = (exact intersect sq).size.toDouble / exact.size
    assert(recall >= 0.8, s"SQ8 recall too low: $recall")

    // grid fixture: every component an integer in [0,255] and per-dim span
    // covering [0,255] → quantization step 1 → decode is EXACT → SQ8 must
    // equal brute force bit-for-bit. Third dim constant (span 0) → decodes
    // to min, no NaN.
    import spark.implicits._
    val g = Seq(
      (0L, Seq(0.0f, 0.0f, 5.0f), 0),
      (1L, Seq(255.0f, 0.0f, 5.0f), 0),
      (2L, Seq(0.0f, 255.0f, 5.0f), 0),
      (3L, Seq(128.0f, 7.0f, 5.0f), 0),
      (4L, Seq(9.0f, 200.0f, 5.0f), 0)).toDF("vec_id", "embedding", "label")
    val gq = Similarity.queryVector(g, 0L)
    val a = Similarity.sq8TopK(g, gq, 4, Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val b = Similarity.bruteForceTopK(g, gq, 4, Some(0L))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(a == b, s"on-grid SQ8 $a must equal brute force $b")
    assert(a.forall(!_._2.isNaN), "constant dimension must not produce NaN")
  }

  test("q120 recall audit agrees with recomputing recall from the two top-k sets") {
    val q = Similarity.queryVector(emb, 0L)
    val cb = Similarity.pqCodebook(emb, 4, 16, 64)
    val exact = Similarity.bruteForceTopK(emb, q, 10, Some(0L))
      .collect().map(_.getLong(0)).toSet
    val approx = Similarity.pqTopK(emb, cb, q, 10, Some(0L))
      .collect().map(_.getLong(0)).toSet
    val row = SparkEntry.queries("q120_pq_recall_audit")(spark, sfDir).collect().head
    assert(row.getLong(0) == 10 && row.getLong(1) == 10)
    assert(row.getLong(2) == (exact intersect approx).size)
    assert(math.abs(row.getDouble(3) - (exact intersect approx).size / 10.0) < 1e-9)
  }

  test("mmrRerank matches an independent driver-side greedy over the shortlist") {
    import org.apache.spark.sql.functions.col
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def r6(x: Double): Double = Similarity.duckRound6(x)
    val anchors = Seq(0L, 1L, 2L, 3L)
    val got = Similarity.mmrRerank(emb, anchors, k = 4, shortlist = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))

    // Independent mirror: collect all vectors, redo shortlist + greedy.
    val vecs = emb.select(col("vec_id"), Similarity.toDoubleArray(col("embedding")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val expect = anchors.flatMap { aid =>
      val av = vecs(aid)
      val short = vecs.toSeq.filter(_._1 != aid)
        .map { case (vid, v) => (vid, cos(v, av), v) }
        .sortBy { case (vid, s, _) => (-s, vid) }.take(8)
        .map { case (vid, s, v) => (vid, r6(s), v) }
      var picked = List.empty[(Long, Seq[Double])]
      var out = List.empty[(Long, Int, Long, Double)]
      for (rank <- 1 to 4) {
        val (vid, score, v) = short
          .filterNot { case (vid, _, _) => picked.exists(_._1 == vid) }
          .map { case (vid, sq, v) =>
            val div = if (picked.isEmpty) 0.0 else picked.map(p => r6(cos(v, p._2))).max
            (vid, r6(0.5 * sq - 0.5 * div), v)
          }
          .minBy { case (vid, sc, _) => (-sc, vid) }
        picked ::= (vid, v)
        out :+= ((aid, rank, vid, math.rint(score * 1e4) / 1e4))
      }
      out
    }
    assert(got.sortBy(t => (t._1, t._2)).toSeq == expect.sortBy(t => (t._1, t._2)),
      s"engine=${got.toSeq} mirror=$expect")
  }

  test("MMR picks the diverse candidate over a redundant equally-relevant one") {
    import spark.implicits._
    // anchor 100 = [1,0,0]; 101 and 102 are EXACT duplicates of each other;
    // 103 is 101 with the off-axis component sign-flipped, so all three have
    // the same relevance (~0.712) and rank 1 goes to 101 by id tie-break.
    // At rank 2 the duplicate 102 carries penalty cos(102,101)=1.0 →
    // score 0.5·(0.712−1) < 0, while 103's penalty is cos(103,101)≈0.014 →
    // score ≈ +0.35. MMR must pick 101 then 103; plain top-2 by (sim, id)
    // would return {101, 102}.
    val rows = Seq(
      (100L, Seq(1.0f, 0.0f, 0.0f), 0),
      (101L, Seq(0.71f, 0.7f, 0.0f), 0),
      (102L, Seq(0.71f, 0.7f, 0.0f), 0),
      (103L, Seq(0.71f, -0.7f, 0.0f), 0)).toDF("vec_id", "embedding", "label")
    val got = Similarity.mmrRerank(rows, Seq(100L), k = 2, shortlist = 3)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(got.toSeq == Seq((1, 101L), (2, 103L)), s"got ${got.toSeq}")
  }

  test("centroidSimilarityMatrix: orthogonal groups 0, parallel groups 1, scale-invariant") {
    import spark.implicits._
    val rows = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(1.0f, 0.0f), 0),
      (3L, Seq(0.0f, 1.0f), 1),
      (4L, Seq(2.0f, 0.0f), 2)) // parallel to group 0 at twice the scale
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidSimilarityMatrix(rows, "label")
      .as[(Int, Int, Double)].collect().toList
    assert(got == List((0, 1, 0.0), (0, 2, 1.0), (1, 2, 0.0)), s"got $got")
  }

  test("ivfProbeCurve: a cross-cell neighbor is missed at nprobe=1 and recovered at 2") {
    import spark.implicits._
    // cells: x-axis (0) and y-axis (1). Query (1,0); true top-2 = id1
    // (same cell) and id2 (OTHER cell) — the single-probe miss the curve
    // exists to expose.
    val rows = Seq(
      (0L, Seq(1.0f, 0.0f), 0),
      (1L, Seq(0.99f, 0.1f), 0),
      (2L, Seq(0.1f, 0.99f), 0)).toDF("vec_id", "embedding", "label")
    val cents = Array((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
    val got = Similarity.ivfProbeCurve(rows, cents, Seq(1.0, 0.0), k = 2,
        nprobes = Seq(1, 2), excludeVecId = Some(0L))
      .as[(Int, Long, Double, Long, Double)].collect().toList
    val want = List((1, 2L, 0.666667, 1L, 0.5), (2, 3L, 1.0, 2L, 1.0))
    assert(got == want, s"got $got")
  }

  test("mmrRerank survives zero-norm embeddings (NaN cosine): unselectable, no crash") {
    import spark.implicits._
    // vec 9 is the zero vector: its cosine to the anchor is 0/0 = NaN, so
    // the greedy pick must skip it and stop early instead of used(-1)
    val emb = Seq(
      (0L, Seq(1f, 0f), 0), (1L, Seq(0.9f, 0.1f), 0),
      (2L, Seq(0.5f, 0.5f), 0), (9L, Seq(0f, 0f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.mmrRerank(emb, anchorIds = Seq(0L), k = 3, shortlist = 3)
      .select("vec_id").as[Long].collect().toSet
    assert(!got.contains(9L), s"zero vector must be unselectable: $got")
    assert(got.nonEmpty)
  }

  test("lshBucketsDeterministic rejects numPlanes > 62 (bucket-bit aliasing)") {
    import spark.implicits._
    val emb = Seq((0L, Seq(1f, 0f), 0)).toDF("vec_id", "embedding", "label")
    intercept[IllegalArgumentException](
      Similarity.lshBucketsDeterministic(emb, numPlanes = 65, dim = 2).count())
  }
}
