package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`), the north-star similarity-search surface.
  *
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *    One scan + TakeOrdered; no shuffle of the embedding column beyond the
  *    final top-k merge.
  *  - [[ivfTopK]]: IVF-style two-stage search — assign every vector to its
  *    nearest centroid (map-side, centroids broadcast), then probe only the
  *    `nprobe` centroids nearest the query. At 100 TB the inverted file is
  *    the difference between scanning everything and scanning
  *    `nprobe/k`-th of it; the index (vector → centroid) persists as a
  *    partitioned table so repeated queries prune partitions.
  *  - [[lshBuckets]]: random-hyperplane signs → bucket key, usable both for
  *    ANN candidate generation and as the blocking key for
  *    [[Dedup.embeddingNearDups]].
  *
  * All scoring is built-in expressions (`zip_with` + `aggregate`) in double
  * precision — codegen'd, no UDF.
  */
object Similarity {

  /** Cast a float-array column to double for stable, oracle-matching math. */
  def toDoubleArray(c: Column): Column = transform(c, x => x.cast("double"))

  /** Bit-exact replica of DuckDB's `round(DOUBLE, 6)`: half-away-from-zero
    * on the SCALED float `x*1e6` (std::round semantics). A
    * `BigDecimal(x).setScale(6, HALF_UP)` rounds the true decimal expansion
    * instead, and the two disagree on boundary-straddling doubles — e.g.
    * 0.1234565 is 0.12345649999… in binary (BigDecimal → 0.123456) but
    * 0.1234565*1e6 = 123456.50000000001 (DuckDB → 0.123457). std::round is
    * replicated by comparing the EXACT fractional part (a − ⌊a⌋ is exact in
    * IEEE for our magnitudes), not by `floor(s + 0.5)` — the addition can
    * carry across the half boundary (s = 0.49999999999999994 → s + 0.5
    * rounds to 1.0, but std::round(s) = 0). Validated mismatch-free against
    * DuckDB 1.x over 250k random + adversarial values. Used where
    * driver-side values feed an oracle-compared result (q88's refined
    * centroids, the PQ ADC lookup table).
    */
  private[graft] def duckRound6(x: Double): Double = {
    val s = x * 1e6
    val a = math.abs(s)
    val f = math.floor(a)
    val r = if (a - f >= 0.5) f + 1.0 else f
    math.copySign(r, s) / 1e6
  }

  /** Driver-side sequential cosine — the same left-to-right accumulation
    * order as the `CosineSim` kernel and DuckDB's
    * `list_cosine_similarity`. The accumulation order is a cross-engine
    * determinism contract: every driver-side mirror (IVF probe pick,
    * IVF-PQ probe pick, MMR greedy) must use THIS one definition, so an
    * edit can't silently change the order for one operator only.
    */
  private def cosSeq(a: Seq[Double], b: Seq[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Dot product — native fused kernel (see
    * `graft.functions.VectorExpressions`): sequential left-to-right double
    * accumulation, the same IEEE order as an `aggregate(zip_with(...))` fold
    * but with no per-row intermediate array allocation.
    */
  def dot(a: Column, b: Column): Column = VectorFunctions.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity — native fused kernel, codegen'd. */
  def cosine(a: Column, b: Column): Column = VectorFunctions.cosineSim(a, b)

  /** Exact cosine top-k against a query vector (given as a literal array so
    * it folds into codegen; obtain it via [[queryVector]]).
    */
  def bruteForceTopK(
      embeddings: DataFrame,
      query: Seq[Double],
      k: Int,
      excludeVecId: Option[Long] = None): DataFrame = {
    val q = array(query.map(lit): _*)
    val base = excludeVecId.fold(embeddings)(id => embeddings.filter(col("vec_id") =!= id))
    base
      .withColumn("sim", cosine(toDoubleArray(col("embedding")), q))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id"), col("label"), round(col("sim"), 4).as("sim"))
  }

  /** ColBERT-style late-interaction (MaxSim) top-k: treat the query and
    * each document as `subVecs` sub-vectors (contiguous `dim/subVecs`
    * blocks — the multi-vector layout flattened into the one embedding
    * column, the storage shape a real late-interaction index uses) and
    * score
    *
    *   maxsim(q, d) = Σ_i max_j ⟨q_i, d_j⟩
    *
    * — each query sub-vector matches its BEST document sub-vector, summed.
    * This is the retrieval scorer dense single-vector cosine cannot
    * express (a document strong on two disjoint aspects of the query beats
    * one mediocre on both).
    *
    * Scale shape: the exact baseline, same contract as [[bruteForceTopK]] —
    * query sub-vectors enter as driver literals folded into ONE codegen'd
    * projection (subVecs² fused [[dot]] kernels + exact `greatest`/`+`
    * combine, no intermediate arrays, no UDF), then `TakeOrdered(k)` — a
    * map-only scan with per-partition top-k, never a shuffle of vectors.
    * The blocked scale path composes exactly as for cosine: any of the
    * IVF/LSH block assignments upstream of this scorer (the q48/q91
    * machinery) cuts the scanned fraction without touching the scoring
    * expression. Sum order is the fixed left fold i = 0..subVecs−1 —
    * the cross-engine determinism contract ([[cosSeq]] convention).
    */
  def maxSimTopK(
      embeddings: DataFrame,
      query: Seq[Double],
      subVecs: Int,
      k: Int,
      excludeVecId: Option[Long] = None): DataFrame = {
    require(subVecs > 0 && query.nonEmpty && query.length % subVecs == 0,
      s"need dim divisible by subVecs: dim=${query.length}, subVecs=$subVecs")
    val subDim = query.length / subVecs
    val dv = toDoubleArray(col("embedding"))
    val docSubs = (0 until subVecs).map(j => slice(dv, j * subDim + 1, subDim))
    val score = query.grouped(subDim).map { qs =>
      val qLit = array(qs.map(lit).toSeq: _*)
      greatest(docSubs.map(ds => dot(ds, qLit)): _*)
    }.reduce(_ + _)
    val base = excludeVecId.fold(embeddings)(id => embeddings.filter(col("vec_id") =!= id))
    base
      .withColumn("maxsim", score)
      .orderBy(col("maxsim").desc, col("vec_id").asc)
      .limit(k)
      // + 0.0 canonicalizes a rounded -0.0 (the q68 repr-hash convention)
      .select(col("vec_id"), col("label"),
        (round(col("maxsim"), 4) + lit(0.0)).as("maxsim"))
  }

  /** Cross-snapshot EMBEDDING drift per label: the cosine between each
    * label's centroid in snapshot `a` and in snapshot `b` — the
    * embedding-space twin of the token-distribution drift monitor
    * ([[Corpus.tokenDistributionDrift]]): "did this cluster's semantic
    * center move between releases?" Cosine of the component SUMS equals
    * cosine of the means (scale cancels), so no per-label division ever
    * happens — the statistic is a ratio of three exact-shaped double
    * folds, emitted under 6-decimal rounding (sum-order jitter ~1e-13,
    * the q117 convention).
    *
    * Scale shape: one posexplode + (label, pos) aggregation PER snapshot
    * (corpus×dim rows through one shuffle each — the only corpus-sized
    * work), then everything runs on the |labels|·dim component relation.
    * Labels absent from a side emit null cosine (0/0 never evaluated).
    */
  def embeddingDrift(a: DataFrame, b: DataFrame, labelCol: String): DataFrame = {
    def sums(df: DataFrame, sCol: String, nCol: String): DataFrame = {
      val comp = df.select(col(labelCol).as("__l"),
          posexplode(toDoubleArray(col("embedding"))).as(Seq("__p", "__x")))
        .groupBy("__l", "__p").agg(sum("__x").as(sCol))
      val n = df.groupBy(col(labelCol).as("__l")).agg(count(lit(1)).as(nCol))
      comp.join(n, "__l")
    }
    sums(a, "__sa", "n_a")
      .join(sums(b, "__sb", "n_b"), Seq("__l", "__p"), "full_outer")
      .groupBy(col("__l").as(labelCol))
      .agg(max("n_a").as("n_a"), max("n_b").as("n_b"),
        round(sum(col("__sa") * col("__sb")) /
          (sqrt(sum(col("__sa") * col("__sa"))) * sqrt(sum(col("__sb") * col("__sb")))), 6)
          .as("centroid_cosine"))
      .na.fill(0L, Seq("n_a", "n_b"))
  }

  /** Cross-group semantic similarity matrix: pairwise cosine between
    * per-group centroids (computed on the SUM vectors — cosine is
    * scale-invariant, so no division by counts ever happens, the
    * [[embeddingDrift]] algebra applied across groups instead of across
    * snapshots) — the data-card "which sources say the same things" map
    * read before a mixing plan treats sources as distinct. One
    * corpus-sized component aggregation; the pair join runs on the
    * (groups × dim)-sized sum relation.
    */
  def centroidSimilarityMatrix(df: DataFrame, groupCol: String): DataFrame = {
    val comp = Stage.snapshotDF(df
      .select(col(groupCol).as("__g"),
        posexplode(toDoubleArray(col("embedding"))).as(Seq("__p", "__x")))
      .groupBy("__g", "__p").agg(sum("__x").as("__s")))
    comp.as("a").join(comp.as("b"),
        col("a.__p") === col("b.__p") && col("a.__g") < col("b.__g"))
      .groupBy(col("a.__g").as("group_a"), col("b.__g").as("group_b"))
      .agg((round(sum(col("a.__s") * col("b.__s")) /
        (sqrt(sum(col("a.__s") * col("a.__s"))) *
          sqrt(sum(col("b.__s") * col("b.__s")))), 6) + lit(0.0))
        .as("centroid_cosine"))
      .orderBy("group_a", "group_b")
  }

  /** Matryoshka-style truncated-dimension cosine top-k: score on the
    * FIRST `dims` components only (Kusupati et al. 2022 — MRL-trained
    * embeddings concentrate meaning in the prefix, so a prefix scan reads
    * `dims/D` of the bytes per candidate; with a dim-major / truncated
    * column layout that is a proportional scan-cost cut at 100 TB).
    * Same output contract as [[bruteForceTopK]]; pair it with the
    * recall audit (q182) to price the truncation before adopting it —
    * measure, don't guess.
    */
  def truncatedTopK(
      embeddings: DataFrame,
      query: Seq[Double],
      k: Int,
      dims: Int,
      excludeVecId: Option[Long] = None): DataFrame = {
    require(dims >= 1, s"need dims >= 1: $dims")
    val q = array(query.take(dims).map(lit): _*)
    val base = excludeVecId.fold(embeddings)(id => embeddings.filter(col("vec_id") =!= id))
    base
      .withColumn("sim", cosine(slice(toDoubleArray(col("embedding")), 1, dims), q))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id"), col("label"), round(col("sim"), 4).as("sim"))
  }

  /** Johnson–Lindenstrauss random projection, the dimensionality-reduction
    * front of the ANN family: a ±1 (Achlioptas) projection matrix derived
    * deterministically — `sign(i,j) = +1` iff the murmur3 fmix32 finalizer
    * of `i·65536 + j` is even — so the "random" matrix is reproducible
    * across engines and the oracle regenerates it with pure integer SQL
    * (the q99/q116 no-RNG convention). The polyHash parity used elsewhere
    * is NOT suitable here: parity of a mod-p-linear hash is itself
    * quasi-linear, and the 8×64 matrix it produced had near-parallel rows
    * (pairwise row dots of ±60/64 — a rank-2 "projection"); the xor-shift-
    * multiply finalizer is non-linear and lands row dots in the ±20 range
    * a random matrix would give. `outDim`-dim projected vectors preserve
    * pairwise geometry to ~1/√outDim distortion; a 100 TB corpus stores
    * the projected column once and every downstream distance costs
    * `outDim/inDim`-th of the full-width scan. Projection is an unrolled
    * left-associated sum per output coordinate (inDim × outDim codegen
    * terms, no UDF) — the fold order is the cross-engine bit-identity
    * contract with the oracle's `list_reduce`.
    */
  private def fmix32(v: Long): Long = {
    var x = v & 0xffffffffL
    x = ((x ^ (x >>> 16)) * 0x85ebca6bL) & 0xffffffffL
    x = ((x ^ (x >>> 13)) * 0xc2b2ae35L) & 0xffffffffL
    x ^ (x >>> 16)
  }

  def rpSigns(inDim: Int, outDim: Int): Array[Array[Double]] =
    Array.tabulate(outDim, inDim) { (j, i) =>
      if (fmix32(i * 65536L + j) % 2 == 0) 1.0 else -1.0
    }

  /** Project a float-array column through a [[rpSigns]] matrix. */
  def rpProject(vec: Column, signs: Array[Array[Double]]): Column =
    array(signs.map { row =>
      row.zipWithIndex.map { case (s, i) =>
        element_at(vec, i + 1).cast("double") * lit(s)
      }.reduce(_ + _)
    }: _*)

  /** Project a driver-side query vector with the identical fold order. */
  def rpProjectLocal(q: Seq[Double], signs: Array[Array[Double]]): Seq[Double] =
    signs.toSeq.map(row => row.zip(q).map { case (s, v) => v * s }.reduce(_ + _))

  /** Fetch one embedding as a driver-side literal (the query vector — a
    * single row, not a distributed collect).
    */
  def queryVector(embeddings: DataFrame, vecId: Long): Seq[Double] =
    embeddings.filter(col("vec_id") === vecId)
      .select(toDoubleArray(col("embedding")))
      .head().getSeq[Double](0)

  /** Deterministic centroid selection for the IVF index: the embeddings of
    * the `numCentroids` lowest vec_ids (a fixed, reproducible choice; a
    * k-means refinement would drop in here without changing the dataflow).
    */
  def centroids(embeddings: DataFrame, numCentroids: Int): Array[(Long, Seq[Double])] =
    embeddings.orderBy("vec_id").limit(numCentroids)
      .select(col("vec_id"), toDoubleArray(col("embedding")))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))

  /** IVF index: every vector tagged with its nearest centroid id. Centroids
    * ride along as a broadcast literal array; assignment is a map-side
    * argmin, no shuffle. Persisting this partitioned by `centroid_id` gives
    * partition-pruned probes.
    */
  def ivfAssign(embeddings: DataFrame, cents: Array[(Long, Seq[Double])]): DataFrame = {
    val centArr = array(cents.map { case (cid, v) =>
      struct(lit(cid).as("cid"), array(v.map(lit): _*).as("cv"))
    }: _*)
    embeddings
      .withColumn("__v", toDoubleArray(col("embedding")))
      .withColumn("__scored", transform(centArr,
        c => struct((-cosine(col("__v"), c("cv"))).as("negsim"), c("cid").as("cid"))))
      .withColumn("centroid_id", array_min(col("__scored")).getField("cid"))
      .drop("__scored")
  }

  /** IVF tuning curve: recall@k against the exact top-k AND the scanned
    * corpus fraction, one row per `nprobe` — the recall-vs-cost frontier
    * an ANN deployment is actually tuned on (q111/q120 audit single
    * settings; a curve shows where the knee is). One assignment pass and
    * one exact pass are SHARED across every probe setting (snapshotted);
    * each curve point then costs only a cell filter + a k-row cut, so
    * the whole sweep is ~2 corpus passes, not |nprobes|+1.
    */
  def ivfProbeCurve(
      embeddings: DataFrame,
      cents: Array[(Long, Seq[Double])],
      query: Seq[Double],
      k: Int,
      nprobes: Seq[Int],
      excludeVecId: Option[Long] = None): DataFrame = {
    require(nprobes.nonEmpty && nprobes.forall(_ >= 1), s"bad nprobes $nprobes")
    val flat = Stage.snapshotDF(
      bruteForceTopK(embeddings, query, k, excludeVecId).select(col("vec_id")))
    val assigned = Stage.snapshotDF(
      ivfAssign(embeddings, cents).select(col("vec_id"), col("centroid_id"), col("__v")))
    val total = assigned.agg(count(lit(1)).as("__nv"))
    val ranked = cents.map { case (cid, v) => (cid, cosSeq(v, query)) }
      .sortBy { case (cid, s) => (-s, cid) }.map(_._1)
    val qc = array(query.map(lit): _*)
    val rows = nprobes.map { np =>
      val probeIds = ranked.take(np).toSeq
      val cells = assigned.filter(col("centroid_id").isin(probeIds: _*))
      val scanned = cells.agg(count(lit(1)).as("n_scanned"))
      val base = excludeVecId.fold(cells)(id => cells.filter(col("vec_id") =!= id))
      val hits = base.withColumn("sim", cosine(col("__v"), qc))
        .orderBy(col("sim").desc, col("vec_id").asc).limit(k)
        .join(flat, "vec_id")
        .agg(count(lit(1)).as("hits"))
      scanned.crossJoin(broadcast(hits))
        .select(lit(np).as("nprobe"), col("n_scanned"), col("hits"))
    }
    rows.reduce(_.unionByName(_))
      .crossJoin(broadcast(total))
      .select(col("nprobe"), col("n_scanned"),
        (round(col("n_scanned").cast("double") / col("__nv").cast("double"), 6)
          + lit(0.0)).as("scan_frac"),
        col("hits"),
        (round(col("hits").cast("double") / lit(k.toDouble), 6) + lit(0.0))
          .as("recall"))
      .orderBy("nprobe")
  }

  /** ANN top-k via IVF: score only vectors whose centroid is among the
    * `nprobe` centroids closest to the query.
    */
  def ivfTopK(
      embeddings: DataFrame,
      cents: Array[(Long, Seq[Double])],
      query: Seq[Double],
      k: Int,
      nprobe: Int,
      excludeVecId: Option[Long] = None): DataFrame = {
    val probeIds = cents.map { case (cid, v) => (cid, cosSeq(v, query)) }
      .sortBy { case (cid, s) => (-s, cid) }.take(nprobe).map(_._1).toSet
    val assigned = ivfAssign(embeddings, cents)
      .filter(col("centroid_id").isin(probeIds.toSeq: _*))
    val base = excludeVecId.fold(assigned)(id => assigned.filter(col("vec_id") =!= id))
    val q = array(query.map(lit): _*)
    base
      .withColumn("sim", cosine(col("__v"), q))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id"), col("label"), round(col("sim"), 4).as("sim"))
  }

  /** Typed Aggregator: element-wise mean of equal-length double vectors —
    * the k-means update step for IVF centroid refinement, expressed through
    * Spark's `Aggregator[IN, BUF, OUT]` API (partial-merge friendly: the
    * buffer is (sum-vector, count), merged associatively across partitions).
    */
  class VectorMeanAggregator(dim: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        Seq[Double], (Array[Double], Long), Seq[Double]] {
    override def zero: (Array[Double], Long) = (new Array[Double](dim), 0L)
    override def reduce(b: (Array[Double], Long), v: Seq[Double]): (Array[Double], Long) = {
      var i = 0; while (i < dim) { b._1(i) += v(i); i += 1 }
      (b._1, b._2 + 1)
    }
    override def merge(a: (Array[Double], Long), b: (Array[Double], Long)): (Array[Double], Long) = {
      var i = 0; while (i < dim) { a._1(i) += b._1(i); i += 1 }
      (a._1, a._2 + b._2)
    }
    override def finish(b: (Array[Double], Long)): Seq[Double] =
      if (b._2 == 0) Seq.fill(dim)(0.0) else b._1.map(_ / b._2).toSeq
    override def bufferEncoder: org.apache.spark.sql.Encoder[(Array[Double], Long)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Array[Double], Long)]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
  }

  /** Typed Aggregator: ONE-pass second-moment (Gram) sums over quantized
    * vectors — the covariance/PCA front end. Buffer = the d coordinate
    * sums + the d(d+1)/2 upper-triangular product sums + a count, all
    * exact 64-bit integers over `floor(x·1e6 + 0.5)`-quantized coordinates
    * (the q145 integer-moment convention): partials merge by pure
    * addition, so the result is independent of row order, partitioning,
    * and merge tree — bit-stable against the oracle with no rounding
    * contract needed. At 100 TB this is the only shape that works: each
    * executor folds its slice into a ~17 KB buffer (d=64), one reduce
    * merges the buffers, and the corpus is never shuffled at all.
    * Overflow headroom: |q| ≲ 1e6·|x|, so Σ q_i·q_j ≲ n·1e12 — safe in a
    * signed long to n ≈ 9·10⁶ rows per unit-scale dimension pair; larger
    * corpora shard the aggregation and merge per-shard sums.
    */
  class GramAggregator(dim: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        Seq[Long], (Array[Long], Long), (Seq[Long], Long)] {
    private val nPairs = dim * (dim + 1) / 2
    override def zero: (Array[Long], Long) = (new Array[Long](dim + nPairs), 0L)
    override def reduce(b: (Array[Long], Long), q: Seq[Long]): (Array[Long], Long) = {
      val arr = q.toArray
      var i = 0
      var k = dim
      while (i < dim) {
        b._1(i) += arr(i)
        var j = i
        while (j < dim) { b._1(k) += arr(i) * arr(j); j += 1; k += 1 }
        i += 1
      }
      (b._1, b._2 + 1)
    }
    override def merge(a: (Array[Long], Long), b: (Array[Long], Long)): (Array[Long], Long) = {
      var i = 0; while (i < a._1.length) { a._1(i) += b._1(i); i += 1 }
      (a._1, a._2 + b._2)
    }
    override def finish(b: (Array[Long], Long)): (Seq[Long], Long) = (b._1.toSeq, b._2)
    override def bufferEncoder: org.apache.spark.sql.Encoder[(Array[Long], Long)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Array[Long], Long)]()
    override def outputEncoder: org.apache.spark.sql.Encoder[(Seq[Long], Long)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Seq[Long], Long)]()
  }

  /** Pairwise covariance of the quantized coordinates from ONE corpus
    * pass: [[GramAggregator]] sums → a broadcast one-row literal → the
    * d(d−1)/2 off-diagonal covariances unpacked against a driver-built
    * (i, j, flat-index) pair table. `cov = (S_ij/n − (S_i/n)(S_j/n))/1e12`
    * evaluated in exactly that association order (the oracle mirrors it).
    */
  def covariancePairs(embeddings: DataFrame, dim: Int = 64): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val quant = embeddings
      .select(transform(col("embedding"),
        x => floor(x.cast("double") * 1e6 + lit(0.5)).cast("long")).as("q"))
      .as[Seq[Long]]
    val packed = quant.select(new GramAggregator(dim).toColumn).toDF("sums", "n")
    def flat(i: Int, j: Int): Int = dim + (i * (2 * dim - i + 1)) / 2 + (j - i)
    val pairs = (for { i <- 0 until dim; j <- (i + 1) until dim }
      yield (i, j, flat(i, j))).toDF("i", "j", "idx")
    pairs.crossJoin(broadcast(packed))
      .select(col("i"), col("j"),
        ((element_at(col("sums"), col("idx") + 1).cast("double") / col("n") -
          (element_at(col("sums"), col("i") + 1).cast("double") / col("n")) *
          (element_at(col("sums"), col("j") + 1).cast("double") / col("n")))
          / lit(1e12)).as("cov"))
  }

  /** Top principal component by power iteration, the PCA composition over
    * [[GramAggregator]]: the 64×64 covariance matrix is derived on the
    * driver from the ONE-pass exact integer Gram sums (KB-sized — the
    * corpus is never shuffled and never rescanned), `iters` power steps
    * run in driver doubles with every coordinate re-rounded to 6 decimals
    * per step (the q114/q126/q141 per-layer rounding contract — each
    * step's input is bit-identical cross-engine, so the whole iteration
    * is), and the resulting component returns to the cluster as a literal
    * for a map-side projection. Covariance entries use exactly the
    * [[covariancePairs]] expression shape; the projection is a
    * left-associated dot — both mirrored by the oracle.
    */
  def pcaProject(embeddings: DataFrame, dim: Int = 64, iters: Int = 8): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val quant = embeddings
      .select(transform(col("embedding"),
        x => floor(x.cast("double") * 1e6 + lit(0.5)).cast("long")).as("q"))
      .as[Seq[Long]]
    val (sums, n) = quant.select(new GramAggregator(dim).toColumn).head()
    val s = sums.toArray
    def flat(i: Int, j: Int): Int = dim + (i * (2 * dim - i + 1)) / 2 + (j - i)
    val cov = Array.tabulate(dim, dim) { (i, j) =>
      val (a, b) = if (i <= j) (i, j) else (j, i)
      (s(flat(a, b)).toDouble / n -
        (s(a).toDouble / n) * (s(b).toDouble / n)) / 1e12
    }
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    var v = Array.fill(dim)(0.125) // 1/√64 exact
    for (_ <- 0 until iters) {
      val w = Array.tabulate(dim)(j =>
        (0 until dim).map(k => cov(j)(k) * v(k)).reduce(_ + _))
      val norm = math.sqrt(w.map(x => x * x).reduce(_ + _))
      v = w.map(x => r6(x / norm))
    }
    val vc = array(v.map(lit): _*)
    embeddings.select(col("vec_id"), col("label"),
      zip_with(toDoubleArray(col("embedding")), vc, (a, b) => a * b).as("__t"))
      .withColumn("proj", aggregate(col("__t"), lit(0.0), (acc, x) => acc + x))
      .select(col("vec_id"), col("label"), col("proj"))
  }

  /** One k-means refinement pass over the IVF index: assign to current
    * centroids, recompute each centroid as the mean of its members (typed
    * Aggregator above), keeping empty centroids in place. Improves probe
    * recall over the fixed-id seed centroids.
    */
  def refineCentroids(
      embeddings: DataFrame,
      cents: Array[(Long, Seq[Double])]): Array[(Long, Seq[Double])] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val dim = cents.head._2.length
    val assigned = ivfAssign(embeddings, cents)
      .select(col("centroid_id"), col("__v"))
      .as[(Long, Seq[Double])]
    val agg = new VectorMeanAggregator(dim).toColumn
    val means = assigned.groupByKey(_._1).mapValues(_._2).agg(agg).collect().toMap
    cents.map { case (cid, v) => (cid, means.getOrElse(cid, v)) }
  }

  /** K rounds of Lloyd's algorithm: iterated [[refineCentroids]] with every
    * coordinate re-rounded to 6 decimals between rounds — the per-layer
    * rounding contract (q114/q126/q141 convention) that keeps each round's
    * assignment inputs bit-identical cross-engine even though per-cell mean
    * summation order is not.
    *
    * The 100 TB shape: each round is one map-side broadcast assignment (the
    * centroid table rides as a codegen literal, no shuffle) plus one
    * (cell, dim)-keyed partial-aggregable mean; the iteration state is a
    * numCells × dim driver literal — KB-sized regardless of corpus scale,
    * the same state budget as the PQ/RQ codebooks. Empty cells keep their
    * previous centroid, so the cell count never decays.
    */
  def lloyd(
      embeddings: DataFrame,
      seeds: Array[(Long, Seq[Double])],
      rounds: Int): Array[(Long, Seq[Double])] = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    (1 to rounds).foldLeft(seeds) { (c, _) =>
      refineCentroids(embeddings, c).map { case (cid, v) => (cid, v.map(duckRound6)) }
    }
  }

  /** Random-hyperplane LSH bucket key: `numPlanes` fixed pseudo-random
    * hyperplanes (seeded, deterministic), bucket = sign-bit string. Vectors
    * in the same bucket are cosine-close candidates.
    */
  /** LSH bucket key from DETERMINISTIC integer hyperplanes —
    * p(i)(j) = ((i·37 + j·17) mod 13) − 6 — so the bucketing is
    * SQL-expressible and the oracle engine reproduces it bit-for-bit
    * (`lshBuckets`' seeded Gaussian planes are the production choice but
    * can only be rows-only checked). Bucket = Σ 2^i over planes with
    * non-negative projection; each projection is one fused dot-product
    * kernel call, all map-side.
    */
  /** Shared prelude of [[knnJoinLsh]] and [[dbscan]]: deterministic LSH
    * bucketing → bucket cap → snapshot, projected as the two sides of the
    * in-bucket self-join. The snapshot barrier is load-bearing — the
    * bucketed+capped relation feeds BOTH sides, and without it the scan +
    * bucketing kernels execute once per consumer (measured 3 scans; with
    * it, one). One definition so the capping/observability contract cannot
    * drift between the two operators.
    */
  private def bucketedSelfJoinSides(
      embeddings: DataFrame, numPlanes: Int, dim: Int,
      maxBucketSize: Int): (DataFrame, DataFrame, DataFrame) = {
    val b = Dedup.capBuckets(
      lshBucketsDeterministic(embeddings, numPlanes, dim)
        .select(col("vec_id"), toDoubleArray(col("embedding")).as("v"),
          col("lsh_bucket")),
      "lsh_bucket", maxBucketSize)
      .transform(Stage.snapshotDF)
    (b,
      b.select(col("lsh_bucket"), col("vec_id").as("anchor"), col("v").as("va")),
      b.select(col("lsh_bucket"), col("vec_id").as("neighbor"), col("v").as("vn")))
  }

  def lshBucketsDeterministic(embeddings: DataFrame, numPlanes: Int, dim: Int): DataFrame = {
    // same bound as lshBucketsHashed: at i = 63 the sign bit turns bucket
    // sums negative and at i >= 64 the JVM shift WRAPS (1L << 64 == 1), so
    // distinct planes would silently alias the same bucket bit
    require(numPlanes >= 1 && numPlanes <= 62, s"numPlanes in [1,62]: $numPlanes")
    val planes: Seq[Seq[Double]] = (0 until numPlanes).map { i =>
      (0 until dim).map(j => (((i * 37 + j * 17) % 13) - 6).toDouble)
    }
    val v = toDoubleArray(col("embedding"))
    val bucket = planes.zipWithIndex.map { case (p, i) =>
      when(dot(v, array(p.map(lit): _*)) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    embeddings.withColumn("lsh_bucket", bucket)
  }

  /** LSH bucket key from HASH-DERIVED integer hyperplanes — the declared
    * gate form beside [[lshBuckets]]' seeded Gaussian planes (the
    * q228-beside-q71 convention: the seeded production form stays
    * spec-tested; THIS form is SQL-replayable end to end). Plane
    * coefficient p(i)(j) = finalized-polyhash("i:j") mod 2001 − 1000 —
    * the [[Kmv.finalizedHash]] affine finalizer over the oracle's own
    * polynomial string hash, so the coefficients are pseudo-random and
    * decorrelated (unlike [[lshBucketsDeterministic]]'s structured
    * linear grid) yet re-derivable in SQL from the SAME arithmetic, no
    * literal smuggling. The embedding is quantized to exact 1e-6
    * integers BEFORE the projection, so every sign test is pure Long
    * arithmetic (|vq|≤~2·10⁶ × |c|≤10³ × dim 64 ≪ 2⁶³) —
    * bit-deterministic cross-engine, immune to the dot-product
    * summation-order ulp flips a double projection risks at 0. All
    * map-side: one fused per-row expression, no shuffle, no state.
    */
  def lshBucketsHashed(embeddings: DataFrame, numPlanes: Int, dim: Int): DataFrame = {
    require(numPlanes >= 1 && numPlanes <= 62, s"numPlanes in [1,62]: $numPlanes")
    // the CANONICAL code-point fold + the CANONICAL finalizer constants
    // (Kmv.finalizedLong), not private rewrites: the labels are ASCII
    // today, but a local re-implementation would silently diverge from
    // the oracle's replay the day either definition is tuned
    def coef(i: Int, j: Int): Long =
      graft.operators.Kmv.finalizedLong(graft.functions.StringKernels.polyHash(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"$i:$j"))) % 2001L - 1000L
    val vq = transform(col("embedding"),
      x => floor(x.cast("double") * 1000000d + lit(0.5d)).cast("long"))
    val bucket = (0 until numPlanes).map { i =>
      val cs = array((0 until dim).map(j => lit(coef(i, j))): _*)
      val d = aggregate(zip_with(col("__vq"), cs, (a, b) => a * b),
        lit(0L), (acc, x) => acc + x)
      when(d >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    embeddings.withColumn("__vq", vq)
      .withColumn("lsh_bucket", bucket)
      .drop("__vq")
  }

  /** Blocked k-NN join: for EVERY vector, its `k` most-similar neighbors
    * within its deterministic LSH bucket — the kNN-graph / hard-negative-
    * mining primitive (contrastive training wants, per anchor, close-but-
    * not-duplicate examples; a kNN graph feeds graph-based dedup and
    * SemDeDup variants). The exact global form is a quadratic self-join, so
    * the engine ships the blocked form: comparison volume Σ bucket²
    * (buckets capped via [[Dedup.capBuckets]], observable), per-anchor
    * ranking windows are bucket-bounded, and recall follows the LSH
    * collision curve — raise it with more probes, never with a wider join.
    * Ranking orders by the ROUNDED similarity (4 decimals, far above ulp
    * noise) then neighbor id, so ranks are bit-deterministic cross-engine.
    * A vector alone in its bucket has no neighbors and is absent.
    */
  def knnJoinLsh(
      embeddings: DataFrame,
      numPlanes: Int,
      dim: Int,
      k: Int,
      maxBucketSize: Int = 1000): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val (_, a, n) = bucketedSelfJoinSides(embeddings, numPlanes, dim, maxBucketSize)
    a.join(n, Seq("lsh_bucket"))
      .filter(col("anchor") =!= col("neighbor"))
      .withColumn("sim", round(cosine(col("va"), col("vn")), 4))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("anchor"))
          .orderBy(col("sim").desc, col("neighbor").asc)).cast("long"))
      .filter(col("rank") <= k)
      .select(col("anchor"), col("neighbor"), col("sim"), col("rank"))
  }

  /** Local Outlier Factor (Breunig, Kriegel, Ng, Sander, SIGMOD 2000) over
    * the [[knnJoinLsh]] neighborhood graph — DENSITY-relative anomaly
    * scoring: a point is anomalous not by absolute distance (q145's
    * z-score, q174's MAD) but relative to its neighbors' local density,
    * which is what separates "sparse but normal region" from "isolated in
    * a dense region". Distance d = 1 − cosine (the rounded knn sim, so
    * the whole chain is deterministic):
    *
    *   reach(a←b) = max(kdist(b), d(a,b)),
    *   lrd(a)     = |kNN(a)| / Σ_b reach(a←b),
    *   LOF(a)     = (Σ_b lrd(b) / |kNN(a)|) / lrd(a)   — ≈1 inlier, ≫1 outlier.
    *
    * Every relation after the knn self-join is |V|·k-sized; the per-anchor
    * Σ folds run in RANK order over collected ≤k-element lists (the
    * cross-engine determinism contract — a groupBy sum would leave the
    * float combine order to the shuffle). Points whose capped LSH bucket
    * has fewer than k neighbors score over their actual neighborhood
    * (|kNN| < k), the standard small-neighborhood LOF reading.
    */
  def lofScores(
      embeddings: DataFrame,
      numPlanes: Int,
      dim: Int,
      k: Int,
      maxBucketSize: Int = 1000): DataFrame = {
    val knn = Stage.snapshotDF(
      knnJoinLsh(embeddings, numPlanes, dim, k, maxBucketSize)
        .withColumn("d", lit(1.0) - col("sim")))
    val stats = knn.groupBy(col("anchor").as("neighbor"))
      .agg(max_by(col("d"), col("rank")).as("__kd"))
    val reach = knn.join(stats, Seq("neighbor"))
      .withColumn("__reach", greatest(col("__kd"), col("d")))
    val lrd = Stage.snapshotDF(reach.groupBy("anchor")
      .agg(sort_array(collect_list(struct(col("rank").as("r"),
        col("__reach").as("x")))).as("__l"), count(lit(1)).as("__n"))
      .select(col("anchor"), col("__n"),
        (col("__n").cast("double") /
          expr("aggregate(__l, 0D, (acc, e) -> acc + e.x)")).as("__lrd")))
    knn
      .join(lrd.select(col("anchor").as("neighbor"), col("__lrd").as("__nb")),
        Seq("neighbor"))
      .groupBy("anchor")
      .agg(sort_array(collect_list(struct(col("rank").as("r"),
        col("__nb").as("x")))).as("__l"), count(lit(1)).as("__n"))
      .join(lrd.select(col("anchor"), col("__lrd")), Seq("anchor"))
      .select(col("anchor"), col("__n").as("n_nn"),
        col("__lrd").as("__lrd_raw"),
        (expr("aggregate(__l, 0D, (acc, e) -> acc + e.x)") /
          col("__n") / col("__lrd")).as("__lof_raw"))
  }

  /** Blocked DBSCAN (Ester, Kriegel, Sander, Xu, KDD 1996) over the
    * deterministic LSH blocks — density CLUSTERING next to [[lofScores]]'s
    * density anomaly scoring: partitions the corpus into dense clusters,
    * boundary members, and noise, with no cluster count chosen up front
    * (the k-means assumption [[lloyd]] bakes in) and arbitrary-shape
    * clusters (a chain of close neighbors clusters even when no centroid
    * represents it).
    *
    * Distance is cosine: `a ~ b` iff round(cos(a,b), 4) ≥ `minSim` (the
    * rounded-sim determinism contract of [[knnJoinLsh]]). Roles:
    *
    *   core:   ≥ `minPts` ε-neighbors (the point itself NOT counted)
    *   border: non-core with ≥ 1 CORE ε-neighbor
    *   noise:  everything else
    *
    * Clusters = connected components of the core–core ε-graph
    * ([[Dedup.connectedComponents]], label = min member id); a core with
    * no core neighbor is its own singleton cluster; a border point joins
    * the SMALLEST cluster id among its core neighbors (classic DBSCAN
    * leaves this assignment order-dependent — a cross-engine-checkable
    * operator cannot, so the tie is pinned).
    *
    * Defined approximation (the q108/q130 convention): ε-neighborhoods are
    * computed WITHIN capped deterministic LSH buckets, so pair volume is
    * Σ bucket² (never corpus²) with over-cap buckets dropped observably
    * ([[Dedup.capBuckets]]); cross-bucket neighbors are unseen, splitting —
    * never merging — true clusters, and the capped universe is the
    * operator's population. Everything after the blocked self-join is
    * pair-volume-sized: one degree count, a CC recursion on the core–core
    * edges (graph-sized), one border attach join.
    */
  def dbscan(
      embeddings: DataFrame,
      numPlanes: Int,
      dim: Int,
      minSim: Double,
      minPts: Int,
      maxBucketSize: Int = 1000): DataFrame = {
    require(minPts >= 1, s"need minPts >= 1, got $minPts")
    val (b, a, n) = bucketedSelfJoinSides(embeddings, numPlanes, dim, maxBucketSize)
    // both directions of every ε-pair — the self-join emits (a,b) and (b,a)
    val pairs = a.join(n, Seq("lsh_bucket"))
      .filter(col("anchor") =!= col("neighbor"))
      .filter(round(cosine(col("va"), col("vn")), 4) >= minSim)
      .select(col("anchor"), col("neighbor"))
      .transform(Stage.snapshotDF) // feeds degrees, core edges, border attach
    // ONE ε-degree relation (r19): the r18 form re-aggregated `pairs` by
    // anchor three times (cores, border n_eps, noise n_eps) — same values,
    // three jobs' worth of stages; now computed once behind a snapshot
    // and filtered per consumer. Output identical — n_eps was always the
    // full pair degree.
    val degrees = Stage.snapshotDF(
      pairs.groupBy("anchor").agg(count(lit(1)).as("n_eps")))
    val cores = degrees.filter(col("n_eps") >= minPts)
    val coreEdges = pairs
      .join(cores.select(col("anchor")), Seq("anchor"), "left_semi")
      .join(cores.select(col("anchor").as("neighbor")), Seq("neighbor"), "left_semi")
      .filter(col("anchor") < col("neighbor"))
    val comp = Dedup.connectedComponents(coreEdges, "anchor", "neighbor")
    val coreOut = Stage.snapshotDF(
      cores.join(comp, cores("anchor") === comp("node"), "left")
        .select(cores("anchor").as("vec_id"),
          coalesce(col("component"), cores("anchor")).as("cluster"),
          lit("core").as("role"), col("n_eps")))
    val borderOut = pairs
      .join(coreOut.select(col("vec_id").as("neighbor"), col("cluster")),
        Seq("neighbor"))
      .join(coreOut.select(col("vec_id").as("anchor")), Seq("anchor"), "left_anti")
      .groupBy(col("anchor").as("vec_id"))
      .agg(min("cluster").as("cluster"))
      .select(col("vec_id"), col("cluster"), lit("border").as("role"))
      .join(degrees.select(col("anchor").as("vec_id"), col("n_eps")), Seq("vec_id"))
    val clustered = Stage.snapshotDF(coreOut.unionByName(borderOut))
    val noise = b.select(col("vec_id"))
      .join(clustered.select("vec_id"), Seq("vec_id"), "left_anti")
      .join(degrees.select(col("anchor").as("vec_id"), col("n_eps")),
        Seq("vec_id"), "left")
      .select(col("vec_id"), lit(null).cast("long").as("cluster"),
        lit("noise").as("role"), coalesce(col("n_eps"), lit(0L)).as("n_eps"))
    clustered.unionByName(noise)
  }

  /** Product-quantization codebook (Jégou, Douze, Schmid — "Product
    * Quantization for Nearest Neighbor Search", IEEE TPAMI 2011): split the
    * `dim`-dimensional space into `numSubspaces` contiguous subspaces and
    * quantize each subvector to one of `codebookSize` per-subspace
    * codewords. A 64-dim float vector (256 B) compresses to `numSubspaces`
    * small codes — the memory/IO transform that makes billion-vector ANN
    * feasible at 100 TB: the code table is what persists and what queries
    * scan; raw vectors are only needed to (re)rank a short list.
    *
    * Codewords in subspace s = the subvectors of the `codebookSize` lowest
    * vec_ids — the same deterministic seed convention as [[centroids]], so
    * the whole pipeline is SQL-expressible and oracle-checked end-to-end; a
    * per-subspace k-means refinement would drop in exactly like
    * [[refineCentroids]] without changing the dataflow. Returns
    * (subspace, codeword, subvector) with codeword = rank by vec_id.
    */
  def pqCodebook(
      embeddings: DataFrame,
      numSubspaces: Int,
      codebookSize: Int,
      dim: Int): Array[(Int, Int, Seq[Double])] = {
    require(dim % numSubspaces == 0,
      s"dim $dim not divisible into $numSubspaces subspaces")
    val subDim = dim / numSubspaces
    val seeds = centroids(embeddings, codebookSize)
    for {
      s <- (0 until numSubspaces).toArray
      ((_, v), cw) <- seeds.zipWithIndex
    } yield (s, cw, v.slice(s * subDim, (s + 1) * subDim))
  }

  /** Squared-L2 between an array column and a codeword literal, rounded to
    * 6 decimals — far above the ulp noise of summation-order differences
    * (the same determinism cushion as q88's refined centroids), so
    * cross-engine argmin comparisons and the ADC sum are bit-stable.
    * Sequential left fold, the IEEE order DuckDB's
    * `list_sum(list_transform(...))` uses.
    */
  private def sq2(a: Column, b: Column): Column =
    round(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x), 6)

  /** Driver-side twin of [[sq2]] for the ADC lookup table: same sequential
    * accumulation order, rounded with [[duckRound6]] so the literal matches
    * what DuckDB computes for the same pair of vectors.
    */
  private def sqDistRounded(a: Seq[Double], b: Seq[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
    duckRound6(acc)
  }

  /** Nearest codeword in subspace `s` as an `array_min` over scored structs
    * (dist, cw[, qd]): distance first, ties to the lowest codeword id —
    * all map-side, the codebook a broadcast literal folded into codegen.
    * `qd(cw)` optionally rides along as the ADC lookup-table payload.
    */
  private def pqScored(
      v: Column,
      codebook: Array[(Int, Int, Seq[Double])],
      s: Int,
      subDim: Int,
      qd: Option[Int => Double]): Column = {
    val sub = slice(v, s * subDim + 1, subDim)
    val entries = codebook.filter(_._1 == s).sortBy(_._2).map { case (_, cw, cv) =>
      val base = Seq(sq2(sub, array(cv.map(lit): _*)).as("dist"), lit(cw).as("cw"))
      struct((base ++ qd.map(f => lit(f(cw)).as("qd"))): _*)
    }
    array_min(array(entries.toIndexedSeq: _*))
  }

  /** PQ encode: `codes[s]` = nearest codeword to the subspace-s subvector.
    * Map-side only; persisting (vec_id, codes) is the compressed index —
    * `numSubspaces` small ints replacing `dim` floats per vector.
    */
  def pqEncode(
      embeddings: DataFrame,
      codebook: Array[(Int, Int, Seq[Double])],
      dim: Int): DataFrame = {
    val m = codebook.map(_._1).max + 1
    val subDim = dim / m
    val v = toDoubleArray(col("embedding"))
    embeddings.withColumn("codes",
      array((0 until m).map(s =>
        pqScored(v, codebook, s, subDim, None).getField("cw")): _*))
  }

  /** ANN top-k via PQ Asymmetric Distance Computation: approximate squared
    * distance to the query = Σ_s lut[s][code_s], where lut[s][c] =
    * ‖query_s − codeword_c‖² is a driver-computed table over the (tiny)
    * codebook — the scan never touches the query vector, only per-subspace
    * code lookups. One pass, no shuffle beyond the TakeOrdered merge.
    * Here codes are computed inline from the raw vectors (the oracle-
    * checkable form); at scale ADC scans a persisted [[pqEncode]] table and
    * raw vectors serve only an optional exact re-rank of the short list.
    * Output `adc` ascending (smaller = closer), rounded to 4.
    */
  /** Shared ADC core of [[pqTopK]], [[pqTopKRefined]] and [[ivfPqTopK]]:
    * codebook geometry (m subspaces × subDim dims), the query-side
    * (subspace, codeword) → rounded-squared-distance LUT, and the summed
    * ADC expression over a raw-vector column. ONE definition so the
    * rounding / LUT-keying contract cannot drift between the plain,
    * refined, and IVF variants.
    */
  private def pqAdcExpr(
      codebook: Array[(Int, Int, Seq[Double])],
      query: Seq[Double])(v: Column): Column = {
    val m = codebook.map(_._1).max + 1
    val subDim = query.length / m
    val lut: Map[(Int, Int), Double] = codebook.map { case (s, cw, cv) =>
      (s, cw) -> sqDistRounded(query.slice(s * subDim, (s + 1) * subDim), cv)
    }.toMap
    (0 until m)
      .map(s => pqScored(v, codebook, s, subDim, Some(cw => lut((s, cw)))).getField("qd"))
      .reduce(_ + _)
  }

  def pqTopK(
      embeddings: DataFrame,
      codebook: Array[(Int, Int, Seq[Double])],
      query: Seq[Double],
      k: Int,
      excludeVecId: Option[Long] = None): DataFrame = {
    val adc = pqAdcExpr(codebook, query)(toDoubleArray(col("embedding")))
    val base = excludeVecId.fold(embeddings)(id => embeddings.filter(col("vec_id") =!= id))
    base
      .withColumn("__adc", adc)
      .orderBy(col("__adc").asc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id"), col("label"), round(col("__adc"), 4).as("adc"))
  }

  /** ANN with exact re-rank — the production PQ composition: score
    * everything in the compressed domain ([[pqTopK]]'s ADC), keep a
    * `shortlist` of C ≫ k candidates, then re-rank only those C rows with
    * the true cosine and return the top k. PQ's quantization error is
    * confined to the shortlist boundary: anything the codes rank in the
    * top C gets an exact score, so recall@k is recall@C of the codes —
    * raise C, not codebook precision, to buy recall. At 100 TB the ADC
    * stage reads the code table (TakeOrdered, map-side) and only C raw
    * vectors are ever fetched for the re-rank.
    */
  def pqTopKRefined(
      embeddings: DataFrame,
      codebook: Array[(Int, Int, Seq[Double])],
      query: Seq[Double],
      k: Int,
      shortlist: Int,
      excludeVecId: Option[Long] = None): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val v = toDoubleArray(col("embedding"))
    val adc = pqAdcExpr(codebook, query)(v)
    val base = excludeVecId.fold(embeddings)(id => embeddings.filter(col("vec_id") =!= id))
    val q = array(query.map(lit): _*)
    base
      .withColumn("__adc", adc)
      .orderBy(col("__adc").asc, col("vec_id").asc)
      .limit(shortlist)
      .withColumn("sim", cosine(v, q))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id"), col("label"), round(col("sim"), 4).as("sim"))
  }

  /** IVF-PQ: the two quantizers composed the way a billion-vector index
    * deploys them (FAISS `IndexIVFPQ` with `by_residual=false`; the
    * residual-coded composition is [[rqTopK]]) — the
    * coarse quantizer ([[ivfAssign]]'s argmax-cosine cells) prunes the
    * scan to the `nprobe` cells nearest the query, and PQ-ADC
    * ([[pqTopK]]'s lookup table) scores only those cells' codes. Scan
    * volume at 100 TB: (nprobe/numCells) of the corpus × (codes, not
    * vectors) — both reductions multiply. Cell assignment and ADC are both
    * map-side over broadcast literals; the only shuffle is the TakeOrdered
    * merge. Output `adc` ascending, rounded to 4 — same contract as
    * [[pqTopK]], so recall deltas are directly attributable to the probe.
    */
  def ivfPqTopK(
      embeddings: DataFrame,
      cents: Array[(Long, Seq[Double])],
      codebook: Array[(Int, Int, Seq[Double])],
      query: Seq[Double],
      k: Int,
      nprobe: Int,
      excludeVecId: Option[Long] = None): DataFrame = {
    val probeIds = cents.map { case (cid, v) => (cid, cosSeq(v, query)) }
      .sortBy { case (cid, s) => (-s, cid) }.take(nprobe).map(_._1).toSet
    val probed = ivfAssign(embeddings, cents)
      .filter(col("centroid_id").isin(probeIds.toSeq: _*))
    val base = excludeVecId.fold(probed)(id => probed.filter(col("vec_id") =!= id))
    val adc = pqAdcExpr(codebook, query)(col("__v"))
    base
      .withColumn("__adc", adc)
      .orderBy(col("__adc").asc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id"), col("label"), round(col("__adc"), 4).as("adc"))
  }

  /** Residual-quantization ANN (the two-level additive quantizer — FAISS
    * `IndexIVFPQ` with `by_residual=true`, the composition [[ivfPqTopK]]'s
    * scaladoc flags as the one it does NOT implement): a coarse full-dim
    * quantizer picks the nearest centroid by L2 (L2, not cosine — the
    * residual's MAGNITUDE is what the second level must encode), and a
    * second full-dim codebook quantizes the residual v − c₁. The code per
    * vector is (coarse id, residual codeword) — reconstruction c₁ + c₂ —
    * and the query scores codes through a driver LUT over the
    * coarse×residual cross product: ‖q − (c₁+c₂)‖² = ‖(q−c₁) − c₂‖², so
    * `lut[(cid, cw)]` is exact for the pair and the scan is pure lookup
    * (the [[pqTopK]] ADC shape, one pass, TakeOrdered merge only).
    *
    * Determinism: codebooks are seeded from the lowest vec_ids (the
    * [[centroids]] convention) — but the residual seeds START AFTER the
    * coarse seeds (ids ranked numCoarse+1 …): a coarse seed is its own
    * nearest centroid, so its residual is identically zero and seeding
    * from the same ids would make every residual codeword the zero vector
    * (caught by the reconstruction-MSE probe: second level contributed
    * nothing). Codeword 0 IS the explicit zero vector — "no residual
    * correction" stays representable, so RQ reconstruction is never worse
    * than the coarse level alone. Every distance is the sequential-fold
    * square distance rounded to 6 ([[sq2]] in-plan, [[sqDistRounded]] on
    * the driver), ties to the lowest id. Output `adc` ascending, rounded
    * to 4.
    */
  def rqTopK(
      embeddings: DataFrame,
      numCoarse: Int,
      numResidual: Int,
      query: Seq[Double],
      k: Int,
      excludeVecId: Option[Long] = None): DataFrame = {
    val cents = centroids(embeddings, numCoarse)
    def nearestCoarse(v: Seq[Double]): (Long, Seq[Double]) = {
      val (cid, cv, _) = cents.map { case (c, w) => (c, w, sqDistRounded(v, w)) }
        .minBy { case (c, _, d) => (d, c) }
      (cid, cv)
    }
    // residual codebook: cw 0 = zero correction; cw 1.. = residuals of the
    // ids ranked AFTER the coarse seeds (their own residuals are nonzero)
    val rcb: Array[(Int, Seq[Double])] =
      (0, Seq.fill(query.length)(0.0)) +:
        centroids(embeddings, numCoarse + numResidual - 1).drop(numCoarse)
          .zipWithIndex.map { case ((_, v), i) =>
            val (_, cv) = nearestCoarse(v)
            (i + 1, v.zip(cv).map { case (a, b) => a - b })
          }
    val lut: Map[Long, Double] = (for {
      (cid, cv) <- cents
      (cw, rv) <- rcb
    } yield (cid * numResidual + cw) ->
      sqDistRounded(query.zip(cv).map { case (a, b) => a - b }, rv)).toMap
    val centMap = map(cents.flatMap { case (cid, cv) =>
      Seq(lit(cid), array(cv.map(lit): _*))
    }: _*)
    val lutMap = map(lut.toSeq.sortBy(_._1).flatMap { case (key, d) =>
      Seq(lit(key), lit(d))
    }: _*)
    val v = toDoubleArray(col("embedding"))
    val coarseScored = array(cents.map { case (cid, cv) =>
      struct(sq2(v, array(cv.map(lit): _*)).as("dist"), lit(cid).as("cid"))
    }.toIndexedSeq: _*)
    val base = excludeVecId.fold(embeddings)(id => embeddings.filter(col("vec_id") =!= id))
    val withRes = base
      .withColumn("__cid", array_min(coarseScored).getField("cid"))
      .withColumn("__res", zip_with(v, element_at(centMap, col("__cid")), (a, b) => a - b))
    val rScored = array(rcb.map { case (cw, rv) =>
      struct(sq2(col("__res"), array(rv.map(lit): _*)).as("dist"), lit(cw).as("cw"))
    }.toIndexedSeq: _*)
    withRes
      .withColumn("__cw", array_min(rScored).getField("cw"))
      .withColumn("__adc",
        element_at(lutMap, col("__cid") * numResidual + col("__cw")))
      .orderBy(col("__adc").asc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id"), col("label"), round(col("__adc"), 4).as("adc"))
  }

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein, SIGIR 1998)
    * — the diversity-aware top-k a retrieval/hard-negative-mining pipeline
    * runs AFTER a similarity shortlist: greedily pick k of a C-candidate
    * shortlist maximizing `λ·sim(query, d) − (1−λ)·max_{s∈picked}
    * sim(d, s)`, so near-duplicate shortlist entries can't crowd the
    * result. Multi-anchor form: every anchor id gets its own shortlist and
    * its own greedy pass.
    *
    * Shape for 100 TB: the shortlist is [[graft.functions.TopKFunctions
    * .topK]] (partial top-C per anchor BEFORE the shuffle — k rows per
    * anchor per partition on the wire, never a per-anchor window funnel
    * over the corpus), the C candidate vectors are fetched by broadcasting
    * the ≤|anchors|·C shortlist ids against the vector table (only C raw
    * vectors per anchor ever leave the scan, as in [[pqTopKRefined]]), and
    * the greedy loop runs per-anchor inside `mapGroups` over its bounded
    * C-row group — the O(k·C) sequential part touches driver-free executor
    * memory only. Anchor vectors are a bounded driver literal
    * (|anchors| rows, the [[centroids]] convention).
    *
    * Determinism contract (shared with the DuckDB oracle, which unrolls
    * the k greedy steps as CTE layers): relevance and pairwise cosines are
    * rounded to 6 decimals ([[duckRound6]]) before entering the score, the
    * score itself is re-rounded to 6, ties break on ascending vec_id, and
    * λ must be exactly representable in binary (0.5) so `λ·sq` introduces
    * no drift. Returns (anchor_id, rank, vec_id, mmr-rounded-4).
    */
  def mmrRerank(
      embeddings: DataFrame,
      anchorIds: Seq[Long],
      k: Int,
      shortlist: Int,
      lambda: Double = 0.5): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val spark = embeddings.sparkSession
    import spark.implicits._


    // Anchor vectors: bounded driver literal (|anchorIds| rows).
    val anchorVecs: Map[Long, Seq[Double]] = embeddings
      .filter(col("vec_id").isin(anchorIds: _*))
      .select(col("vec_id"), toDoubleArray(col("embedding")))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1))
      .toMap
    require(anchorVecs.size == anchorIds.size,
      s"missing anchor vectors: wanted $anchorIds, found ${anchorVecs.keySet}")
    val anchorsDf = broadcast(anchorVecs.toSeq.toDF("anchor_id", "__av"))

    // Shortlist: partial top-C per anchor (TopKAgg), then fetch the ≤
    // |anchors|·C candidate vectors by broadcasting the id list back at the
    // vector table — the scan ships C vectors per anchor, not the corpus.
    val scored = embeddings
      .crossJoin(anchorsDf) // broadcast-of-|anchors|-rows: map-side fan-out
      .filter(col("vec_id") =!= col("anchor_id"))
      .withColumn("__sq", cosine(toDoubleArray(col("embedding")), col("__av")))
    val short = scored
      .groupBy(col("anchor_id"))
      .agg(graft.functions.TopKFunctions.topK(col("__sq"), col("vec_id"), shortlist).as("tk"))
      .select(col("anchor_id"), explode(col("tk")).as("p"))
      .select(col("anchor_id"), col("p.payload").as("vec_id"), col("p.ord").as("__sq"))
    val cands = embeddings
      .join(broadcast(short), "vec_id")
      .select(col("anchor_id"), col("vec_id"), col("__sq"),
        toDoubleArray(col("embedding")).as("__v"))
      .as[(Long, Long, Double, Seq[Double])]

    val lam = lambda
    val kk = k
    val out = cands
      .groupByKey(_._1)
      .flatMapGroups { (aid: Long, it: Iterator[(Long, Long, Double, Seq[Double])]) =>
        val pool = it.map { case (_, vid, rawSq, v) =>
          (vid, duckRound6(rawSq), v)
        }.toArray
        // running max-pairwise-similarity per candidate: updated once per
        // pick, so the greedy costs O(k·C) cosines, not O(k²·C). Init −∞
        // (cosines can be negative); rank 1 carries no diversity penalty.
        val maxDiv = Array.fill(pool.length)(Double.NegativeInfinity)
        val used = Array.fill(pool.length)(false)
        val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double)]
        var nUsed = 0
        var rank = 1
        while (rank <= kk && nUsed < pool.length) {
          var bj = -1; var bestScore = Double.NegativeInfinity
          var j = 0
          while (j < pool.length) {
            if (!used(j)) {
              val div = if (rank == 1) 0.0 else maxDiv(j)
              val score = duckRound6(lam * pool(j)._2 - (1.0 - lam) * div)
              if (score > bestScore ||
                  (score == bestScore && (bj < 0 || pool(j)._1 < pool(bj)._1))) {
                bj = j; bestScore = score
              }
            }
            j += 1
          }
          // every remaining candidate can be NaN-scored (a zero-norm
          // embedding's cosine is 0/0 = NaN, which fails both > and ==):
          // such candidates are UNSELECTABLE — stop emitting ranks instead
          // of executing used(-1) and crashing the task
          if (bj < 0) {
            rank = kk + 1
          } else {
            used(bj) = true; nUsed += 1
            rows += ((aid, rank, pool(bj)._1, bestScore))
            j = 0
            while (j < pool.length) {
              if (!used(j)) {
                val d = duckRound6(cosSeq(pool(j)._3, pool(bj)._3))
                if (d > maxDiv(j)) maxDiv(j) = d
              }
              j += 1
            }
            rank += 1
          }
        }
        rows.iterator
      }
      .toDF("anchor_id", "rank", "vec_id", "mmr")
    out.withColumn("mmr", round(col("mmr"), 4))
      .orderBy(col("anchor_id"), col("rank"))
  }

  /** Scalar-quantization ANN (FAISS `IndexScalarQuantizer` QT_8bit shape):
    * each dimension is linearly quantized to an 8-bit code against
    * per-dimension corpus [min, max] bounds — 4× compression vs float32
    * with near-lossless recall (error ≤ half a step = span/510 per
    * element). Scoring is asymmetric: the query stays full-precision and
    * codes are decoded on the fly, so at 100 TB the scan reads the
    * 64-byte-per-vector code table and the whole rank is map-side into a
    * TakeOrdered merge — the per-dim bounds are a 64-row driver literal
    * (the [[centroids]] convention).
    *
    * Determinism contract with the oracle: code = `floor(255·t + 0.5)`
    * (explicit floor — never an engine `round`, whose half-up behavior
    * differs across engines on exact halves), decode =
    * `min + code·span/255` with identical operator order both sides, and
    * constant dimensions (span 0) decode to `min`.
    */
  def sq8TopK(
      embeddings: DataFrame,
      query: Seq[Double],
      k: Int,
      excludeVecId: Option[Long] = None): DataFrame = {
    val dim = query.length
    val stats = embeddings
      .select(posexplode(toDoubleArray(col("embedding"))).as(Seq("i", "x")))
      .groupBy("i").agg(min("x").as("mn"), max("x").as("mx"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    require(stats.length == dim, s"corpus dim ${stats.length} != query dim $dim")
    val mns = array(stats.map(s => lit(s._2)): _*)
    val mxs = array(stats.map(s => lit(s._3)): _*)
    val v = toDoubleArray(col("embedding"))
    val dec = transform(sequence(lit(1), lit(dim)), i => {
      val m = element_at(mns, i)
      val hi = element_at(mxs, i)
      val x = element_at(v, i)
      when(hi === m, m).otherwise(
        m + floor(lit(255.0) * (x - m) / (hi - m) + lit(0.5)) * (hi - m) / lit(255.0))
    })
    val qc = array(query.map(lit): _*)
    val base = excludeVecId.fold(embeddings)(id => embeddings.filter(col("vec_id") =!= id))
    base
      .withColumn("__sim", cosine(dec, qc))
      .orderBy(col("__sim").desc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id"), col("label"), round(col("__sim"), 4).as("sim"))
  }

  /** Per-cluster silhouette audit (the centroid-based "simplified
    * silhouette" of Hruschka et al.) over a cluster-id column — the
    * embedding-space quality check a curation pipeline runs on its OWN
    * clustering (SemDeDup cells, IVF cells, topic labels) before trusting
    * it for dedup or mixing decisions: per vector, cohesion a = cosine
    * distance to its own cluster centroid and separation b = distance to
    * the nearest OTHER centroid; silhouette s = (b − a) / max(a, b)
    * ∈ [−1, 1], negative = the vector sits closer to a foreign centroid
    * (a misfit). Rolled up per cluster: mean silhouette, misfit count,
    * mean cohesion.
    *
    * Shape at 100 TB: centroids are element-wise means computed in one
    * (cluster, dim)-keyed aggregation and collected as a bounded driver
    * literal (#clusters rows — the [[centroids]] convention); the scoring
    * pass is then entirely map-side (every vector against the broadcast
    * centroid array, the [[ivfAssign]] kernel shape) into one per-cluster
    * hash aggregation. No vector ever shuffles.
    *
    * Determinism contract: centroid components pass through [[duckRound6]]
    * (the q88 cushion — Spark's partial-aggregated avg and the oracle's
    * avg differ by ulps), per-centroid cosines are rounded to 6 before the
    * silhouette arithmetic, and per-vector silhouettes to 4 before the
    * mean (the q101 convention). Vectors equidistant-at-zero from both
    * centroids (a = b = 0) get s = 0.
    */
  def labelSilhouette(embeddings: DataFrame, clusterCol: String = "label"): DataFrame = {
    val cents: Array[(Int, Seq[Double])] = embeddings
      .select(col(clusterCol).cast("int").as("__c"),
        posexplode(toDoubleArray(col("embedding"))).as(Seq("i", "x")))
      .groupBy("__c", "i").agg(avg("x").as("m"))
      .groupBy("__c")
      .agg(sort_array(collect_list(struct(col("i"), col("m")))).as("cs"))
      .collect()
      .map(r => (r.getInt(0),
        r.getSeq[org.apache.spark.sql.Row](1).map(x => duckRound6(x.getDouble(1))).toSeq))
      .sortBy(_._1)
    require(cents.length >= 2,
      s"silhouette needs >= 2 clusters, found ${cents.length}")
    val centArr = array(cents.map { case (l, v) =>
      struct(lit(l).as("lab"), array(v.map(lit): _*).as("cv"))
    }: _*)
    val v = toDoubleArray(col("embedding"))
    embeddings
      .withColumn("__sims", transform(centArr,
        c => struct(c("lab").as("lab"), round(cosine(v, c("cv")), 6).as("sim"))))
      .withColumn("__own",
        element_at(filter(col("__sims"),
          c => c("lab") === col(clusterCol).cast("int")), 1)("sim"))
      .withColumn("__oth",
        array_max(transform(filter(col("__sims"),
          c => c("lab") =!= col(clusterCol).cast("int")), c => c("sim"))))
      .withColumn("__a", lit(1.0) - col("__own"))
      .withColumn("__b", lit(1.0) - col("__oth"))
      .withColumn("__sil",
        when(greatest(col("__a"), col("__b")) <= 0, lit(0.0))
          .otherwise((col("__own") - col("__oth")) / greatest(col("__a"), col("__b"))))
      .groupBy(col(clusterCol))
      .agg(count(lit(1)).as("n_vectors"),
        // + 0.0 canonicalizes -0.0 (the q68 round-then-hash incident):
        // silhouettes straddle zero, so a tiny negative mean rounds to -0.0
        (round(avg(round(col("__sil"), 4)), 4) + lit(0.0)).as("avg_sil"),
        sum(when(col("__sil") < 0, 1L).otherwise(0L)).as("n_misfit"),
        round(avg(col("__own")), 4).as("avg_cohesion"))
      .orderBy(col(clusterCol))
  }

  def lshBuckets(embeddings: DataFrame, numPlanes: Int, dim: Int, seed: Long = 42L): DataFrame = {
    val rng = new scala.util.Random(seed)
    val planes: Seq[Seq[Double]] = Seq.fill(numPlanes)(Seq.fill(dim)(rng.nextGaussian()))
    val planeArr = array(planes.map(p => array(p.map(lit): _*)): _*)
    embeddings
      .withColumn("__v", toDoubleArray(col("embedding")))
      .withColumn("lsh_bucket",
        aggregate(
          zip_with(planeArr, sequence(lit(0L), lit(numPlanes - 1L)),
            (p, i) => when(dot(col("__v"), p) >= 0,
              pow(lit(2.0), i.cast("double")).cast("long")).otherwise(lit(0L))),
          lit(0L), (acc, x) => acc + x))
      .drop("__v")
  }
}
