package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Similarity

/** Similarity-search inventory over `embeddings`: exact brute-force cosine
  * top-k (oracle-checked) and the scale path — IVF probe search and LSH
  * bucketing (hash/centroid-dependent → rows-only + SimilaritySpec recall
  * assertions).
  */
object SimilarityQueries {

  type Q = (SparkSession, String) => DataFrame

  /** The fixed query point: vec_id 0's embedding. */
  val QueryVecId = 0L

  /** DuckDB-bit-exact `round(DOUBLE, 6)` — moved to
    * [[Similarity.duckRound6]] (the operators layer uses it for the PQ ADC
    * lookup table); kept as an alias for existing call sites.
    */
  private[graft] def duckRound6(x: Double): Double = Similarity.duckRound6(x)

  /** q46 — exact cosine top-10 (baseline; TakeOrdered, no shuffle of
    * vectors).
    */
  def q46_cosine_topk: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val q = Similarity.queryVector(emb, QueryVecId)
    Similarity.bruteForceTopK(emb, q, k = 10, excludeVecId = Some(QueryVecId))
      .orderBy(col("sim").desc, col("vec_id").asc)
  }

  /** q249 — cross-label semantic map
    * ([[Similarity.centroidSimilarityMatrix]]): pairwise centroid cosine
    * between embedding labels — the data-card "which slices say the same
    * things" matrix beside q185's cross-snapshot drift (same sum-vector
    * algebra, across groups instead of eras).
    */
  def q249_centroid_matrix: Q = (s, dir) =>
    Similarity.centroidSimilarityMatrix(Tables.embeddings(s, dir), "label")

  /** q247 — IVF recall-vs-probe curve ([[Similarity.ivfProbeCurve]]):
    * recall@10 against the exact top-10 and the scanned corpus fraction
    * at nprobe ∈ {1, 2, 4, 8, 16} — the tuning frontier behind q48's
    * single setting. One shared assignment pass + one exact pass; each
    * curve point is a cell filter + k-row cut.
    */
  def q247_ivf_probe_curve: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val cents = Similarity.centroids(emb, 16)
    val q = Similarity.queryVector(emb, QueryVecId)
    Similarity.ivfProbeCurve(emb, cents, q, k = 10,
      nprobes = Seq(1, 2, 4, 8, 16), excludeVecId = Some(QueryVecId))
  }

  /** q188 — late-interaction (MaxSim) top-10
    * ([[Similarity.maxSimTopK]]): the query and every document read as 4
    * contiguous 16-dim sub-vectors; score = Σ over query sub-vectors of
    * the best-matching document sub-vector dot — the ColBERT retrieval
    * scorer single-vector cosine cannot express. Exact baseline: one
    * codegen'd projection (16 fused dot kernels + exact greatest/sum),
    * TakeOrdered — no shuffle of vectors; IVF/LSH blocking composes
    * upstream unchanged for the scale path.
    */
  def q188_maxsim: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val q = Similarity.queryVector(emb, QueryVecId)
    Similarity.maxSimTopK(emb, q, subVecs = 4, k = 10,
      excludeVecId = Some(QueryVecId))
      .orderBy(col("maxsim").desc, col("vec_id").asc)
  }

  /** q194 — Local Outlier Factor top-20 ([[Similarity.lofScores]]):
    * density-relative anomaly scores over the q103 LSH-kNN graph
    * (d = 1 − rounded cosine) — reach-distance → local reachability
    * density → LOF, every post-join relation |V|·k-sized, Σ folds in
    * rank order. The anomaly family's density member next to q145
    * (z-score) and q174 (MAD).
    */
  def q194_lof: Q = (s, dir) => {
    Similarity.lofScores(Tables.embeddings(s, dir),
        numPlanes = 8, dim = 64, k = 3)
      .orderBy(col("__lof_raw").desc, col("anchor").asc)
      .limit(20)
      .select(col("anchor"), col("n_nn"),
        (round(col("__lrd_raw"), 6) + lit(0.0)).as("lrd"),
        (round(col("__lof_raw"), 6) + lit(0.0)).as("lof"))
      .orderBy(col("lof").desc, col("anchor").asc)
  }

  /** q196 — blocked DBSCAN ([[Similarity.dbscan]]): density clustering
    * over the q103 LSH blocks — per point its role (core ≥ 3 ε-neighbors
    * at rounded cosine ≥ 0.25 / border / noise), cluster id (connected
    * components of the core–core ε-graph, borders to the smallest
    * neighboring cluster), and ε-degree. The clustering member of the
    * density family (q194 LOF scores anomalies against the same
    * neighborhood structure); no cluster count chosen up front, unlike
    * q144's k-means.
    */
  def q196_dbscan: Q = (s, dir) => {
    Similarity.dbscan(Tables.embeddings(s, dir),
        numPlanes = 8, dim = 64, minSim = 0.25, minPts = 3)
      .orderBy("vec_id")
  }

  /** q208 — retrieval-quality audit: nDCG@10 and MRR of the q46 exact
    * cosine top-k, with relevance = shares the query vector's label —
    * the RANK-WEIGHTED audit completing the recall family (q111/q120/q182
    * count hits; position matters to a consumer of the short-list and
    * recall cannot see it). Binary-gain DCG with the ln(rank+1) discount
    * (declared variant — both engines' ln over exact integer operands),
    * ideal DCG over min(k, corpus relevant count) positions, MRR = 1/rank
    * of the first relevant hit (0 when the top-k has none). Folds run in
    * rank order over the collected ≤k-element list (the q194 convention);
    * the corpus relevant count joins as a broadcast scalar.
    */
  def q208_ndcg_audit: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val q = Similarity.queryVector(emb, QueryVecId)
    val qLabel = emb.filter(col("vec_id") === QueryVecId)
      .select("label").head().getInt(0) // bounded driver scalar (codebook convention)
    val ranked = graft.operators.Stage.snapshotDF(
      Similarity.bruteForceTopK(emb, q, k = 10, excludeVecId = Some(QueryVecId)))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("sim").desc, col("vec_id").asc)).cast("long"))
      .withColumn("rel", when(col("label") === qLabel, 1L).otherwise(0L))
    val nRel = emb.filter(col("vec_id") =!= QueryVecId && col("label") === qLabel)
      .agg(count(lit(1)).as("n_rel"))
    ranked
      .agg(sort_array(collect_list(struct(col("rank").as("r"),
        col("rel").as("g")))).as("__l"), sum("rel").as("n_rel_at_k"))
      .crossJoin(broadcast(nRel))
      .select(lit(10L).as("k"), lit(qLabel.toLong).as("q_label"),
        col("n_rel"), col("n_rel_at_k"),
        expr("aggregate(__l, 0D, (acc, e) -> acc + e.g / ln(e.r + 1))").as("__dcg"),
        expr("aggregate(__l, 0D, (acc, e) -> acc + if(e.r <= n_rel, 1D / ln(e.r + 1), 0D))")
          .as("__idcg"),
        expr("aggregate(__l, 0D, (acc, e) -> " +
          "if(acc = 0D and e.g = 1L, 1D / e.r, acc))").as("__mrr"))
      .select(col("k"), col("q_label"), col("n_rel"), col("n_rel_at_k"),
        (round(col("__dcg"), 6) + lit(0.0)).as("dcg"),
        (round(col("__idcg"), 6) + lit(0.0)).as("idcg"),
        when(col("__idcg") > 0, round(col("__dcg") / col("__idcg"), 6) + lit(0.0))
          .as("ndcg"),
        (round(col("__mrr"), 6) + lit(0.0)).as("mrr"))
  }

  /** q182 — Matryoshka truncation recall audit
    * ([[Similarity.truncatedTopK]] vs [[Similarity.bruteForceTopK]]):
    * recall@10 of the first-16-of-64-dims cosine top-k against the
    * full-dim exact answer, as ONE relational row — the number that
    * prices a 4× scan-cost cut (prefix-dim layout) before a pipeline
    * adopts it, the q111/q120 audit convention on the dimension axis.
    * Both sides are exact deterministic computations → full oracle.
    */
  def q182_mrl_recall_audit: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val q = Similarity.queryVector(emb, QueryVecId)
    val exact = Similarity.bruteForceTopK(emb, q, 10, Some(QueryVecId)).select("vec_id")
    val trunc = Similarity.truncatedTopK(emb, q, 10, dims = 16, Some(QueryVecId))
      .select(col("vec_id").as("a_id"))
    exact.join(trunc, col("vec_id") === col("a_id"), "full_outer")
      .agg(count("vec_id").as("n_exact"), count("a_id").as("n_trunc"),
        sum(when(col("vec_id").isNotNull && col("a_id").isNotNull, 1L)
          .otherwise(0L)).as("n_common"))
      .select(lit(16L).as("dims"), col("n_exact"), col("n_trunc"), col("n_common"),
        round(col("n_common") / col("n_exact"), 4).as("recall_at_k"))
  }

  /** q185 — cross-snapshot embedding drift
    * ([[Similarity.embeddingDrift]]): per-label centroid cosine between
    * two releases of the embeddings table — release A drops every 97th
    * vector, release B drops every 89th and re-scales every 11th by 1.25
    * (in double, so both engines run identical arithmetic; the scaling
    * shifts centroid DIRECTION only through the scaled subset, which is
    * the point — uniform re-scaling cancels in cosine). The
    * embedding-space twin of q184's token drift.
    */
  def q185_embedding_drift: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val a = emb.filter(col("vec_id") % 97 =!= 0)
    val b = emb.filter(col("vec_id") % 89 =!= 0)
      .withColumn("embedding",
        when(col("vec_id") % 11 === 0,
          transform(col("embedding"), x => x.cast("double") * lit(1.25)))
          .otherwise(Similarity.toDoubleArray(col("embedding"))))
    Similarity.embeddingDrift(a, b, "label").orderBy("label")
  }

  /** q47 — cosine range search: all vectors within sim ≥ 0.3 of the query
    * (oracle-checked; the set-returning twin of top-k).
    */
  def q47_cosine_range: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val q = Similarity.queryVector(emb, QueryVecId)
    val qc = array(q.map(lit): _*)
    emb.filter(col("vec_id") =!= QueryVecId)
      .withColumn("sim", Similarity.cosine(Similarity.toDoubleArray(col("embedding")), qc))
      .filter(col("sim") >= 0.3)
      .select(col("vec_id"), col("label"), round(col("sim"), 4).as("sim"))
      .orderBy(col("vec_id"))
  }

  /** q48 — IVF approximate top-k (16 centroids, nprobe 4). Deterministic
    * end-to-end (fixed lowest-16 seed centroids, SQL-expressible cosine +
    * argmax assignment) → full DuckDB oracle; SimilaritySpec additionally
    * asserts recall vs q46's exact answer.
    */
  def q48_ivf_topk: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val q = Similarity.queryVector(emb, QueryVecId)
    val cents = Similarity.centroids(emb, 16)
    Similarity.ivfTopK(emb, cents, q, k = 10, nprobe = 4, excludeVecId = Some(QueryVecId))
      .orderBy(col("sim").desc, col("vec_id").asc)
  }

  /** q88 — IVF top-k after ONE k-means refinement pass over the seed
    * centroids ([[Similarity.refineCentroids]]): the index-build step that
    * turns the arbitrary seed partition into data-shaped cells (better probe
    * recall at the same nprobe). Refined centroid components are rounded to
    * 6 decimals before use on BOTH engines — the element-wise means are
    * order-of-summation-sensitive in their last ulps (parallel partial
    * aggregation), and rounding far above the ulp noise floor (1e-6 ≫ 1e-12)
    * makes the whole pipeline bit-deterministic and oracle-checkable.
    */
  def q88_ivf_refined: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val q = Similarity.queryVector(emb, QueryVecId)
    val refined = Similarity.refineCentroids(emb, Similarity.centroids(emb, 16))
      .map { case (cid, v) => (cid, v.map(duckRound6)) }
    Similarity.ivfTopK(emb, refined, q, k = 10, nprobe = 4, excludeVecId = Some(QueryVecId))
      .orderBy(col("sim").desc, col("vec_id").asc)
  }

  /** q144 — k-means converged census ([[Similarity.lloyd]]): 3 full Lloyd
    * rounds over the 16 fixed-id seeds (q88 runs exactly one), then the
    * per-cell census under the final centroids — size and mean
    * within-cell cosine, the clustering-quality summary a curation
    * pipeline reports next to q125's silhouette. Each round is one
    * broadcast map-side assignment + one (cell, dim) mean; the oracle
    * unrolls the 3 rounds as CTE layers under the 6-decimal per-round
    * centroid rounding (the q88 refine conventions, iterated).
    */
  def q144_kmeans: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val spark = s
    import spark.implicits._
    val cents = Similarity.lloyd(emb, Similarity.centroids(emb, 16), rounds = 3)
    val centDf = cents.toSeq.toDF("cid", "cv")
    Similarity.ivfAssign(emb, cents)
      .join(broadcast(centDf), col("centroid_id") === col("cid"))
      // per-row sims quantized to exact 1e-6 integers (explicit floor-half-up,
      // the q58 cast convention) so the cell mean is an exact integer sum —
      // avg(round(sim, 6)) puts the HASH on a fresh summation-order boundary
      // per cell and hit one at sf0.001 (0.3285795)
      .withColumn("s6",
        floor(Similarity.cosine(col("__v"), col("cv")) * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy("centroid_id")
      .agg(count(lit(1)).as("n_vectors"),
           round(sum("s6").cast("double") / count(lit(1)) / lit(1e6), 6).as("avg_sim"))
      .orderBy("centroid_id")
  }

  /** The q144 oracle: c0 seeds, then `rounds` unrolled
    * assign→per-dim-mean→carry layers (empty cells keep the previous,
    * re-rounded centroid — exactly [[Similarity.refineCentroids]]'s
    * getOrElse), then the census under the final layer.
    */
  private def kmeansOracle(rounds: Int): String = {
    val layers = (1 to rounds).map { k =>
      s"""
      a$k AS (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
        FROM e, c${k - 1} c),
      comp$k AS (
        SELECT cid, i, avg(v[i::INT]) AS m
        FROM a$k, range(1, 65) t(i) WHERE rn = 1 GROUP BY 1, 2),
      means$k AS (SELECT cid, list(round(m, 6) ORDER BY i) AS mv
                  FROM comp$k GROUP BY 1),
      c$k AS (
        SELECT c.cid,
               coalesce(means$k.mv, list_transform(c.cv, x -> round(x, 6))) AS cv
        FROM c${k - 1} c LEFT JOIN means$k ON c.cid = means$k.cid)"""
    }.mkString(",")
    s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      c0 AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
      $layers,
      af AS (
        SELECT e.vec_id, e.v, c.cid, c.cv,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
        FROM e, c$rounds c)
      SELECT cid AS centroid_id, count(1) AS n_vectors,
             round(CAST(sum(CAST(floor(list_cosine_similarity(v, cv) * 1000000 + 0.5)
                                 AS BIGINT)) AS DOUBLE) / count(1) / 1000000, 6) AS avg_sim
      FROM af WHERE rn = 1 GROUP BY 1 ORDER BY 1"""
  }

  /** q49 — LSH bucket histogram from HASH-DERIVED integer hyperplanes
    * ([[Similarity.lshBucketsHashed]]): the candidate-generation
    * structure for ANN and blocked near-dup, fully oracle-checked.
    * Each plane coefficient derives from the finalized polyhash
    * (pseudo-random, decorrelated — unlike q83's structured linear grid)
    * and every sign is tested in exact Long arithmetic over the
    * 1e-6-quantized embedding.
    */
  def q49_lsh_buckets: Q = (s, dir) => {
    Similarity.lshBucketsHashed(Tables.embeddings(s, dir), numPlanes = 8, dim = 64)
      .groupBy("lsh_bucket")
      .agg(count(lit(1)).as("n"))
      .orderBy("lsh_bucket")
  }

  /** q83 — LSH bucket histogram with DETERMINISTIC integer hyperplanes:
    * the same candidate-generation structure as q49 on a structured
    * linear grid of planes, oracle-checked the same way.
    */
  def q83_lsh_det: Q = (s, dir) => {
    Similarity.lshBucketsDeterministic(Tables.embeddings(s, dir), numPlanes = 8, dim = 64)
      .groupBy("lsh_bucket")
      .agg(count(lit(1)).as("n"))
      .orderBy("lsh_bucket")
  }

  /** q103 — blocked k-NN join: every vector's top-3 neighbors within its
    * deterministic LSH bucket ([[Similarity.knnJoinLsh]]) — the kNN-graph /
    * hard-negative-mining primitive. Fully oracle-checkable: bucket,
    * rounded cosine, and rank reproduce in SQL.
    */
  def q103_knn_join: Q = (s, dir) => {
    Similarity.knnJoinLsh(Tables.embeddings(s, dir), numPlanes = 8, dim = 64, k = 3)
      .orderBy("anchor", "rank")
  }

  /** q109 — product-quantization ADC top-k ([[Similarity.pqTopK]]): the
    * compressed-domain ANN path (PQ codes + asymmetric-distance lookup
    * table) that complements q46's exact scan and q48/q88's IVF probes —
    * at 100 TB the PQ code table is ~64× smaller than the raw vectors and
    * is what a query actually scans. Deterministic end-to-end (lowest-16
    * seed codebook, 6-decimal-rounded subspace distances, ties to the
    * lowest codeword) → full DuckDB oracle; SimilaritySpec asserts code
    * ranges, determinism, and ADC≈exact distance agreement.
    */
  def q109_pq_adc: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val q = Similarity.queryVector(emb, QueryVecId)
    val cb = Similarity.pqCodebook(emb, numSubspaces = 4, codebookSize = 16, dim = 64)
    Similarity.pqTopK(emb, cb, q, k = 10, excludeVecId = Some(QueryVecId))
      .orderBy(col("adc").asc, col("vec_id").asc)
  }

  /** q112 — PQ shortlist → exact re-rank ([[Similarity.pqTopKRefined]]):
    * the production ANN composition. ADC ranks the whole corpus in the
    * compressed domain, the top-50 shortlist gets true cosine scores, and
    * the exact top-10 of that shortlist is returned — quantization error
    * only costs recall at the shortlist boundary. Output is `sim` (exact
    * cosine), directly comparable to q46's; SimilaritySpec asserts
    * recall(refined) ≥ recall(raw ADC) and equality with brute force at
    * shortlist = corpus.
    */
  def q112_pq_refined: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val q = Similarity.queryVector(emb, QueryVecId)
    val cb = Similarity.pqCodebook(emb, numSubspaces = 4, codebookSize = 16, dim = 64)
    Similarity.pqTopKRefined(emb, cb, q, k = 10, shortlist = 50,
        excludeVecId = Some(QueryVecId))
      .orderBy(col("sim").desc, col("vec_id").asc)
  }

  /** q113 — IVF-PQ top-k ([[Similarity.ivfPqTopK]]): coarse cells prune
    * the scan (q48's probe), PQ-ADC scores the survivors in the compressed
    * domain (q109's lookup table) — the two reductions a billion-vector
    * index multiplies together. Fully deterministic → full DuckDB oracle;
    * SimilaritySpec pins nprobe=all ≡ plain PQ-ADC.
    */
  def q113_ivf_pq: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val q = Similarity.queryVector(emb, QueryVecId)
    val cents = Similarity.centroids(emb, 16)
    val cb = Similarity.pqCodebook(emb, numSubspaces = 4, codebookSize = 16, dim = 64)
    Similarity.ivfPqTopK(emb, cents, cb, q, k = 10, nprobe = 4,
        excludeVecId = Some(QueryVecId))
      .orderBy(col("adc").asc, col("vec_id").asc)
  }

  /** q114 — MMR diversified re-rank ([[Similarity.mmrRerank]]): per-anchor
    * top-C shortlist (partial TopKAgg, no per-anchor window funnel) →
    * greedy λ-tradeoff pick of k diverse results inside a bounded
    * `mapGroups` group. The oracle unrolls the k greedy steps as CTE
    * layers (argmax per layer via a window over the λ·relevance −
    * (1−λ)·max-pairwise-cosine score), so the sequential selection is
    * hash-checked cross-engine, not just spec-asserted. λ = 0.5 exactly
    * (representable in binary — no drift in λ·sq).
    */
  def q114_mmr_rerank: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.mmrRerank(emb, anchorIds = Seq(0L, 1L, 2L, 3L), k = 4, shortlist = 8)
  }

  /** q118 — scalar-quantization (SQ8) top-k ([[Similarity.sq8TopK]]): the
    * 4×-compression member of the quantizer family (flat q46 / IVF q48 /
    * PQ q109 / IVF-PQ q113) — per-dim 8-bit linear codes against corpus
    * [min,max], asymmetric full-precision-query scoring, decode map-side
    * into TakeOrdered. Fully deterministic → full oracle.
    */
  def q118_sq8_topk: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val q = Similarity.queryVector(emb, QueryVecId)
    Similarity.sq8TopK(emb, q, k = 10, excludeVecId = Some(QueryVecId))
      .orderBy(col("sim").desc, col("vec_id").asc)
  }

  /** q120 — PQ recall audit ([[Similarity.bruteForceTopK]] ×
    * [[Similarity.pqTopK]]): the compressed-domain index's recall@10
    * against exact ground truth as ONE relational row — q111's
    * audit-as-a-query pattern applied to the quantizer path, so the
    * codebook-size/subspace tuning number is runnable in-engine instead
    * of spec-only. Both top-k sets are k-row relations; the audit is a
    * full-outer join + one aggregate.
    */
  def q120_pq_recall_audit: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val q = Similarity.queryVector(emb, QueryVecId)
    val cb = Similarity.pqCodebook(emb, numSubspaces = 4, codebookSize = 16, dim = 64)
    val exact = Similarity.bruteForceTopK(emb, q, 10, Some(QueryVecId)).select("vec_id")
    val approx = Similarity.pqTopK(emb, cb, q, 10, Some(QueryVecId))
      .select(col("vec_id").as("a_id"))
    exact.join(approx, col("vec_id") === col("a_id"), "full_outer")
      .agg(count("vec_id").as("n_exact"), count("a_id").as("n_approx"),
        sum(when(col("vec_id").isNotNull && col("a_id").isNotNull, 1L)
          .otherwise(0L)).as("n_common"))
      .select(col("n_exact"), col("n_approx"), col("n_common"),
        round(col("n_common") / col("n_exact"), 4).as("recall_at_k"))
  }

  /** q127 — residual-quantization top-k ([[Similarity.rqTopK]]): the
    * two-level additive quantizer (coarse L2 cell + full-dim residual
    * codebook — FAISS's `by_residual=true` composition, the one q113's
    * IVF-PQ deliberately does not cover). Codes score through a
    * coarse×residual driver LUT; fully deterministic → full oracle.
    */
  def q127_rq_topk: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val q = Similarity.queryVector(emb, QueryVecId)
    Similarity.rqTopK(emb, numCoarse = 16, numResidual = 16, q, k = 10,
        excludeVecId = Some(QueryVecId))
      .orderBy(col("adc").asc, col("vec_id").asc)
  }

  /** q125 — per-label silhouette audit ([[Similarity.labelSilhouette]]):
    * centroid-based simplified silhouette over the `label` clustering —
    * cohesion vs nearest-foreign-centroid separation, misfit counts per
    * label. The clustering-quality check run before trusting cells for
    * SemDeDup/mixing; scoring is map-side against broadcast centroids.
    */
  def q125_silhouette: Q = (s, dir) =>
    Similarity.labelSilhouette(Tables.embeddings(s, dir))

  /** q158 — random-projection top-k ([[Similarity.rpProject]]): exact
    * cosine top-10 in the 8-dim Johnson–Lindenstrauss projection of the
    * 64-dim corpus. The ±1 matrix derives from polyHash (the no-RNG
    * convention) so the oracle regenerates it in SQL; the per-coordinate
    * sum is a left-associated fold on both engines (bit-identity
    * contract). The 100 TB shape: project once at ingest, store the
    * 8-dim column, and every query scans 1/8th the bytes; recall vs the
    * full-width exact top-k is asserted in SimilaritySpec (q48's audit
    * convention).
    */
  def q158_rp_topk: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val signs = Similarity.rpSigns(64, 8)
    val qp = Similarity.rpProjectLocal(Similarity.queryVector(emb, QueryVecId), signs)
    emb.filter(col("vec_id") =!= QueryVecId)
      .withColumn("sim", Similarity.cosine(
        Similarity.rpProject(col("embedding"), signs), array(qp.map(lit): _*)))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(10)
      .select(col("vec_id"), col("label"), round(col("sim"), 4).as("sim"))
  }

  /** q161 — one-pass covariance pairs ([[Similarity.GramAggregator]] →
    * [[Similarity.covariancePairs]]): the top-10 most-covarying off-
    * diagonal dimension pairs of the embedding corpus, from ONE scan that
    * never shuffles a vector — each executor folds its slice into a
    * ~17 KB integer Gram buffer, one merge, 2016 covariances unpacked
    * against a driver pair table. Integer-quantized sums (q145
    * convention) make the result independent of row order and merge
    * tree — no per-layer rounding contract needed. The PCA/whitening
    * front end at 100 TB.
    */
  def q161_covariance: Q = (s, dir) => {
    Similarity.covariancePairs(Tables.embeddings(s, dir), 64)
      .orderBy(abs(col("cov")).desc, col("i").asc, col("j").asc)
      .limit(10)
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        round(col("cov"), 6).as("cov"))
  }

  /** q162 — PCA projection ([[Similarity.pcaProject]]): the corpus
    * projected onto its top principal component — 8 power-iteration steps
    * over the covariance matrix derived from q161's one-pass integer Gram
    * sums, each step's coordinates re-rounded to 6 decimals (the
    * per-layer rounding contract that makes an iterative numeric
    * algorithm oracle-checkable), then a map-side literal-vector dot.
    * Top-10 rows by |projection|. Corpus cost: ONE scan for the Gram
    * sums + ONE map-side projection pass; the 64×64 eigen-iteration is
    * driver arithmetic on a KB of state.
    */
  def q162_pca_topk: Q = (s, dir) => {
    Similarity.pcaProject(Tables.embeddings(s, dir), 64, iters = 8)
      .orderBy(abs(col("proj")).desc, col("vec_id").asc)
      .limit(10)
      .select(col("vec_id"), col("label"), round(col("proj"), 4).as("proj"))
  }

  val all: Map[String, Q] = Map(
    "q158_rp_topk" -> q158_rp_topk,
    "q161_covariance" -> q161_covariance,
    "q162_pca_topk" -> q162_pca_topk,
    "q127_rq_topk" -> q127_rq_topk,
    "q125_silhouette" -> q125_silhouette,
    "q120_pq_recall_audit" -> q120_pq_recall_audit,
    "q118_sq8_topk" -> q118_sq8_topk,
    "q114_mmr_rerank" -> q114_mmr_rerank,
    "q113_ivf_pq" -> q113_ivf_pq,
    "q112_pq_refined" -> q112_pq_refined,
    "q109_pq_adc" -> q109_pq_adc,
    "q103_knn_join" -> q103_knn_join,
    "q194_lof" -> q194_lof,
    "q196_dbscan" -> q196_dbscan,
    "q208_ndcg_audit" -> q208_ndcg_audit,
    "q46_cosine_topk" -> q46_cosine_topk,
    "q188_maxsim" -> q188_maxsim,
    "q182_mrl_recall_audit" -> q182_mrl_recall_audit,
    "q185_embedding_drift" -> q185_embedding_drift,
    "q83_lsh_det" -> q83_lsh_det,
    "q47_cosine_range" -> q47_cosine_range,
    "q48_ivf_topk" -> q48_ivf_topk,
    "q247_ivf_probe_curve" -> q247_ivf_probe_curve,
    "q249_centroid_matrix" -> q249_centroid_matrix,
    "q88_ivf_refined" -> q88_ivf_refined,
    "q144_kmeans" -> q144_kmeans,
    "q49_lsh_buckets" -> q49_lsh_buckets)

  /** Shared WITH-prefix of every flat PQ-ADC oracle (q109/q112/q120): ONE
    * definition of the PQ contract — codebook seed = 16 lowest vec_ids,
    * 6-decimal dist rounding, tie to the lowest codeword — so the recall
    * audit (q120) can never drift from the index it audits. q113 (IVF-PQ)
    * interleaves probe/assign CTEs and keeps its own structurally
    * different block.
    */
  private val PqAdcCtes: String = s"""
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cw, v AS cv
             FROM e ORDER BY vec_id LIMIT 16),
      sub AS (SELECT s FROM range(0, 4) t(s)),
      q AS (SELECT v AS qv FROM e WHERE vec_id = $QueryVecId),
      d AS (SELECT e.vec_id, sub.s, cb.cw,
              round(list_sum(list_transform(range(1, 17), i ->
                (e.v[(sub.s*16 + i)::INT] - cb.cv[(sub.s*16 + i)::INT])
                * (e.v[(sub.s*16 + i)::INT] - cb.cv[(sub.s*16 + i)::INT]))), 6) AS dist
            FROM e, sub, cb),
      code AS (SELECT vec_id, s, cw FROM (
                 SELECT vec_id, s, cw,
                   row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cw) AS rn
                 FROM d) WHERE rn = 1),
      lut AS (SELECT sub.s, cb.cw,
                round(list_sum(list_transform(range(1, 17), i ->
                  (q.qv[(sub.s*16 + i)::INT] - cb.cv[(sub.s*16 + i)::INT])
                  * (q.qv[(sub.s*16 + i)::INT] - cb.cv[(sub.s*16 + i)::INT]))), 6) AS qd
              FROM sub, cb, q),
      adc AS (SELECT c.vec_id, list_sum(list(l.qd ORDER BY c.s)) AS adc
              FROM code c JOIN lut l ON l.s = c.s AND l.cw = c.cw
              GROUP BY 1)"""

  /** The q247 oracle: shared assignment/exact/probe-rank CTEs, one
    * UNION ALL leg per probe setting (built by loop so the legs cannot
    * drift), each leg a cell filter + k-cut + flat intersection.
    */
  private def ivfProbeCurveOracle(k: Int, nprobes: Seq[Int]): String = {
    val legs = nprobes.map { np =>
      s"""
      SELECT $np AS nprobe,
             (SELECT CAST(count(1) AS BIGINT) FROM assign a
              JOIN pr ON a.cid = pr.cid WHERE pr.prank <= $np) AS n_scanned,
             (SELECT CAST(count(1) AS BIGINT) FROM (
                SELECT a.vec_id FROM assign a
                JOIN pr ON a.cid = pr.cid CROSS JOIN q
                WHERE pr.prank <= $np AND a.vec_id <> $QueryVecId
                ORDER BY list_cosine_similarity(a.v, q.qv) DESC, a.vec_id
                LIMIT $k) t JOIN flat USING (vec_id)) AS hits"""
    }.mkString(" UNION ALL ")
    s"""
      WITH e AS MATERIALIZED (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      c AS MATERIALIZED (SELECT vec_id AS cid, v AS cv FROM e
        ORDER BY vec_id LIMIT 16),
      q AS (SELECT v AS qv FROM e WHERE vec_id = $QueryVecId),
      pr AS MATERIALIZED (SELECT cid, row_number() OVER (
              ORDER BY list_cosine_similarity(cv, qv) DESC, cid) AS prank
            FROM c CROSS JOIN q),
      assign AS MATERIALIZED (SELECT vec_id, v, cid FROM (
          SELECT e.vec_id, e.v, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
          FROM e, c) WHERE rn = 1),
      flat AS MATERIALIZED (
        SELECT vec_id FROM e CROSS JOIN q WHERE vec_id <> $QueryVecId
        ORDER BY list_cosine_similarity(v, qv) DESC, vec_id LIMIT $k),
      nv AS (SELECT CAST(count(1) AS BIGINT) AS nv FROM e),
      curve AS ($legs)
      SELECT nprobe, n_scanned,
             round(CAST(n_scanned AS DOUBLE) / nv, 6) + CAST(0 AS DOUBLE)
               AS scan_frac,
             hits,
             round(CAST(hits AS DOUBLE) / $k, 6) + CAST(0 AS DOUBLE) AS recall
      FROM curve CROSS JOIN nv ORDER BY nprobe"""
  }

  val oracle: Map[String, String] = Map(
    "q247_ivf_probe_curve" -> ivfProbeCurveOracle(10, Seq(1, 2, 4, 8, 16)),
    "q144_kmeans" -> kmeansOracle(3),
    "q127_rq_topk" -> s"""
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT v AS qv FROM e WHERE vec_id = $QueryVecId),
      cseed AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
      ca AS (SELECT e.vec_id, e.label, e.v, c.cid, c.cv,
                    row_number() OVER (PARTITION BY e.vec_id ORDER BY
                      round(list_sum(list_transform(range(1, 65), i ->
                        (e.v[i::INT] - c.cv[i::INT]) * (e.v[i::INT] - c.cv[i::INT]))), 6),
                      c.cid) AS rn
             FROM e, cseed c),
      a AS (SELECT vec_id, label, v, cid, cv FROM ca WHERE rn = 1),
      rs AS (SELECT row_number() OVER (ORDER BY vec_id) AS cw,
                    list_transform(range(1, 65), i -> v[i::INT] - cv[i::INT]) AS rv
             FROM a WHERE vec_id IN
               (SELECT vec_id FROM e ORDER BY vec_id LIMIT 15 OFFSET 16)),
      rseed AS (SELECT 0 AS cw, list_transform(range(1, 65), i -> 0.0) AS rv
                UNION ALL SELECT cw, rv FROM rs),
      r AS (SELECT vec_id, label, cid, cv,
                   list_transform(range(1, 65), i -> v[i::INT] - cv[i::INT]) AS res
            FROM a),
      rc AS (SELECT r.vec_id, r.label, r.cid, r.cv, s.cw, s.rv,
                    row_number() OVER (PARTITION BY r.vec_id ORDER BY
                      round(list_sum(list_transform(range(1, 65), i ->
                        (r.res[i::INT] - s.rv[i::INT]) * (r.res[i::INT] - s.rv[i::INT]))), 6),
                      s.cw) AS rn
             FROM r, rseed s),
      p AS (SELECT vec_id, label, cv, rv FROM rc WHERE rn = 1),
      adc AS (SELECT p.vec_id, p.label,
                     round(list_sum(list_transform(range(1, 65), i ->
                       ((qv[i::INT] - p.cv[i::INT]) - p.rv[i::INT])
                       * ((qv[i::INT] - p.cv[i::INT]) - p.rv[i::INT]))), 6) AS adc6
              FROM p, q WHERE p.vec_id <> $QueryVecId)
      SELECT vec_id, label, round(adc6, 4) AS adc
      FROM adc ORDER BY adc6, vec_id LIMIT 10""",
    "q125_silhouette" -> """
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      cent AS (SELECT label, t.i AS i, round(avg(v[t.i::INT]), 6) AS m
               FROM e, range(1, 65) t(i) GROUP BY 1, 2),
      cv AS (SELECT label, list(m ORDER BY i) AS cv FROM cent GROUP BY 1),
      sims AS (SELECT e.vec_id, e.label, c.label AS clab,
                      round(list_cosine_similarity(e.v, c.cv), 6) AS sim
               FROM e CROSS JOIN cv c),
      per AS (SELECT vec_id, label,
                     max(CASE WHEN clab = label THEN sim END) AS own,
                     max(CASE WHEN clab <> label THEN sim END) AS oth
              FROM sims GROUP BY 1, 2),
      s AS (SELECT vec_id, label, own,
                   CASE WHEN greatest(1 - own, 1 - oth) <= 0 THEN 0.0
                        ELSE (own - oth) / greatest(1 - own, 1 - oth) END AS sil
            FROM per)
      SELECT label, count(1) AS n_vectors,
             round(avg(round(sil, 4)), 4) + 0.0 AS avg_sil,
             CAST(sum(CASE WHEN sil < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_misfit,
             round(avg(own), 4) AS avg_cohesion
      FROM s GROUP BY 1 ORDER BY 1""",
    "q120_pq_recall_audit" -> s"""$PqAdcCtes,
      ap AS (SELECT vec_id FROM adc WHERE vec_id <> $QueryVecId
             ORDER BY adc, vec_id LIMIT 10),
      ex AS (SELECT e.vec_id FROM e, q WHERE e.vec_id <> $QueryVecId
             ORDER BY list_cosine_similarity(e.v, qv) DESC, e.vec_id LIMIT 10),
      j AS (SELECT CAST(count(x.vec_id) AS BIGINT) AS n_exact,
                   CAST(count(y.vec_id) AS BIGINT) AS n_approx,
                   CAST(sum(CASE WHEN x.vec_id IS NOT NULL
                                  AND y.vec_id IS NOT NULL
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_common
            FROM ex x FULL OUTER JOIN ap y ON x.vec_id = y.vec_id)
      SELECT n_exact, n_approx, n_common,
             round(n_common / n_exact, 4) AS recall_at_k
      FROM j""",
    "q118_sq8_topk" -> s"""
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      st AS (SELECT t.i AS i, min(e.v[t.i::INT]) AS mn, max(e.v[t.i::INT]) AS mx
             FROM e, range(1, 65) t(i) GROUP BY 1),
      b AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM st),
      q AS (SELECT v AS qv FROM e WHERE vec_id = $QueryVecId),
      dec AS (SELECT e.vec_id, e.label,
                list_transform(range(1, 65), i -> CASE
                  WHEN mxs[i::INT] = mns[i::INT] THEN mns[i::INT]
                  ELSE mns[i::INT]
                       + floor(255.0 * (v[i::INT] - mns[i::INT])
                               / (mxs[i::INT] - mns[i::INT]) + 0.5)
                         * (mxs[i::INT] - mns[i::INT]) / 255.0
                  END) AS dv
              FROM e, b
              WHERE e.vec_id <> $QueryVecId)
      SELECT vec_id, label, round(list_cosine_similarity(dv, qv), 4) AS sim
      FROM dec, q
      ORDER BY list_cosine_similarity(dv, qv) DESC, vec_id LIMIT 10""",
    "q114_mmr_rerank" -> """
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      a AS (SELECT vec_id AS aid, v AS av FROM e WHERE vec_id IN (0, 1, 2, 3)),
      sc AS (SELECT a.aid, e.vec_id, e.v,
                    round(list_cosine_similarity(e.v, a.av), 6) AS sq,
                    row_number() OVER (PARTITION BY a.aid
                      ORDER BY list_cosine_similarity(e.v, a.av) DESC, e.vec_id) AS rn
             FROM e JOIN a ON e.vec_id <> a.aid),
      sl AS (SELECT aid, vec_id, v, sq FROM sc WHERE rn <= 8),
      s1 AS (SELECT aid, vec_id, v, sq, round(0.5 * sq, 6) AS score FROM (
               SELECT *, row_number() OVER (PARTITION BY aid
                 ORDER BY round(0.5 * sq, 6) DESC, vec_id) AS r FROM sl) WHERE r = 1),
      sel1 AS (SELECT aid, vec_id, v FROM s1),
      d2 AS (SELECT c.aid, c.vec_id, c.sq,
                    max(round(list_cosine_similarity(c.v, s.v), 6)) AS dv,
                    max(CASE WHEN c.vec_id = s.vec_id THEN 1 ELSE 0 END) AS is_sel
             FROM sl c JOIN sel1 s ON c.aid = s.aid GROUP BY 1, 2, 3),
      s2 AS (SELECT p.aid, p.vec_id, sl.v, p.score FROM (
               SELECT aid, vec_id, round(0.5 * sq - 0.5 * dv, 6) AS score,
                      row_number() OVER (PARTITION BY aid
                        ORDER BY round(0.5 * sq - 0.5 * dv, 6) DESC, vec_id) AS r
               FROM d2 WHERE is_sel = 0) p
             JOIN sl ON p.aid = sl.aid AND p.vec_id = sl.vec_id WHERE p.r = 1),
      sel2 AS (SELECT aid, vec_id, v FROM sel1
               UNION ALL SELECT aid, vec_id, v FROM s2),
      d3 AS (SELECT c.aid, c.vec_id, c.sq,
                    max(round(list_cosine_similarity(c.v, s.v), 6)) AS dv,
                    max(CASE WHEN c.vec_id = s.vec_id THEN 1 ELSE 0 END) AS is_sel
             FROM sl c JOIN sel2 s ON c.aid = s.aid GROUP BY 1, 2, 3),
      s3 AS (SELECT p.aid, p.vec_id, sl.v, p.score FROM (
               SELECT aid, vec_id, round(0.5 * sq - 0.5 * dv, 6) AS score,
                      row_number() OVER (PARTITION BY aid
                        ORDER BY round(0.5 * sq - 0.5 * dv, 6) DESC, vec_id) AS r
               FROM d3 WHERE is_sel = 0) p
             JOIN sl ON p.aid = sl.aid AND p.vec_id = sl.vec_id WHERE p.r = 1),
      sel3 AS (SELECT aid, vec_id, v FROM sel2
               UNION ALL SELECT aid, vec_id, v FROM s3),
      d4 AS (SELECT c.aid, c.vec_id, c.sq,
                    max(round(list_cosine_similarity(c.v, s.v), 6)) AS dv,
                    max(CASE WHEN c.vec_id = s.vec_id THEN 1 ELSE 0 END) AS is_sel
             FROM sl c JOIN sel3 s ON c.aid = s.aid GROUP BY 1, 2, 3),
      s4 AS (SELECT p.aid, p.vec_id, p.score FROM (
               SELECT aid, vec_id, round(0.5 * sq - 0.5 * dv, 6) AS score,
                      row_number() OVER (PARTITION BY aid
                        ORDER BY round(0.5 * sq - 0.5 * dv, 6) DESC, vec_id) AS r
               FROM d4 WHERE is_sel = 0) p WHERE p.r = 1)
      SELECT aid AS anchor_id, rank, vec_id, round(score, 4) AS mmr FROM (
        SELECT aid, 1 AS rank, vec_id, score FROM s1
        UNION ALL SELECT aid, 2, vec_id, score FROM s2
        UNION ALL SELECT aid, 3, vec_id, score FROM s3
        UNION ALL SELECT aid, 4, vec_id, score FROM s4)
      ORDER BY anchor_id, rank""",
    "q113_ivf_pq" -> s"""
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
      q AS (SELECT v AS qv FROM e WHERE vec_id = $QueryVecId),
      probe AS (SELECT cid FROM c, q
                ORDER BY list_cosine_similarity(cv, qv) DESC, cid LIMIT 4),
      assign AS (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
        FROM e, c),
      cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cw, v AS cv
             FROM e ORDER BY vec_id LIMIT 16),
      sub AS (SELECT s FROM range(0, 4) t(s)),
      d AS (SELECT e.vec_id, sub.s, cb.cw,
              round(list_sum(list_transform(range(1, 17), i ->
                (e.v[(sub.s*16 + i)::INT] - cb.cv[(sub.s*16 + i)::INT])
                * (e.v[(sub.s*16 + i)::INT] - cb.cv[(sub.s*16 + i)::INT]))), 6) AS dist
            FROM e, sub, cb),
      code AS (SELECT vec_id, s, cw FROM (
                 SELECT vec_id, s, cw,
                   row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cw) AS rn
                 FROM d) WHERE rn = 1),
      lut AS (SELECT sub.s, cb.cw,
                round(list_sum(list_transform(range(1, 17), i ->
                  (q.qv[(sub.s*16 + i)::INT] - cb.cv[(sub.s*16 + i)::INT])
                  * (q.qv[(sub.s*16 + i)::INT] - cb.cv[(sub.s*16 + i)::INT]))), 6) AS qd
              FROM sub, cb, q),
      adc AS (SELECT cd.vec_id, list_sum(list(l.qd ORDER BY cd.s)) AS adc
              FROM code cd JOIN lut l ON l.s = cd.s AND l.cw = cd.cw
              GROUP BY 1)
      SELECT e.vec_id, e.label, round(a.adc, 4) AS adc
      FROM adc a
      JOIN e ON e.vec_id = a.vec_id
      JOIN assign s ON s.vec_id = e.vec_id AND s.rn = 1
      WHERE s.cid IN (SELECT cid FROM probe) AND e.vec_id <> $QueryVecId
      ORDER BY a.adc, e.vec_id LIMIT 10""",
    "q112_pq_refined" -> s"""$PqAdcCtes,
      short AS (SELECT e.vec_id, e.label, e.v
                FROM adc a JOIN e ON e.vec_id = a.vec_id
                WHERE e.vec_id <> $QueryVecId
                ORDER BY a.adc, e.vec_id LIMIT 50)
      SELECT vec_id, label, round(list_cosine_similarity(v, qv), 4) AS sim
      FROM short, q
      ORDER BY list_cosine_similarity(v, qv) DESC, vec_id LIMIT 10""",
    "q109_pq_adc" -> s"""$PqAdcCtes
      SELECT e.vec_id, e.label, round(a.adc, 4) AS adc
      FROM adc a JOIN e ON e.vec_id = a.vec_id
      WHERE e.vec_id <> $QueryVecId
      ORDER BY a.adc, e.vec_id LIMIT 10""",
    "q103_knn_join" -> """
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      b AS (SELECT vec_id, v,
              CAST(list_sum(list_transform(range(0, 8), i ->
                CASE WHEN list_dot_product(v,
                       list_transform(range(0, 64),
                         j -> (((i*37 + j*17) % 13) - 6)::DOUBLE)) >= 0
                     THEN 1 << i ELSE 0 END)) AS BIGINT) AS lsh_bucket
            FROM e),
      k AS (SELECT * FROM b QUALIFY count(*) OVER (PARTITION BY lsh_bucket) <= 1000),
      p AS (SELECT a.vec_id AS anchor, n.vec_id AS neighbor,
                   round(list_cosine_similarity(a.v, n.v), 4) AS sim
            FROM k a JOIN k n
              ON a.lsh_bucket = n.lsh_bucket AND a.vec_id <> n.vec_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY anchor
                        ORDER BY sim DESC, neighbor) AS rank FROM p)
      SELECT anchor, neighbor, sim, rank
      FROM r WHERE rank <= 3 ORDER BY anchor, rank""",
    // the q103 knn chain extended: d = 1 − rounded sim; k-distance by
    // max_by(d, rank); rank-ordered list_sum folds mirror the Spark
    // aggregate() folds; lof parenthesized (Σlrd / n) / lrd
    "q194_lof" -> """
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      b AS (SELECT vec_id, v,
              CAST(list_sum(list_transform(range(0, 8), i ->
                CASE WHEN list_dot_product(v,
                       list_transform(range(0, 64),
                         j -> (((i*37 + j*17) % 13) - 6)::DOUBLE)) >= 0
                     THEN 1 << i ELSE 0 END)) AS BIGINT) AS lsh_bucket
            FROM e),
      kk AS (SELECT * FROM b QUALIFY count(*) OVER (PARTITION BY lsh_bucket) <= 1000),
      p AS (SELECT a.vec_id AS anchor, n.vec_id AS neighbor,
                   round(list_cosine_similarity(a.v, n.v), 4) AS sim
            FROM kk a JOIN kk n
              ON a.lsh_bucket = n.lsh_bucket AND a.vec_id <> n.vec_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY anchor
                        ORDER BY sim DESC, neighbor) AS rank FROM p),
      knn AS (SELECT anchor, neighbor, 1 - sim AS d, rank
              FROM r WHERE rank <= 3),
      st AS (SELECT anchor AS neighbor, max_by(d, rank) AS kd
             FROM knn GROUP BY 1),
      re AS (SELECT knn.anchor, knn.rank, greatest(st.kd, knn.d) AS reach
             FROM knn JOIN st ON st.neighbor = knn.neighbor),
      lrd AS (SELECT anchor, count(1) AS n,
                CAST(count(1) AS DOUBLE) /
                  list_sum(list(reach ORDER BY rank)) AS lrd
              FROM re GROUP BY anchor),
      lo AS (SELECT knn.anchor, count(1) AS n_nn,
               list_sum(list(nb.lrd ORDER BY knn.rank)) AS slrd
             FROM knn JOIN lrd nb ON nb.anchor = knn.neighbor
             GROUP BY knn.anchor),
      top AS (SELECT lo.anchor, lo.n_nn, l.lrd AS lrd_raw,
                     lo.slrd / lo.n_nn / l.lrd AS lof_raw
              FROM lo JOIN lrd l ON l.anchor = lo.anchor
              ORDER BY lof_raw DESC, lo.anchor ASC LIMIT 20)
      SELECT anchor, CAST(n_nn AS BIGINT) AS n_nn,
             round(lrd_raw, 6) + CAST(0 AS DOUBLE) AS lrd,
             round(lof_raw, 6) + CAST(0 AS DOUBLE) AS lof
      FROM top ORDER BY lof DESC, anchor ASC""",
    // the q103 bucket/pair chain at minSim 0.25, then: degree count,
    // core gate (n_eps >= 3), recursive-reach CC on the core–core edges
    // (p already holds both directions), least-label components with
    // singleton cores coalescing to their own id, border = min cluster
    // among core neighbors, noise = the capped universe's remainder
    "q196_dbscan" -> """
      WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      b AS (SELECT vec_id, v,
              CAST(list_sum(list_transform(range(0, 8), i ->
                CASE WHEN list_dot_product(v,
                       list_transform(range(0, 64),
                         j -> (((i*37 + j*17) % 13) - 6)::DOUBLE)) >= 0
                     THEN 1 << i ELSE 0 END)) AS BIGINT) AS lsh_bucket
            FROM e),
      k AS (SELECT * FROM b QUALIFY count(*) OVER (PARTITION BY lsh_bucket) <= 1000),
      p AS (SELECT a.vec_id AS anchor, n.vec_id AS neighbor
            FROM k a JOIN k n
              ON a.lsh_bucket = n.lsh_bucket AND a.vec_id <> n.vec_id
            WHERE round(list_cosine_similarity(a.v, n.v), 4) >= 0.25),
      deg AS (SELECT anchor, count(1) AS n_eps FROM p GROUP BY 1),
      core AS (SELECT anchor, n_eps FROM deg WHERE n_eps >= 3),
      ce AS (SELECT p.anchor AS src, p.neighbor AS dst FROM p
             JOIN core c1 ON c1.anchor = p.anchor
             JOIN core c2 ON c2.anchor = p.neighbor),
      reach(src, dst) AS (
        SELECT src, dst FROM ce
        UNION
        SELECT r.src, e2.dst FROM reach r JOIN ce e2 ON r.dst = e2.src),
      lab AS (SELECT src AS node, least(src, min(dst)) AS component
              FROM reach GROUP BY src),
      core_out AS (
        SELECT c.anchor AS vec_id, coalesce(l.component, c.anchor) AS cluster,
               'core' AS role, c.n_eps
        FROM core c LEFT JOIN lab l ON l.node = c.anchor),
      border_out AS (
        SELECT p.anchor AS vec_id, min(co.cluster) AS cluster,
               'border' AS role, min(d.n_eps) AS n_eps
        FROM p JOIN core_out co ON co.vec_id = p.neighbor
        JOIN deg d ON d.anchor = p.anchor
        WHERE p.anchor NOT IN (SELECT anchor FROM core)
        GROUP BY p.anchor),
      noise AS (
        SELECT k.vec_id, CAST(NULL AS BIGINT) AS cluster, 'noise' AS role,
               coalesce(d.n_eps, 0) AS n_eps
        FROM k LEFT JOIN deg d ON d.anchor = k.vec_id
        WHERE k.vec_id NOT IN (SELECT vec_id FROM core_out)
          AND k.vec_id NOT IN (SELECT vec_id FROM border_out))
      SELECT vec_id, cluster, role, CAST(n_eps AS BIGINT) AS n_eps FROM core_out
      UNION ALL SELECT vec_id, cluster, role, CAST(n_eps AS BIGINT) FROM border_out
      UNION ALL SELECT vec_id, cluster, role, CAST(n_eps AS BIGINT) FROM noise
      ORDER BY vec_id""",
    // the q46 chain ranked by the rounded-sim total order; binary DCG
    // with ln(rank+1) discounts summed in rank order (list_sum over an
    // ORDER BY rank list — the q194 fold contract); MRR via min rel rank
    "q208_ndcg_audit" -> s"""
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT v AS qv, label AS ql FROM e WHERE vec_id = $QueryVecId),
      top AS (SELECT vec_id, label, round(list_cosine_similarity(v, qv), 4) AS sim
              FROM e, q WHERE vec_id <> $QueryVecId
              ORDER BY list_cosine_similarity(v, qv) DESC, vec_id LIMIT 10),
      r AS (SELECT vec_id, label, sim,
                   row_number() OVER (ORDER BY sim DESC, vec_id) AS rank,
                   CASE WHEN label = (SELECT ql FROM q) THEN 1 ELSE 0 END AS rel
            FROM top),
      nr AS (SELECT CAST(count(1) AS BIGINT) AS n_rel FROM e, q
             WHERE vec_id <> $QueryVecId AND label = ql),
      agg AS (SELECT
                CAST(sum(rel) AS BIGINT) AS n_rel_at_k,
                list_sum(list(CAST(rel AS DOUBLE) / ln(rank + 1) ORDER BY rank)) AS dcg,
                list_sum(list(CASE WHEN rank <= nr.n_rel
                                   THEN CAST(1 AS DOUBLE) / ln(rank + 1)
                                   ELSE CAST(0 AS DOUBLE) END ORDER BY rank)) AS idcg,
                coalesce(CAST(1 AS DOUBLE) /
                         min(CASE WHEN rel = 1 THEN rank END),
                         CAST(0 AS DOUBLE)) AS mrr,
                min(nr.n_rel) AS n_rel
              FROM r CROSS JOIN nr)
      SELECT CAST(10 AS BIGINT) AS k,
             (SELECT CAST(ql AS BIGINT) FROM q) AS q_label,
             n_rel, n_rel_at_k,
             round(dcg, 6) + CAST(0 AS DOUBLE) AS dcg,
             round(idcg, 6) + CAST(0 AS DOUBLE) AS idcg,
             CASE WHEN idcg > 0 THEN round(dcg / idcg, 6) + CAST(0 AS DOUBLE) END AS ndcg,
             round(mrr, 6) + CAST(0 AS DOUBLE) AS mrr
      FROM agg""",
    "q48_ivf_topk" -> s"""
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
      q AS (SELECT v AS qv FROM e WHERE vec_id = $QueryVecId),
      probe AS (SELECT cid FROM c, q
                ORDER BY list_cosine_similarity(cv, qv) DESC, cid LIMIT 4),
      assign AS (
        SELECT e.vec_id, e.label, e.v, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
        FROM e, c)
      SELECT vec_id, label, round(list_cosine_similarity(v, qv), 4) AS sim
      FROM assign, q
      WHERE rn = 1 AND cid IN (SELECT cid FROM probe) AND vec_id <> $QueryVecId
      ORDER BY list_cosine_similarity(v, qv) DESC, vec_id LIMIT 10""",
    "q88_ivf_refined" -> s"""
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      c0 AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
      q AS (SELECT v AS qv FROM e WHERE vec_id = $QueryVecId),
      a0 AS (
        SELECT e.vec_id, e.v, c0.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, c0.cv) DESC, c0.cid) AS rn
        FROM e, c0),
      comp AS (
        SELECT cid, i, avg(v[i::INT]) AS m
        FROM a0, range(1, 65) t(i)
        WHERE rn = 1
        GROUP BY 1, 2),
      means AS (SELECT cid, list(round(m, 6) ORDER BY i) AS mv FROM comp GROUP BY 1),
      cr AS (
        SELECT c0.cid,
               coalesce(means.mv, list_transform(c0.cv, x -> round(x, 6))) AS cv
        FROM c0 LEFT JOIN means ON c0.cid = means.cid),
      probe AS (SELECT cid FROM cr, q
                ORDER BY list_cosine_similarity(cv, qv) DESC, cid LIMIT 4),
      assign AS (
        SELECT e.vec_id, e.label, e.v, cr.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, cr.cv) DESC, cr.cid) AS rn
        FROM e, cr)
      SELECT vec_id, label, round(list_cosine_similarity(v, qv), 4) AS sim
      FROM assign, q
      WHERE rn = 1 AND cid IN (SELECT cid FROM probe) AND vec_id <> $QueryVecId
      ORDER BY list_cosine_similarity(v, qv) DESC, vec_id LIMIT 10""",
    "q83_lsh_det" -> """
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      b AS (SELECT vec_id,
              CAST(list_sum(list_transform(range(0, 8), i ->
                CASE WHEN list_dot_product(v,
                       list_transform(range(0, 64),
                         j -> (((i*37 + j*17) % 13) - 6)::DOUBLE)) >= 0
                     THEN 1 << i ELSE 0 END)) AS BIGINT) AS lsh_bucket
            FROM e)
      SELECT lsh_bucket, count(1) AS n FROM b GROUP BY 1 ORDER BY 1""",
    // plane coefficients re-derived from the SAME arithmetic the engine
    // uses (polyhash of "i:j" → affine finalizer → mod 2001 − 1000), no
    // literal smuggling; the embedding quantizes to exact 1e-6 BIGINTs
    // before the projection so every sign test is pure integer
    // arithmetic — bit-deterministic on both engines
    "q49_lsh_buckets" -> """
      WITH coef AS MATERIALIZED (
        SELECT i, j,
               ((list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(regexp_extract_all(
                     CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR), '.'),
                     ch -> CAST(unicode(ch) AS BIGINT))),
                 (a, b) -> (a * 31 + b) % 1000000007) * 961748927 + 12345)
                % 1000000007) % 2001 - 1000 AS c
        FROM range(0, 8) t1(i), range(0, 64) t2(j)),
      pl AS MATERIALIZED (
        SELECT i, list(c ORDER BY j) AS cl FROM coef GROUP BY i),
      e AS (SELECT vec_id,
              list_transform(embedding::DOUBLE[],
                x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS vq
            FROM embeddings),
      b AS (SELECT vec_id,
              CAST(sum(CASE WHEN
                list_sum(list_transform(range(0, 64),
                  j -> vq[(j+1)::INT] * cl[(j+1)::INT])) >= 0
                THEN 1 << i ELSE 0 END) AS BIGINT) AS lsh_bucket
            FROM e CROSS JOIN pl GROUP BY vec_id)
      SELECT lsh_bucket, count(1) AS n FROM b GROUP BY 1 ORDER BY 1""",
    // the ±1 matrix re-derived via the fmix32 finalizer (HUGEINT products
    // % 2^32 ≡ Scala's wrapping long & 0xffffffff); pvec = left fold in
    // i order per output dim — the same association order as rpProject's
    // unrolled Add chain, so the doubles are bit-identical cross-engine
    "q158_rp_topk" -> s"""
      WITH ij AS (SELECT i, j, i*65536 + j AS x0
                  FROM range(64) a(i), range(8) b(j)),
      m1 AS (SELECT i, j, CAST((CAST(xor(x0, x0 >> 16) AS HUGEINT)
               * 2246822507) % 4294967296 AS BIGINT) AS x1 FROM ij),
      m2 AS (SELECT i, j, CAST((CAST(xor(x1, x1 >> 13) AS HUGEINT)
               * 3266489909) % 4294967296 AS BIGINT) AS x2 FROM m1),
      sg AS (SELECT i, j, CASE WHEN xor(x2, x2 >> 16) % 2 = 0
               THEN 1.0 ELSE -1.0 END AS s FROM m2),
      srows AS (SELECT j, list(s ORDER BY i) AS srow FROM sg GROUP BY j),
      sgn AS (SELECT list(srow ORDER BY j) AS ss FROM srows),
      pv AS (
        SELECT vec_id, label,
               list_transform(range(8), j -> list_reduce(
                 list_transform(range(64), i -> embedding[i+1]::DOUBLE * ss[j+1][i+1]),
                 (a, b) -> a + b)) AS pvec
        FROM embeddings, sgn),
      q AS (SELECT pvec AS qv FROM pv WHERE vec_id = $QueryVecId)
      SELECT vec_id, label, round(list_cosine_similarity(pvec, qv), 4) AS sim
      FROM pv, q
      WHERE vec_id <> $QueryVecId
      ORDER BY list_cosine_similarity(pvec, qv) DESC, vec_id ASC
      LIMIT 10""",
    // the full 64×64 covariance (same exact-integer derivation as q161),
    // then 8 power steps with per-step 6-decimal rounding — each CTE layer
    // mirrors pcaProject's driver arithmetic in the identical fold order
    "q162_pca_topk" -> ("""
      WITH e AS (SELECT list_transform(embedding::DOUBLE[],
                   x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS q
                 FROM embeddings),
      n AS (SELECT count(1) AS n FROM e),
      s AS (SELECT i, sum(q[i+1]) AS si FROM e, range(64) t(i) GROUP BY i),
      ap AS (SELECT a.i AS i, b.j AS j
             FROM range(64) a(i), range(64) b(j) WHERE a.i <= b.j),
      sp AS (SELECT p.i, p.j, sum(q[p.i+1] * q[p.j+1]) AS sij
             FROM e, ap p GROUP BY 1, 2),
      fm AS (SELECT a.i AS i, b.j AS j FROM range(64) a(i), range(64) b(j)),
      centry AS (SELECT f.i, f.j,
                   (CAST(sp.sij AS DOUBLE) / n.n
                     - (CAST(si.si AS DOUBLE) / n.n)
                       * (CAST(sj.si AS DOUBLE) / n.n))
                     / 1000000000000.0 AS c
                 FROM fm f, n
                 JOIN sp ON sp.i = least(f.i, f.j) AND sp.j = greatest(f.i, f.j)
                 JOIN s si ON si.i = least(f.i, f.j)
                 JOIN s sj ON sj.i = greatest(f.i, f.j)),
      crows AS (SELECT i, list(c ORDER BY j) AS row FROM centry GROUP BY i),
      cm AS (SELECT list(row ORDER BY i) AS m FROM crows),
      v0 AS (SELECT list_transform(range(64), x -> 0.125) AS v FROM n)""" +
      (1 to 8).map { t => s""",
      w$t AS (SELECT list_transform(range(64), j ->
                list_reduce(list_transform(range(64), k -> m[j+1][k+1] * v[k+1]),
                  (a, b) -> a + b)) AS w
              FROM cm, v${t - 1}),
      v$t AS (SELECT list_transform(w, x ->
                floor(x / sqrt(list_reduce(list_transform(w, y -> y * y),
                  (a, b) -> a + b)) * 1000000 + 0.5) / 1000000.0) AS v
              FROM w$t)""" }.mkString + """,
      p AS (SELECT vec_id, label,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(range(64), k -> embedding[k+1]::DOUBLE * v[k+1])),
                (a, b) -> a + b) AS proj
            FROM embeddings, v8)
      SELECT vec_id, label, round(proj, 4) AS proj
      FROM p ORDER BY abs(proj) DESC, vec_id LIMIT 10"""),
    // integer Gram sums are order-independent exacts; the covariance
    // expression mirrors covariancePairs' association order exactly
    "q161_covariance" -> """
      WITH e AS (SELECT list_transform(embedding::DOUBLE[],
                   x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS q
                 FROM embeddings),
      n AS (SELECT count(1) AS n FROM e),
      s AS (SELECT i, sum(q[i+1]) AS si FROM e, range(64) t(i) GROUP BY i),
      pairs AS (SELECT a.i AS i, b.j AS j
                FROM range(64) a(i), range(64) b(j) WHERE a.i < b.j),
      sp AS (SELECT p.i, p.j, sum(q[p.i+1] * q[p.j+1]) AS sij
             FROM e, pairs p GROUP BY 1, 2),
      c AS (SELECT sp.i, sp.j,
                   (CAST(sij AS DOUBLE) / n.n
                     - (CAST(si.si AS DOUBLE) / n.n)
                       * (CAST(sj.si AS DOUBLE) / n.n))
                     / 1000000000000.0 AS cov
            FROM sp, n
            JOIN s si ON si.i = sp.i
            JOIN s sj ON sj.i = sp.j)
      SELECT i, j, round(cov, 6) AS cov
      FROM c ORDER BY abs(cov) DESC, i, j LIMIT 10""",
    "q46_cosine_topk" -> s"""
      WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = $QueryVecId)
      SELECT vec_id, label, round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) AS sim
      FROM embeddings, q
      WHERE vec_id <> $QueryVecId
      ORDER BY list_cosine_similarity(embedding::DOUBLE[], qv) DESC, vec_id ASC
      LIMIT 10""",
    // 4 × 16-dim sub-vector MaxSim, fully unrolled: greatest() of the 4
    // per-query-sub dots, summed in the fixed left-fold order the Spark
    // expression uses; + 0.0 canonicalizes a rounded -0.0
    "q188_maxsim" -> {
      val d = 16
      def dp(i: Int, j: Int) =
        s"list_dot_product(list_slice(qv, ${i * d + 1}, ${(i + 1) * d}), " +
          s"list_slice(dv, ${j * d + 1}, ${(j + 1) * d}))"
      val score = (0 until 4)
        .map(i => "greatest(" + (0 until 4).map(j => dp(i, j)).mkString(", ") + ")")
        .mkString(" + ")
      s"""
      WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = $QueryVecId),
      docs AS (SELECT vec_id, label, embedding::DOUBLE[] AS dv, qv
               FROM embeddings, q WHERE vec_id <> $QueryVecId),
      s AS (SELECT vec_id, label, $score AS ms FROM docs)
      SELECT vec_id, label, round(ms, 4) + 0.0 AS maxsim
      FROM s ORDER BY ms DESC, vec_id ASC LIMIT 10"""
    },
    "q47_cosine_range" -> s"""
      WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = $QueryVecId)
      SELECT vec_id, label, round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) AS sim
      FROM embeddings, q
      WHERE vec_id <> $QueryVecId AND list_cosine_similarity(embedding::DOUBLE[], qv) >= 0.3
      ORDER BY vec_id""",
    // centroid cosine per label: cosine of the component SUMS (≡ cosine
    // of means); the 1.25 rescale runs in DOUBLE on both engines
    // q185's sum-vector centroid algebra joined across label pairs
    "q249_centroid_matrix" -> """
      WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
      comp AS MATERIALIZED (
        SELECT label AS g, u.p AS p, sum(u.x) AS s FROM
          (SELECT label, unnest(list_transform(range(1, len(v) + 1),
             i -> struct_pack(p := i, x := v[i::INT]))) AS u FROM e)
        GROUP BY 1, 2)
      SELECT a.g AS group_a, b.g AS group_b,
             round(sum(a.s * b.s) /
               (sqrt(sum(a.s * a.s)) * sqrt(sum(b.s * b.s))), 6)
               + CAST(0 AS DOUBLE) AS centroid_cosine
      FROM comp a JOIN comp b ON a.p = b.p AND a.g < b.g
      GROUP BY 1, 2 ORDER BY 1, 2""",
    "q185_embedding_drift" -> s"""
      WITH av AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings
                  WHERE vec_id % 97 <> 0),
      bv AS (SELECT label,
                    CASE WHEN vec_id % 11 = 0
                         THEN list_transform(embedding::DOUBLE[], x -> x * 1.25)
                         ELSE embedding::DOUBLE[] END AS v
             FROM embeddings WHERE vec_id % 89 <> 0),
      ea AS (SELECT label, u.p AS p, sum(u.x) AS sa FROM
               (SELECT label, unnest(list_transform(range(1, len(v) + 1),
                  i -> struct_pack(p := i, x := v[i::INT]))) AS u FROM av)
             GROUP BY 1, 2),
      eb AS (SELECT label, u.p AS p, sum(u.x) AS sb FROM
               (SELECT label, unnest(list_transform(range(1, len(v) + 1),
                  i -> struct_pack(p := i, x := v[i::INT]))) AS u FROM bv)
             GROUP BY 1, 2),
      na AS (SELECT label, count(1) AS n_a FROM av GROUP BY 1),
      nb AS (SELECT label, count(1) AS n_b FROM bv GROUP BY 1),
      j AS (SELECT coalesce(ea.label, eb.label) AS label, sa, sb
            FROM ea FULL OUTER JOIN eb ON ea.label = eb.label AND ea.p = eb.p),
      c AS (SELECT label,
                   round(sum(sa * sb) / (sqrt(sum(sa * sa)) * sqrt(sum(sb * sb))), 6)
                     AS centroid_cosine
            FROM j GROUP BY 1)
      SELECT c.label, coalesce(na.n_a, 0) AS n_a, coalesce(nb.n_b, 0) AS n_b,
             centroid_cosine
      FROM c LEFT JOIN na ON c.label = na.label LEFT JOIN nb ON c.label = nb.label
      ORDER BY 1""",
    "q182_mrl_recall_audit" -> s"""
      WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = $QueryVecId),
      ex AS (SELECT vec_id FROM embeddings, q WHERE vec_id <> $QueryVecId
             ORDER BY list_cosine_similarity(embedding::DOUBLE[], qv) DESC, vec_id
             LIMIT 10),
      tr AS (SELECT vec_id AS a_id FROM embeddings, q WHERE vec_id <> $QueryVecId
             ORDER BY list_cosine_similarity((embedding::DOUBLE[])[1:16], qv[1:16]) DESC, vec_id
             LIMIT 10),
      j AS (SELECT ex.vec_id, tr.a_id FROM ex FULL OUTER JOIN tr ON vec_id = a_id)
      SELECT CAST(16 AS BIGINT) AS dims,
             count(vec_id) AS n_exact, count(a_id) AS n_trunc,
             CAST(sum(CASE WHEN vec_id IS NOT NULL AND a_id IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
             round(CAST(sum(CASE WHEN vec_id IS NOT NULL AND a_id IS NOT NULL
                                 THEN 1 ELSE 0 END) AS BIGINT)
                   / count(vec_id), 4) AS recall_at_k
      FROM j""")
}
