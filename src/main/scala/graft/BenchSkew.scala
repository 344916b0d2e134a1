package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Association, Corpus, Dedup, Linkage, Similarity, Skew, Stage}
import graft.tools.{CapMetricsListener, SkewedCorpus}

/** Skew benchmark: runs the cap/sub-block/salting machinery over the
  * deterministic skewed corpus ([[graft.tools.SkewedCorpus]]) — the corpus
  * where every bounded-coverage guard actually FIRES — and reports, in one
  * JSON line:
  *
  *   - `ops`: seconds per operator, CAPPED (production settings) and OPEN
  *     (caps disabled) where the open form is affordable — the
  *     before/after-cap runtime the caps exist to buy;
  *   - `counts`: result cardinalities of both forms — the recall price
  *     paid for the bound (capped ⊆ open for every pair family);
  *   - `caps`: the session [[graft.tools.CapMetricsListener]] totals —
  *     proof the observability channel carries real firings, not zeros.
  *
  * The uniform driver bench (`graft.Bench`) answers "how fast on typical
  * data"; this answers "does the machinery hold when one bucket IS the
  * dataset" — the question a 100 TB web crawl asks. Fixture defaults
  * (5000 docs / 4000 vectors ≈ sf0.1 scale): a 2000-document near-dup
  * cluster, a 3500-row hot source key, a 2000-vector hot semantic cell.
  *
  * Each op is timed over `SPARK_GRAFT_BENCH_RUNS` (default 3) interleaved
  * passes, min taken — same protocol as [[Bench]].
  */
object BenchSkew {

  /** Doc–source bipartite edges: source nodes mapped into a negative id
    * space so both endpoints share the long node domain; the hot source
    * key becomes the hub whose wedges the cap must excise.
    */
  private def docSourceEdges(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("src"),
      (lit(-1L) - abs(hash(col("source")).cast("long"))).as("dst"))

  /** Per-source (ts, value) series off doc ids — the hot source key is
    * one quadratic-pair-stage key for the Theil–Sen soak.
    */
  private def docSeries(docs: DataFrame): DataFrame =
    docs.select(col("source"),
      timestamp_micros(col("doc_id") * lit(1000000L)).as("ts"),
      col("n_chars").cast("double").as("v"))

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SKEW_DIR", "/tmp/graft_skewdata")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(2)
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_SKEW_DOCS", "5000").toInt
    val nVecs = sys.env.getOrElse("SPARK_GRAFT_SKEW_VECS", "4000").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = CapMetricsListener.register(spark)

    val hotItems = sys.env.getOrElse("SPARK_GRAFT_SKEW_HOT_ITEMS", "4000").toInt
    SkewedCorpus.write(spark, dir, nDocs, nVecs, hotItems)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val baskets = spark.read.parquet(s"$dir/baskets.parquet")
    val cents = Similarity.centroids(emb, 16)

    // jaccardBetween slices (the q105 / StreamingDedup shape)
    def shNew = Dedup.shingleIndex(
      docs.filter(col("doc_id") % 7 === 0), "doc_id", "text", 3)
    def shOld = Dedup.shingleIndex(
      docs.filter(col("doc_id") % 7 =!= 0), "doc_id", "text", 3)
    // full corpus shingle index for the containment-subsumption family —
    // the near-dup cluster's shared base makes every base shingle hot
    // (df ≈ hotFrac·N), exactly the boilerplate-dominated shape whose
    // candidate volume the containment guard exists to bound
    def shAll = Dedup.shingleIndex(docs, "doc_id", "text", 3)
      .transform(Stage.snapshotDF)

    // SPARK_GRAFT_SKEW_OPS: comma-separated op-name filter (substring
    // match) — the 10×-scale soak runs the capped forms only, because the
    // open forms are MEASURED quadratic (131 s at 4×; the point is made)
    val opFilter = sys.env.get("SPARK_GRAFT_SKEW_OPS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)

    val linkRules = Seq(Linkage.FieldRule("n_chars",
      (a, b) => abs(a - b) <= lit(2L), m = 0.9, u = 0.05))

    // each entry: name -> () => result cardinality (forces full execution)
    val allOps: Seq[(String, () => Long)] = Seq(
      "minhash_capped" -> (() =>
        Dedup.minhashCandidates(Dedup.shingleIndex(docs, "doc_id", "text", 3)).count()),
      "minhash_open" -> (() =>
        Dedup.minhashCandidates(Dedup.shingleIndex(docs, "doc_id", "text", 3),
          maxBucketSize = Int.MaxValue).count()),
      "jacc_between_capped" -> (() =>
        Dedup.jaccardBetween(shNew, shOld, 0.6, maxPostings = 50).count()),
      "jacc_between_open" -> (() =>
        Dedup.jaccardBetween(shNew, shOld, 0.6, maxPostings = 0).count()),
      "contain_drops_guarded" -> (() =>
        Dedup.containmentDropsGuarded(shAll, 0.8).count()),
      "contain_drops_open" -> (() =>
        Dedup.containmentDrops(shAll, 0.8).count()),
      "contain_between_capped" -> (() =>
        Dedup.containmentBetween(shNew, shOld, 0.8, maxPostings = 50).count()),
      "contain_between_open" -> (() =>
        Dedup.containmentBetween(shNew, shOld, 0.8, maxPostings = 0).count()),
      "embed_block_drop" -> (() =>
        Dedup.embeddingNearDups(emb, "label", 0.9, 500, "drop").count()),
      "embed_block_subblock" -> (() =>
        Dedup.embeddingNearDups(emb, "label", 0.9, 500, "subblock").count()),
      "embed_block_open" -> (() =>
        Dedup.embeddingNearDups(emb, "label", 0.9, Int.MaxValue, "drop").count()),
      "semantic_dedup_subblock" -> (() =>
        Dedup.semanticDedup(emb, cents, 0.35, 500).filter(!col("is_dup")).count()),
      "knn_join_capped" -> (() =>
        Similarity.knnJoinLsh(emb, numPlanes = 8, dim = 64, k = 5,
          maxBucketSize = 500).count()),
      "salted_agg" -> (() =>
        Skew.saltedAggregate(docs.select("source", "n_chars"), Seq("source"),
          sum("n_chars").as("partial"), sum("partial").as("total_chars")).count()),
      "plain_agg" -> (() =>
        docs.groupBy("source").agg(sum("n_chars")).count()),
      "salted_join" -> (() => {
        // dim key renamed: it derives from the same lineage as the fact
        // side, and a same-attribute equi-join is ambiguous under Catalyst
        val dim = docs.groupBy("source").agg(count(lit(1)).as("n_src"))
          .withColumnRenamed("source", "__s")
        Skew.saltedJoin(docs.select("doc_id", "source", "n_chars"), dim,
          "source", "__s").count()
      }),
      "plain_join" -> (() => {
        val dim = docs.groupBy("source").agg(count(lit(1)).as("n_src"))
        docs.select("doc_id", "source", "n_chars")
          .join(dim.withColumnRenamed("source", "__s"),
            col("source") === col("__s")).count()
      }),
      // the mega-basket stressor: guarded excises basket 0 (its
      // hotItems²/2 volume alone busts the budget), open pays it in full
      "pair_rules_guarded" -> (() =>
        Association.pairRulesGuarded(baskets, "basket_id", "item",
          minSupport = 2L, pairBudget = 200000L, hotBasketCap = 64).count()),
      "pair_rules_open" -> (() =>
        Association.pairRules(baskets, "basket_id", "item",
          minSupport = 2L).count()),
      // record linkage blocked on (lang, source): the hot source key puts
      // ~70% of the corpus in ONE block — capped drops it whole (linear),
      // open pays Σ block² in full
      "linkage_capped" -> (() => {
        val slim = docs.select("doc_id", "lang", "source", "n_chars")
        Linkage.score(
          Linkage.candidatePairsCapped(slim, "doc_id", Seq("lang", "source"), 500),
          linkRules).filter(col("match_score") > 0).count()
      }),
      "linkage_open" -> (() => {
        val slim = docs.select("doc_id", "lang", "source", "n_chars")
        Linkage.score(
          Linkage.candidatePairs(slim, "doc_id", Seq("lang", "source")),
          linkRules).filter(col("match_score") > 0).count()
      }),
      // link prediction on the doc–source bipartite graph: the hot source
      // key is a degree-~3500 hub whose wedge volume alone is ~6M pairs —
      // capped excises it (graft.wedgeGuard fires), open pays Σ deg²
      "link_pred_capped" -> (() =>
        graft.operators.Graph.linkPrediction(docSourceEdges(docs),
          "src", "dst", hubCap = 500).count()),
      "link_pred_open" -> (() =>
        graft.operators.Graph.linkPrediction(docSourceEdges(docs),
          "src", "dst", hubCap = Int.MaxValue).count()),
      // Theil–Sen on the hot source key: 3500 points in ONE key is a 6M-
      // pair quadratic stage open; the 64-point rank stride bounds it at
      // ~2k pairs per key regardless of key size
      "theil_sen_capped" -> (() =>
        graft.operators.TimeSeries.theilSen(docSeries(docs),
          "source", "ts", "v", maxPoints = 64).count()),
      "theil_sen_open" -> (() =>
        graft.operators.TimeSeries.theilSen(docSeries(docs),
          "source", "ts", "v", maxPoints = Int.MaxValue).count()),
      // winnowing overlap: the 2000-doc near-dup cluster makes every shared
      // selected fingerprint a 2000-doc bucket — capped drops boilerplate
      // fingerprints whole (linear), open pays Σ bucket² in full
      "winnow_overlap_capped" -> (() =>
        graft.operators.TextAnalysis.winnowOverlapPairs(docs, 3, 8,
          minShared = 2, maxDocsPerFingerprint = 50).count()),
      "winnow_overlap_open" -> (() =>
        graft.operators.TextAnalysis.winnowOverlapPairs(docs, 3, 8,
          minShared = 2, maxDocsPerFingerprint = Int.MaxValue).count()),
      // dbscan: the hot semantic cell lands in ONE LSH bucket — capped
      // excises it observably, open pays the bucket² ε-join
      "dbscan_capped" -> (() =>
        Similarity.dbscan(emb, numPlanes = 8, dim = 64,
          minSim = 0.9, minPts = 3, maxBucketSize = 500).count()),
      "dbscan_open" -> (() =>
        Similarity.dbscan(emb, numPlanes = 8, dim = 64,
          minSim = 0.9, minPts = 3, maxBucketSize = Int.MaxValue).count()),
      "boilerplate" -> (() =>
        Corpus.boilerplateCoverage(docs, "doc_id", "text", 3, 0.02)
          .filter(col("boiler_ratio") > 0.5).count()),
      "quality_buckets_approx" -> (() =>
        Corpus.approxQuantileBuckets(
          docs.withColumn("score", col("n_chars").cast("double")),
          "lang", "score", 3).groupBy("lang", "bucket").count().count()))

    val ops = opFilter.fold(allOps)(fs => allOps.filter {
      case (name, _) => fs.exists(name.contains)
    })

    def r3(v: Double): Double =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    // the execution-listener bus is async: wait until the snapshot stops
    // changing before trusting (or resetting over) it
    def settled(): Map[String, Long] = {
      var prev = listener.snapshot
      var stable = 0
      val deadline = System.nanoTime() + 15e9.toLong
      while (stable < 4 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val cur = listener.snapshot
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
      }
      prev
    }
    // interleaved passes, min per op (Bench's protocol); counts from pass 0.
    // The listener is reset at the START of the final pass (after draining
    // in-flight deliveries from earlier passes) so the reported `caps` are
    // ONE pass's firings, not runs× accumulations across capped AND open
    // variants — per-execution drop counts a reader can set beside the
    // per-op min times.
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for (pass <- 0 until runs) {
      if (pass == runs - 1) { settled(); listener.reset() }
      for ((name, run) <- ops) {
        val t0 = System.nanoTime()
        val n = run()
        val sec = (System.nanoTime() - t0) / 1e9
        if (pass == 0) counts(name) = n
        times(name) = math.min(times.getOrElse(name, Double.MaxValue), sec)
      }
    }
    val caps = settled().toSeq.sortBy(_._1)
    def jnum(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    def jlong(m: Seq[(String, Long)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = r3(times.values.sum)
    println(
      s"""{"metric":"skew_total","value":$total,"unit":"sec","docs":$nDocs,"vecs":$nVecs,"runs":$runs,"caps_scope":"final_pass_only","ops":${jnum(times.toSeq)},"counts":${jlong(counts.toSeq)},"caps":${jlong(caps)}}""")
    spark.stop()
  }
}
