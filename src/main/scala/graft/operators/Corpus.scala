package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus-level statistics and curation operators for the training-data
  * pipeline surface (BASELINE.json north star): relevance scoring (TF-IDF,
  * BM25), n-gram statistics, quality signals (repetition, entropy),
  * PII-style redaction, benchmark-contamination detection, deterministic
  * stratified sampling, and context-window sequence packing.
  *
  * Scale design notes (100 TB posture):
  *   - every per-document signal is a map-side expression or one
  *     hash-aggregate away — no driver materialization anywhere;
  *   - corpus-level scalars (N, avgdl) are single-row aggregates joined in by
  *     broadcast (a cross join against a 1-row side is a broadcast nested
  *     loop — no shuffle of the big side);
  *   - the benchmark n-gram set in `contamination` is broadcast: the typical
  *     eval-suite is KBs–MBs while the corpus is TBs;
  *   - packing and sampling are windowed per partition key (`source`), never
  *     a global single-partition window.
  */
object Corpus {

  /** Exploded (doc, token) rows with the document length riding along —
    * explode_outer to dodge the InferFiltersFromGenerate double-evaluation
    * (see Dedup.shingleIndex).
    */
  // No spread() here: tokenization is one cheap pass and every consumer
  // aggregates immediately after (the groupBy exchange restores parallelism);
  // an extra repartition costs more than it buys. Contrast contamination,
  // whose broadcast join keeps ALL work map-side and does need the spread.
  private def tokenRows(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("__id"), TextFunctions.tokens(col(textCol)).as("tk"))
      .select(col("__id"), size(col("tk")).as("dlen"), explode_outer(col("tk")).as("tok"))
      .filter(col("tok").isNotNull)

  /** TF-IDF per (document, term): tf = termCount/docLen, idf = ln(N/df).
    * One explode + two hash aggregations (term frequency per doc, document
    * frequency per term) + an equi-join on the term — the inverted-index
    * shuffle shape that scales linearly with corpus size.
    *
    * The tf rows are materialized ONCE (Stage.snapshot) and document
    * frequency comes from a groupBy + equi-join back on the term. The two
    * discarded alternatives both fail one of the round-trip constraints:
    * referencing the raw tf lineage twice re-executes the whole
    * tokenize→explode→aggregate pipeline per consumer, and a
    * COUNT() OVER (PARTITION BY term) funnels every tf row for a hot term
    * (a stopword holds ~N_docs rows at corpus scale) through ONE WindowExec
    * task with full-partition buffering — AQE can split a skewed join but
    * cannot split a window partition. Checkpoint + join keeps single
    * execution AND leaves the hot-term shuffle AQE-splittable; the df side
    * aggregates to |vocabulary| rows, small enough for a broadcast at
    * runtime.
    */
  def tfidf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokenRows(docs, idCol, textCol)
    val tf = toks.groupBy("__id", "tok")
      .agg(count(lit(1)).as("cnt"), max(col("dlen")).as("dlen"))
      .transform(Stage.snapshotDF)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    tf.join(dfreq, "tok")
      .crossJoin(broadcast(n))
      .select(
        col("__id").as("doc_id"), col("tok").as("term"),
        (col("cnt").cast("double") / col("dlen").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double"))).as("tfidf"))
  }

  /** Okapi BM25 scores for a bag-of-terms query, standard parameters
    * k1 = 1.2, b = 0.75, idf = ln(1 + (N - df + 0.5)/(df + 0.5)).
    * Same dataflow as tfidf; the query-term filter prunes the exploded rows
    * before the first shuffle.
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25TermScores(docs, idCol, textCol, queryTerms, k1, b)
      .groupBy(col("__id").as("doc_id"))
      .agg(sum("score").as("bm25"))

  /** Shared scoring core of [[bm25]] and [[conjunctiveSearch]]: one row per
    * (doc `__id`, matched query term) carrying `score` — the two operators
    * differ only in the final doc-level aggregate (sum vs sum + AND-gate),
    * and a duplicated pipeline here is exactly how a formula fix misses one
    * of them.
    */
  private def bm25TermScores(
      docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double, b: Double): DataFrame = {
    val toks = tokenRows(docs, idCol, textCol)
    val qt = array(queryTerms.map(lit): _*)
    // corpus scalars in ONE single-row aggregate (no second corpus pass).
    // avgdl averages over docs with tokenizable text — size(tokens(NULL))
    // is -1, which would skew avgdl DOWN per null doc; dropping the null
    // (avg ignores nulls) matches the oracle's `avg(len(tk))`, where
    // len(NULL) is NULL.
    val tk = TextFunctions.tokens(col(textCol))
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      avg(when(tk.isNotNull, size(tk)).cast("double")).as("avgdl"))
    // checkpoint + groupBy/join for df, same skew rationale as tfidf (a
    // query term CAN be a hot term — pruning to the query bag bounds the
    // vocabulary, not the posting-list length)
    val tf = toks.filter(array_contains(qt, col("tok")))
      .groupBy("__id", "tok")
      .agg(count(lit(1)).as("cnt"), max(col("dlen")).as("dlen"))
      .transform(Stage.snapshotDF)
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    tf.join(dfreq, "tok")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("score",
        col("idf") * (col("cnt") * (lit(k1) + 1)) /
          (col("cnt") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dlen") / col("avgdl"))))
  }

  /** Conjunctive (AND) retrieval with BM25 ranking: documents containing
    * EVERY query term, scored like [[bm25]]. The intersection of the
    * query terms' posting lists is computed as one (doc)-keyed count —
    * `HAVING count(term) = |query|` — instead of |query|−1 posting
    * self-joins; since `tf` already holds one row per (doc, DISTINCT
    * term), the plain count is the distinct-match count. Work is bounded
    * by the query terms' posting lengths (the map-side `array_contains`
    * prunes the explode before the first shuffle), never corpus size —
    * the search-engine cost model, reached here with one aggregation.
    * Returns (doc_id, bm25) unrounded/unlimited; callers rank and cut.
    */
  def conjunctiveSearch(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.distinct == queryTerms,
      s"query terms must be non-empty and distinct: $queryTerms")
    bm25TermScores(docs, idCol, textCol, queryTerms, k1, b)
      .groupBy(col("__id").as("doc_id"))
      .agg(sum("score").as("bm25"), count(lit(1)).as("__matched"))
      .filter(col("__matched") === queryTerms.size)
      .drop("__matched")
  }

  /** Skip-gram PPMI co-occurrence (Levy & Goldberg 2014's "neural word
    * embedding as implicit matrix factorization" target): for every
    * token pair within a ±`window` offset,
    *
    *   ppmi(x,y) = max(0, ln( (c_xy·N) / (c_x·c_y) ))
    *
    * with N = total pair occurrences and marginals summed from the pair
    * table — the sparse matrix whose factorization IS a static word
    * embedding, and the windowed generalization of [[pmiCollocations]]'s
    * adjacent-only bigrams (with the standard positive clip: negative
    * association is noise at corpus scale).
    *
    * Shape: pair construction is 2·window MAP-SIDE `zip_with` slices per
    * document (each offset's aligned zip, both directions) — no window
    * function, no join, 2w·tokens rows total; then ONE (x, y) count and
    * vocab-sized marginal/total folds off its snapshot (the corpus is
    * read once, the q199 dataflow). `minCount` floors the rare-pair
    * explosion exactly as in PMI.
    */
  def skipgramPpmi(
      docs: DataFrame,
      textCol: String,
      window: Int,
      minCount: Int,
      topN: Int): DataFrame = {
    require(window >= 1, s"need window >= 1, got $window")
    require(minCount >= 1, s"need minCount >= 1, got $minCount")
    val tk = TextFunctions.tokens(col(textCol))
    val n = size(tk)
    val pairCols = (1 to window).flatMap { off =>
      val zipped = zip_with(
        slice(tk, lit(1), n - lit(off)), slice(tk, lit(off) + 1, n - lit(off)),
        (a, b) => struct(a.as("x"), b.as("y")))
      val fwd = when(n > off, zipped).otherwise(array().cast("array<struct<x:string,y:string>>"))
      val rev = when(n > off,
        zip_with(slice(tk, lit(off) + 1, n - lit(off)), slice(tk, lit(1), n - lit(off)),
          (a, b) => struct(a.as("x"), b.as("y"))))
        .otherwise(array().cast("array<struct<x:string,y:string>>"))
      Seq(fwd, rev)
    }
    val cxy = Stage.snapshotDF(docs
      .select(explode_outer(concat(pairCols: _*)).as("p"))
      .filter(col("p").isNotNull)
      .groupBy(col("p.x").as("x"), col("p.y").as("y"))
      .agg(count(lit(1)).as("c_xy")))
    val cx = cxy.groupBy("x").agg(sum("c_xy").as("c_x"))
    val cy = cxy.groupBy("y").agg(sum("c_xy").as("c_y"))
    val tot = cxy.agg(sum("c_xy").cast("double").as("n"))
    val d = (c: String) => col(c).cast("double")
    cxy.filter(col("c_xy") >= minCount)
      .join(cx, Seq("x")).join(cy, Seq("y"))
      .crossJoin(broadcast(tot))
      .select(col("x"), col("y"), col("c_xy"),
        (round(greatest(lit(0.0),
          log((d("c_xy") * col("n")) / (d("c_x") * d("c_y")))), 6) + lit(0.0))
          .as("ppmi"))
      .orderBy(col("ppmi").desc, col("x").asc, col("y").asc)
      .limit(topN)
  }

  /** Neyman optimal sampling allocation (Neyman 1934): split a sampling
    * budget across strata proportionally to N_h·σ_h — the
    * minimum-variance design for estimating a mean under a fixed budget,
    * and the principled way to size an eval set per source (uniform
    * rates oversample homogeneous strata; q66's fixed-rate sample cannot
    * adapt). Emits per stratum: size, σ, the exact-integer weight, and
    * the allocated sample size.
    *
    * Determinism: σ rounds to 6 (the CUSUM whole-partition-stat
    * contract); each stratum weight folds to the INTEGER
    * floor(N·σ·10⁶ + ½) (the q148 micros trick) so the total is an exact
    * integer sum — immune to combine order where a double Σ N·σ is not —
    * and every allocation division is an exact-integer-double ratio.
    * Seats: floor allocations + largest-remainder top-up (remainder
    * desc, stratum asc — a fixed total order), each capped at N_h; a cap
    * binding at the same time as the top-up leaves the budget undershot
    * rather than silently re-redistributed (single-pass contract,
    * documented). Cost: one corpus aggregation; strata-sized algebra
    * after (the per-bin convention).
    */
  def neymanAllocation(
      df: DataFrame, strataCol: String, valCol: String, budget: Long): DataFrame = {
    require(budget >= 1, s"need budget >= 1, got $budget")
    val stats = Stage.snapshotDF(df
      .groupBy(col(strataCol).as("stratum"))
      .agg(count(lit(1)).as("n_rows"),
        round(stddev_pop(col(valCol).cast("double")), 6).as("sigma"))
      .select(col("stratum"), col("n_rows"), col("sigma"),
        floor(col("n_rows").cast("double") * coalesce(col("sigma"), lit(0.0))
          * lit(1e6) + lit(0.5)).cast("long").as("w6")))
    val tot = stats.agg(sum("w6").as("__t6"))
    // zero total weight (all strata constant) carries no signal — nothing
    // allocates, rather than a division blow-up under ANSI
    val based = Stage.snapshotDF(stats.crossJoin(broadcast(tot))
      .withColumn("__raw", when(col("__t6") > 0,
        lit(budget).cast("double") * col("w6").cast("double") /
          col("__t6").cast("double")).otherwise(lit(0.0)))
      .withColumn("__base", floor(col("__raw")).cast("long"))
      .withColumn("__rem", col("__raw") - col("__base").cast("double")))
    val left = based.agg(greatest(lit(0L),
      lit(budget) - sum("__base")).as("__left"))
    val byRem = org.apache.spark.sql.expressions.Window
      .orderBy(col("__rem").desc, col("stratum").asc)
    based
      .withColumn("__rank", row_number().over(byRem).cast("long"))
      .crossJoin(broadcast(left))
      .select(col("stratum"), col("n_rows"), col("sigma"), col("w6"),
        least(col("n_rows"),
          col("__base") + when(col("__rank") <= col("__left") && col("w6") > 0, 1L)
            .otherwise(0L)).as("alloc"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke, Buettcher, SIGIR 2009):
    * combine N retrievers' rank lists by
    *
    *   rrf(d) = Σᵢ 1/(k + rankᵢ(d)),   d absent from list i contributing 0
    *
    * — the standard hybrid-search ensemble (lexical + semantic, or any
    * scorer mix): rank-space fusion needs no score calibration between
    * retrievers with incomparable score scales, and k (canonically 60)
    * damps the head so one list's #1 cannot steamroll consensus.
    *
    * Inputs are (idCol, rank) relations — each retriever's ALREADY-CUT
    * top-k, so every join here is k-sized regardless of corpus scale (the
    * expensive work stays in the upstream retrievers, which prune/block
    * per their own contracts). Fusion is a fold of full-outer equi-joins
    * plus ONE projection whose Σ is written in fixed list order — the
    * per-term 1/(k+r) values are engine-identical IEEE ops, so the fused
    * score is deterministic (round 6). Per-retriever ranks pass through
    * (null where unranked) for interpretability.
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, kRrf: Int = 60): DataFrame = {
    require(rankings.size >= 2, s"fusion needs >= 2 rankings, got ${rankings.size}")
    require(kRrf >= 1, s"need kRrf >= 1, got $kRrf")
    val renamed = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col(idCol), col("rank").cast("long").as(s"rank_$i"))
    }
    val joined = renamed.reduce((a, b) => a.join(b, Seq(idCol), "full_outer"))
    val score = rankings.indices
      .map(i => coalesce(lit(1.0) / (lit(kRrf) + col(s"rank_$i")), lit(0.0)))
      .reduce(_ + _)
    joined.select(
      (col(idCol) +: rankings.indices.map(i => col(s"rank_$i"))) :+
        ((round(score, 6) + lit(0.0)).as("rrf")): _*)
  }

  /** Sparse TF-IDF cosine similarity between documents, inverted-index
    * style: pair weights meet on their TERM (one shuffle keyed by term,
    * pair products summed per document pair) — never a dense doc×doc
    * comparison. The sparse-vector complement of the dense embedding ANN
    * operators in `Similarity`. Terms whose posting list exceeds
    * `maxPostings` are dropped before pair expansion (a term in half the
    * corpus is both non-discriminative — idf ≈ 0 — and quadratic in the
    * pair stage; the LSH bucket-cap argument, Dedup.minhashCandidates).
    */
  def tfidfCosinePairs(docs: DataFrame, idCol: String, textCol: String,
                       minSim: Double, maxPostings: Int = 1000): DataFrame = {
    // w fans out to BOTH `norms` and `pairs`: materialize it once
    // (Stage.snapshot) or Catalyst re-executes the df-join lineage per
    // consumer — the same double-execution class fixed in
    // Dedup.connectedComponents' pair input.
    val w = tfidf(docs, idCol, textCol).transform(Stage.snapshotDF)
    val norms = w.groupBy("doc_id").agg(sqrt(sum(col("tfidf") * col("tfidf"))).as("nrm"))
    val overCap = size(col("post")) > maxPostings
    val pairs = w.groupBy("term")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("tfidf")))).as("post"))
      // no-silent-caps: dropped posting lists are visible via
      // graft.postingCap, same channel as Dedup.jaccardBetween's cap
      .observe(s"graft.postingCap.${Dedup.capObsId.incrementAndGet()}",
        sum(when(overCap, size(col("post")).cast("long")).otherwise(0L))
          .as("dropped_postings"),
        sum(when(overCap, 1L).otherwise(0L)).as("dropped_terms"))
      .filter(size(col("post")).between(2, maxPostings))
      .select(explode_outer(flatten(transform(col("post"), (x, i) =>
        transform(slice(col("post"), i + lit(2), size(col("post"))),
          y => struct(x.getField("doc_id").as("id_a"), y.getField("doc_id").as("id_b"),
            (x.getField("tfidf") * y.getField("tfidf")).as("prod")))))).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(sum(col("p.prod")).as("dot"))
    pairs
      .join(norms.select(col("doc_id").as("id_a"), col("nrm").as("na")), "id_a")
      .join(norms.select(col("doc_id").as("id_b"), col("nrm").as("nb")), "id_b")
      .withColumn("sim", col("dot") / (col("na") * col("nb")))
      .filter(col("sim") >= minSim)
      .select("id_a", "id_b", "sim")
  }

  /** Unigram language-model surprisal per document — the CCNet-style LM
    * quality filter: estimate a unigram MLE model FROM the corpus itself
    * (p(tok) = corpus count / total tokens), score each document by its
    * mean negative log-probability in nats. High surprisal = tokens rare
    * under the corpus distribution = boilerplate-free outlier or noise;
    * low = generic text. Dataflow is the tfidf shape: one checkpointed
    * (doc, token) count relation feeds both the model estimation (groupBy
    * token) and the scoring join — single execution, term-keyed shuffle,
    * corpus-total as a broadcast 1-row aggregate.
    */
  def unigramSurprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = tokenRows(docs, idCol, textCol)
      .groupBy("__id", "tok")
      .agg(count(lit(1)).as("cnt"), max(col("dlen")).as("dlen"))
      .transform(Stage.snapshotDF)
    val model = tf.groupBy("tok").agg(sum("cnt").as("gcnt"))
    val total = tf.agg(sum("cnt").as("gtotal"))
    tf.join(model, "tok")
      .crossJoin(broadcast(total))
      .groupBy(col("__id").as("doc_id"))
      .agg((-sum(col("cnt") *
          log(col("gcnt").cast("double") / col("gtotal").cast("double"))) /
        max(col("dlen"))).as("surprisal"))
  }

  /** Per-document repetition ratio — 1 − |distinct n-grams| / |n-grams| —
    * the cheap duplicated-phrase quality signal. Pure per-row expression:
    * no explode, no shuffle.
    */
  def repetitionRatio(textCol: Column, k: Int = 2): Column = {
    val grams = TextFunctions.ngrams(textCol, k)
    when(size(grams) === 0, lit(0.0)).otherwise(
      lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams).cast("double"))
  }

  /** Token-distribution entropy per document, in nats, via the
    * shuffle-friendly identity H = ln(L) − (Σ c·ln c)/L over token counts c.
    * One explode + one (doc, token) aggregate + one per-doc aggregate.
    */
  def tokenEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    tokenRows(docs, idCol, textCol)
      .groupBy("__id", "tok").agg(count(lit(1)).as("cnt"))
      .groupBy(col("__id").as("doc_id"))
      .agg((log(sum("cnt")) -
        sum(col("cnt").cast("double") * log(col("cnt"))) / sum("cnt")).as("entropy"))

  /** PII-style redaction: replace every match of `pattern` with `token`,
    * reporting the redacted text and the per-row match count. Regex runs
    * once per row inside codegen; the pattern must stay in the RE2 ∩ Java
    * regex dialect so the DuckDB oracle matches (no lookaround).
    */
  def redact(textCol: Column, pattern: String, token: String): (Column, Column) =
    (regexp_replace(textCol, pattern, token),
      size(regexp_extract_all(textCol, lit(pattern), lit(0))).cast("long"))

  /** Benchmark-contamination check: which corpus documents share at least one
    * word `k`-gram with a benchmark/eval set. The benchmark n-gram set is
    * DISTINCT + broadcast (eval suites are tiny next to a 100 TB corpus), so
    * the corpus side streams map-side through a broadcast semi-join — no
    * corpus shuffle at all before the per-doc count.
    */
  def contamination(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, k: Int): DataFrame = {
    def grams(df: DataFrame) = Dedup.spread(df)
      .select(col(idCol).as("__id"), TextFunctions.shingles(col(textCol), k).as("g"))
      .select(col("__id"), explode_outer(col("g")).as("gram"))
      .filter(col("gram").isNotNull)
    val bench = broadcast(grams(benchmark).select("gram").distinct())
    grams(corpus).join(bench, "gram")
      .groupBy(col("__id").as("doc_id"))
      .agg(countDistinct(col("gram")).as("n_shared_grams"))
  }

  /** Deterministic 1-in-`rate` stratified sample per `strataCol`: keep rows
    * whose per-stratum rank (ordered by `idCol`) ≡ 1 (mod rate). Reproducible
    * under retries (rank, not RNG) — at 100 TB the rank window shuffles once
    * on the stratum key, the same partitioning the downstream per-stratum
    * aggregate reuses.
    */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String, rate: Int): DataFrame = {
    // rate = 0 would make `% 0` NULL under non-ANSI semantics and the
    // filter would silently drop EVERY row — a computed rate that rounds
    // to zero must fail loudly, not hand back an empty eval set
    require(rate >= 1, s"need rate >= 1, got $rate")
    df.withColumn("__rn",
        row_number().over(Window.partitionBy(col(strataCol)).orderBy(col(idCol))))
      .filter((col("__rn") - 1) % rate === 0)
      .drop("__rn")
  }

  /** Context-window sequence packing: assign documents, in `idCol` order
    * within each `partCol` shard, to fixed token-budget bins by cumulative
    * token count (bin = ⌊cumsum_before / budget⌋ — documents overflow into
    * the next bin rather than splitting). Windowed per shard: the 100 TB
    * shape packs each source/shard independently instead of one global
    * ordered window.
    */
  def packSequences(docs: DataFrame, partCol: String, idCol: String,
                    textCol: String, budget: Int): DataFrame = {
    val w = Window.partitionBy(col(partCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    // null-text docs occupy 0 tokens, not size()'s -1 sentinel — an
    // unguarded -1 would DECREASE the running cumsum and shift every
    // later doc's bin in the shard (the pmiCollocations guard)
    val tk = TextFunctions.tokens(col(textCol))
    docs
      .withColumn("__ntok",
        when(tk.isNotNull, size(tk)).otherwise(0).cast("long"))
      .withColumn("__before", coalesce(sum(col("__ntok")).over(w), lit(0L)))
      .withColumn("bin", (col("__before") / budget).cast("long"))
  }

  /** Overlapping token-window chunking — the pre-tokenizer step that turns
    * long documents into training sequences: chunk i covers tokens
    * [i·stride, i·stride + window); the final chunk may be short; a
    * document with ≤ window tokens yields exactly one chunk. The complement
    * of [[packSequences]] (packing joins SHORT docs, chunking splits LONG
    * ones).
    *
    * Pure map-side: tokenize → per-row chunk-count arithmetic →
    * explode(sequence) → slice. No shuffle, no window function, no state —
    * the operator cost is linear in corpus size and the 100 TB plan is scan
    * parallelism alone. Chunk count = 1 + ⌈(n − window)/stride⌉ clamped to
    * ≥ 1 (`greatest` absorbs the negative integer-division asymmetry
    * between engines for n < window).
    */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
                  window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val lastIdx = greatest(lit(0L),
      floor((size(col("tk")).cast("long") - window + stride - 1) / stride).cast("long"))
    docs
      .select(col(idCol).as("doc_id"), TextFunctions.tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) > 0)
      // explode_outer: sequence(0, lastIdx>=0) is never empty, so the outer
      // form changes nothing — but plain explode would trigger
      // InferFiltersFromGenerate, duplicating the tokenize pipeline into a
      // pre-Generate size() filter (see Dedup.shingleIndex)
      .select(col("doc_id"), col("tk"),
        explode_outer(sequence(lit(0L), lastIdx)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        slice(col("tk"), (col("chunk_id") * stride + 1).cast("int"), lit(window)).as("ctk"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("ctk")).cast("long").as("n_tokens"),
        array_join(col("ctk"), " ").as("chunk_text"))
  }

  /** CCNet-style quality buckets (head/middle/tail per language by LM
    * surprisal): EXACT rank-based form — `ntile(n)` over a per-partition
    * window ordered by the ROUNDED score + id (rounding far above ulp
    * noise makes the order, and therefore every bucket boundary,
    * bit-deterministic cross-engine). This is the oracle-checkable form;
    * its window partitions by `partCol`, so at 100 TB a single hot
    * language funnels through one reducer — production uses
    * [[approxQuantileBuckets]], which replaces the window with broadcast
    * breakpoints (same dataflow shape as the IVF assignment).
    */
  def rankBuckets(df: DataFrame, partCol: String, scoreCol: String,
                  idCol: String, n: Int): DataFrame =
    df.withColumn("bucket", ntile(n).over(
      Window.partitionBy(col(partCol))
        .orderBy(round(col(scoreCol), 4), col(idCol))))

  /** The 100 TB form of [[rankBuckets]]: per-partition approximate quantile
    * breakpoints (one hash aggregation to |partitions| rows) broadcast back,
    * bucket assignment map-side — no per-partition window, no hot-reducer
    * funnel, at the cost of boundary placement accuracy `accuracy`
    * (CCNet's head/middle/tail tolerates approximate terciles; an exact
    * boundary is meaningless on a sampled score anyway). Spec-tested
    * against [[rankBuckets]] for distribution agreement; not
    * oracle-checkable (quantile sketches are implementation-defined).
    *
    * Semantics caveats vs the rank form, inherent to VALUE-based
    * assignment: (a) score ties all land in one bucket (ntile splits them
    * ~evenly), so a distribution where one value holds > 1/n of a
    * partition produces unequal buckets — and that is the honest answer,
    * "the head tercile" is ill-defined when a third of the corpus is one
    * value; (b) a null partition key gets its own breakpoints via the
    * null-safe join below, same as the window's null partition.
    */
  def approxQuantileBuckets(df: DataFrame, partCol: String, scoreCol: String,
                            n: Int, accuracy: Int = 10000): DataFrame = {
    require(n >= 2, s"need n >= 2 buckets, got $n")
    val probs = array((1 until n).map(i => lit(i.toDouble / n)): _*)
    val breaks = df.groupBy(partCol)
      .agg(percentile_approx(col(scoreCol), probs, lit(accuracy)).as("__breaks"))
      .withColumnRenamed(partCol, "__part")
    df.join(broadcast(breaks), col(partCol) <=> col("__part"))
      .withColumn("bucket",
        (aggregate(col("__breaks"), lit(1),
          (acc, b) => acc + when(col(scoreCol) > b, 1).otherwise(0))))
      .drop("__breaks", "__part")
  }

  /** Deterministic global shuffle for training-data ordering: every row is
    * assigned to a shard by a content-stable hash of its id and a position
    * within the shard by (hash, id) order. The property a training run
    * needs — a reproducible pseudo-random permutation of the corpus — with
    * the plan a 100 TB corpus needs: ONE hash-partitioned exchange and a
    * per-shard sort (each shard is a window partition sized like an output
    * file; `nShards` scales with the corpus), never a single global
    * `orderBy(rand())` sort, and no RNG — retried tasks reproduce the
    * identical permutation. polyHash (not xxhash64) keeps the permutation
    * SQL-expressible, hence oracle-checkable.
    */
  def shardShuffle(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards > 0, s"need nShards > 0, got $nShards")
    val h = graft.functions.StringFunctions.polyHash(col(idCol).cast("string"))
    df.withColumn("__h", h)
      .withColumn("shard", col("__h") % nShards)
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("__h"), col(idCol))))
      .drop("__h")
  }

  /** Cross-document duplicated-SPAN detection (the ExactSubstr signal of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better"): a document's k-token window is duplicated when the same
    * window text occurs in at least one OTHER document; each document
    * reports its window count, duplicated-window count/ratio, and the
    * LONGEST CONSECUTIVE duplicated run (a run of r windows ≡ a duplicated
    * span of r+k−1 tokens — the paper's span-cut threshold maps to a run
    * threshold here). Differs from [[boilerplateCoverage]] in both
    * numerator and denominator: positional windows (every occurrence, not
    * the distinct gram set) and ANY cross-doc repetition (df ≥ 2 docs, not
    * a df fraction), so a verbatim two-document plagiarism pair lights up
    * here but not there.
    *
    * Dataflow at 100 TB: windows are map-side per doc (no kernel dedup —
    * positions matter); the duplicated-gram set is one (gram, doc)
    * distinct + gram count ≥ 2 (linear, gram-keyed shuffle); flagging is a
    * join back on the gram; the run length is a gaps-and-islands window
    * per document ordered by position — bounded by document length, never
    * corpus-sized. NO pairwise stage anywhere, so unlike the Jaccard/LSH
    * family this needs no bucket or posting cap: a window shared by a
    * million documents costs one counter, not 10¹² pairs.
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      k: Int): DataFrame = {
    val flagged = flaggedWindows(docs, idCol, textCol, k)
    // gaps-and-islands per doc: consecutive duplicated positions share
    // (pos − rank-among-dup-rows); window bounded by doc length
    val runW = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = flagged.filter(col("is_dup"))
      .withColumn("__grp", col("pos") - row_number().over(runW))
      .groupBy("doc_id", "__grp").agg(count(lit(1)).as("run"))
      .groupBy("doc_id").agg(max("run").as("longest_run"))
    flagged.groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
           sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"))
      .join(runs, Seq("doc_id"), "left")
      .withColumn("longest_run", coalesce(col("longest_run"), lit(0L)))
      .withColumn("dup_ratio", round(col("n_dup") / col("n_windows"), 4))
  }

  /** Shared stage of [[duplicatedSpans]] (census) and
    * [[removeDuplicatedSpans]] (rewrite): positional k-token windows per
    * document, each flagged `is_dup` when its text occurs in ≥ 2 distinct
    * documents. Snapshotted internally (the window relation feeds both the
    * dup-gram set and the flag join).
    */
  private def flaggedWindows(docs: DataFrame, idCol: String, textCol: String,
                             k: Int): DataFrame = {
    val w = positionalWindows(docs, idCol, textCol, k)
      .transform(Stage.snapshotDF) // feeds the dup-gram set AND the flag join
    val dupGrams = w.select("gram", "doc_id").distinct()
      .groupBy("gram").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select("gram")
    w.join(dupGrams.withColumn("__d", lit(true)), Seq("gram"), "left")
      .withColumn("is_dup", coalesce(col("__d"), lit(false)))
  }

  /** Positional k-token windows per document: (`doc_id`, `pos`, `gram`) —
    * the shared first stage of every span operator. sequence() DESCENDS
    * when start > stop, so short docs must short-circuit to an empty
    * array, not sequence(0, <0).
    */
  private def positionalWindows(docs: DataFrame, idCol: String,
                                textCol: String, k: Int): DataFrame = {
    val tk = TextFunctions.tokens(col(textCol))
    val windows = when(size(tk) >= k,
      transform(sequence(lit(0), size(tk) - k),
        i => struct(i.as("pos"), array_join(slice(tk, i + lit(1), lit(k)), " ").as("gram"))))
      .otherwise(array())
    Dedup.spread(docs)
      .select(col(idCol).as("doc_id"), explode_outer(windows).as("w"))
      .filter(col("w").isNotNull)
      .select(col("doc_id"), col("w.pos").as("pos"), col("w.gram").as("gram"))
  }

  /** Cross-document duplicated-span REMOVAL — the rewrite step of
    * ExactSubstr deduplication (Lee et al. 2022 §4.2: cut every substring
    * shared verbatim with another document, keep the rest of the text):
    * [[duplicatedSpans]] censuses the damage, this operator repairs it.
    * A maximal run of `run` consecutive duplicated windows covers tokens
    * `[start, start + run + k − 2]`; every run with `run ≥ minRun` (span
    * length ≥ minRun + k − 1 tokens — the paper's span threshold mapped to
    * a run threshold) is cut from the document. Output per doc:
    * `clean_text` (surviving tokens joined by single spaces — whitespace-
    * normalized, like every tokenized rewrite), `n_tokens`, `n_removed`.
    * ALL occurrences of a duplicated span are cut, in every document that
    * carries it (the paper's choice; survivorship belongs to the Jaccard/
    * containment admission family, not the span cutter).
    *
    * Dataflow at 100 TB: the census stages are [[duplicatedSpans]]'
    * (linear, gram-keyed, no pairwise stage); the rewrite adds one
    * doc-keyed aggregation of qualifying runs into an interval array
    * (bounded by doc length) and one broadcast-friendly doc-keyed join
    * back to the corpus; the cut itself is a codegen higher-order filter
    * (token index ∉ any interval) — per-row cost O(tokens × intervals),
    * both bounded by document length. The reference's K5 sink shows
    * rewrite-on-sink is in-contract
    * (`/root/reference/ingester/annotations_indexer.py:148-165`).
    */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                            k: Int, minRun: Int = 1): DataFrame = {
    require(minRun >= 1, s"need minRun >= 1, got $minRun")
    cutFlaggedRuns(docs, idCol, textCol, k, minRun,
      flaggedWindows(docs, idCol, textCol, k).filter(col("is_dup")))
  }

  /** WITHIN-document repeated-span removal — the self-repeat complement of
    * [[removeDuplicatedSpans]] (Gopher's repetition REMOVAL posture where
    * q121/q59 only detect): a window position is repeated when its k-token
    * text occurs earlier in the SAME document; maximal runs of ≥ `minRun`
    * repeated positions are cut, so of each repeated phrase the FIRST
    * occurrence survives and later copies go — cutting every occurrence
    * (the cross-doc rule) would destroy content that exists nowhere else.
    * A looping generation artifact "a b a b a b" at k=2 keeps exactly one
    * "a b". Cross-doc sharing is deliberately ignored here; compose with
    * [[removeDuplicatedSpans]] for the full ExactSubstr treatment.
    *
    * Dataflow: one positional-window pass, a (doc, gram)-keyed min-pos
    * window (partition sized by within-doc occurrence count — never
    * corpus- or gram-global, so a corpus-wide hot gram costs nothing
    * here), then the shared run-cut tail. Fully doc-keyed after the
    * window pass.
    */
  def removeSelfRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                              k: Int, minRun: Int = 1): DataFrame = {
    require(minRun >= 1, s"need minRun >= 1, got $minRun")
    val firstW = Window.partitionBy(col("doc_id"), col("gram"))
    val repeated = positionalWindows(docs, idCol, textCol, k)
      .withColumn("__minp", min("pos").over(firstW))
      .filter(col("pos") > col("__minp"))
    cutFlaggedRuns(docs, idCol, textCol, k, minRun, repeated)
  }

  /** Shared rewrite tail of the span cutters: flagged window positions →
    * maximal runs (gaps-and-islands per doc) → qualifying runs (≥ minRun)
    * as an interval array per doc → token-index filter + rejoin. `flagged`
    * needs (`doc_id`, `pos`) rows for exactly the positions to cut.
    */
  private def cutFlaggedRuns(docs: DataFrame, idCol: String, textCol: String,
                             k: Int, minRun: Int, flagged: DataFrame): DataFrame = {
    val runW = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val intervals = flagged
      .withColumn("__grp", col("pos") - row_number().over(runW))
      .groupBy("doc_id", "__grp")
      .agg(min("pos").as("s"), count(lit(1)).as("run"))
      .filter(col("run") >= minRun)
      .withColumn("e", col("s") + col("run") + lit(k - 2))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("s").cast("long").as("s"), col("e").as("e"))).as("iv"))
    docs
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .join(intervals, Seq("doc_id"), "left")
      .withColumn("__tk", TextFunctions.tokens(col("__text")))
      .withColumn("__kept",
        when(col("iv").isNull, col("__tk"))
          .otherwise(filter(col("__tk"), (t, i) =>
            !exists(col("iv"), v =>
              i.cast("long") >= v.getField("s") && i.cast("long") <= v.getField("e")))))
      .select(col("doc_id"),
        array_join(col("__kept"), " ").as("clean_text"),
        size(col("__tk")).cast("long").as("n_tokens"),
        (size(col("__tk")) - size(col("__kept"))).cast("long").as("n_removed"))
  }

  /** Exact corpus heavy hitters via a Misra–Gries sketch + recount — the
    * bounded-memory form of "which tokens exceed share `minShare`":
    *
    *   1. ONE pass folds the token stream into a ≤ `k`-counter MG summary
    *      ([[graft.functions.MgHeavyHitters]], map-side partial
    *      aggregation — k counters per partition cross the wire, never a
    *      corpus-wide token shuffle like q102's vocabulary build);
    *   2. the ≤ k candidates broadcast back for an exact recount (the
    *      second corpus pass groups on a ≤ k-key set — a tiny shuffle);
    *   3. the threshold filter keeps true count ≥ ⌈N·minShare⌉.
    *
    * `minShare > 1/(k+1)` is REQUIRED: the MG guarantee (any item with
    * true frequency > N/(k+1) survives the sketch) then makes the final
    * set exact and deterministic regardless of partitioning or merge
    * order, even though the sketch's own counts are merge-order-dependent
    * lower bounds — which is why the recount exists and why the oracle
    * can be the plain frequency SQL. Corpus touched exactly twice (the
    * [[bpeEncode]] convention); the 1-row sketch relation is snapshotted
    * because candidates AND the total-count scalar read it.
    */
  def heavyHitters(docs: DataFrame, textCol: String,
                   k: Int, minShare: Double): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    require(minShare > 1.0 / (k + 1),
      s"minShare must exceed 1/(k+1) = ${1.0 / (k + 1)} for the MG guarantee, got $minShare")
    def toks = Dedup.spread(docs)
      .select(explode_outer(TextFunctions.tokens(col(textCol))).as("token"))
      .filter(col("token").isNotNull)
    val sketch = toks.agg(
        graft.functions.HeavyHitterFunctions.mgHeavyHitters(col("token"), k).as("cand"),
        count(lit(1)).as("__n"))
      .transform(Stage.snapshotDF)
    val cands = sketch.select(explode(col("cand")).as("c"))
      .select(col("c.item").as("token"))
    toks.join(broadcast(cands), Seq("token"), "left_semi")
      .groupBy("token").agg(count(lit(1)).as("n_occurrences"))
      .crossJoin(broadcast(sketch.select(col("__n"))))
      // keep-more slack: N·minShare in double can land just above the true
      // rational; erring low keeps the boundary token (oracle identical)
      .filter(col("n_occurrences") >=
        ceil(col("__n") * minShare - 1e-9).cast("long"))
      .select(col("token"), col("n_occurrences"),
        round(col("n_occurrences").cast("double") / col("__n"), 4).as("share"))
      .orderBy(col("n_occurrences").desc, col("token"))
  }

  /** Boilerplate detection by corpus-wide n-gram document frequency (the
    * repeated-template signal CCNet removes at paragraph level): a word
    * `k`-gram is boilerplate when it appears in more than `maxDfFraction`
    * of all documents; each document reports how much of its distinct-gram
    * mass those templates cover. Two hash aggregations (per-doc distinct
    * grams → per-gram df) + one join back on the gram — the inverted-index
    * shuffle shape, linear in corpus size. The df side aggregates to
    * |vocabulary| rows and the post-filter boilerplate set is smaller
    * still, so AQE turns the join back into a broadcast at runtime; unlike
    * [[contamination]] the filter set is derived from the corpus itself,
    * not an external benchmark.
    */
  def boilerplateCoverage(docs: DataFrame, idCol: String, textCol: String,
                          k: Int, maxDfFraction: Double): DataFrame = {
    // shingles already returns the DISTINCT gram set per doc (WordNgrams
    // kernel dedups); zero-token docs yield an empty array → dropped by
    // the null filter, and the oracle mirrors that with len(tk) >= 1
    val grams = Dedup.spread(docs)
      .select(col(idCol).as("doc_id"),
        TextFunctions.shingles(col(textCol), k).as("g"))
      .select(col("doc_id"), explode_outer(col("g")).as("gram"))
      .filter(col("gram").isNotNull)
      .transform(Stage.snapshotDF) // feeds the df count AND the join back
    val nDocs = docs.agg(count(lit(1)).as("__n"))
    val boiler = grams.groupBy("gram").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") > col("__n") * maxDfFraction)
      .select("gram")
    grams
      .join(boiler.withColumn("__b", lit(true)), Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
           sum(when(col("__b"), 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_ratio",
        round(col("n_boiler") / col("n_grams"), 4))
  }

  /** BPE pair statistics — the aggregation at the heart of byte-pair-
    * encoding tokenizer TRAINING (Sennrich et al., ACL 2016): over the
    * word-frequency table, count every adjacent character pair weighted by
    * its word's corpus frequency; the top pair is the next merge. One
    * iteration's worth, as a relational query (iterating = re-running with
    * merged symbols — each pass is this same shape).
    *
    * Scale shape is the one real BPE trainers use: the corpus-sized work
    * is a single tokenize → word-count shuffle; everything after runs on
    * the |vocabulary| word table (pair explode ≈ Σ word lengths over the
    * VOCAB, not the corpus), and the top-N is TakeOrderedAndProject. At
    * 100 TB the word table is millions of rows regardless of corpus size.
    *
    * Pairs are character-position substrings (no regex), each OCCURRENCE
    * counted ("aaa" holds "aa" twice), ties broken lexicographically.
    */
  def bpePairStats(docs: DataFrame, textCol: String, topN: Int): DataFrame = {
    val words = docs
      .select(explode_outer(TextFunctions.tokens(col(textCol))).as("word"))
      .filter(col("word").isNotNull)
      .groupBy("word").agg(count(lit(1)).as("wc"))
    words
      .filter(length(col("word")) >= 2)
      .select(
        explode_outer(transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"),
        col("wc"))
      .filter(col("pair").isNotNull)
      .groupBy("pair").agg(sum("wc").as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(topN)
  }

  /** BPE merge curve — the tokenizer-training LOOP that [[bpePairStats]] is
    * one step of: starting from character symbols over the word-frequency
    * table, repeatedly pick the most frequent adjacent symbol pair and
    * merge every occurrence, reporting per round the chosen pair, its
    * weighted count at pick time, and the corpus token total after the
    * merge — the compression curve a tokenizer build watches to choose its
    * vocab size.
    *
    * Scale shape: corpus-sized work is ONE tokenize → word-count shuffle;
    * every round after operates on the vocabulary-sized symbol table
    * (word-partitioned windows bounded by word length, snapshotted per
    * round so lineage stays flat). The picked pair and the post-merge
    * token total are 1-row driver reads per round (the bounded
    * orchestration pattern of [[Dedup.jaccardDropsGuarded]]'s estimate);
    * the merge APPLICATION stays distributed.
    *
    * Merge semantics: all occurrences of the pair merge simultaneously.
    * For x ≠ y occurrences can never overlap (overlap at positions i, i+1
    * forces sym[i+1] = y = x), so the set-wise merge is exactly BPE's
    * left-to-right pass; self-pairs (x = y) WOULD need sequential
    * tie-breaking, so they are excluded from the pick by policy — on both
    * engines, keeping the whole loop relational and oracle-checkable.
    * Ties break on (count desc, x asc, y asc).
    */
  def bpeMergeCurve(docs: DataFrame, textCol: String, merges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeLearn(docs, textCol, merges)._2
      .toDF("merge_rank", "pair", "n_occurrences", "tokens_after")
  }

  /** The shared BPE training loop behind [[bpeMergeCurve]] (the curve) and
    * [[bpeEncode]] (applying the learned vocabulary): `merges` rounds of
    * pick-top-pair → merge-everywhere over the character-symbol expansion
    * of the word-frequency table. Returns the final symbol table
    * `(word, wc, pos, sym)` and the per-round curve
    * `(rank, pair, n_occurrences, tokens_after)`.
    */
  private[graft] def bpeLearn(
      docs: DataFrame,
      textCol: String,
      merges: Int): (DataFrame, Seq[(Int, String, Long, Long)]) = {
    require(merges >= 1 && merges <= 8, s"need 1 <= merges <= 8, got $merges")
    val w = Window.partitionBy("word").orderBy("pos")
    var rows = docs
      .select(explode_outer(TextFunctions.tokens(col(textCol))).as("word"))
      .filter(col("word").isNotNull)
      .groupBy("word").agg(count(lit(1)).as("wc"))
      .select(col("word"), col("wc"),
        posexplode_outer(transform(sequence(lit(1), length(col("word"))),
          i => col("word").substr(i, lit(1)))).as(Seq("pos0", "sym")))
      .filter(col("sym").isNotNull)
      .select(col("word"), col("wc"), (col("pos0") + 1).cast("long").as("pos"), col("sym"))
      .transform(Stage.snapshotDF)
    val curve = Seq.newBuilder[(Int, String, Long, Long)]
    var r = 1
    var exhausted = false
    while (r <= merges && !exhausted) {
      val top = rows
        .withColumn("nxt", lead("sym", 1).over(w))
        .filter(col("nxt").isNotNull && col("sym") =!= col("nxt"))
        .groupBy("sym", "nxt").agg(sum("wc").as("n"))
        .orderBy(col("n").desc, col("sym").asc, col("nxt").asc)
        .limit(1).collect().headOption
      top match {
        case None =>
          // vocabulary exhausted before `merges` rounds (every word is one
          // symbol, or only x=x adjacencies remain): the learned table is
          // simply shorter — a hard head() here crashed on 1-char-word
          // corpora instead of returning the complete merge table
          exhausted = true
        case Some(t) =>
          val (x, y, n) = (t.getString(0), t.getString(1), t.getLong(2))
          // tokens-after rides the snapshot's materializing job as an
          // observe metric instead of a separate agg().head() action —
          // one job per merge round, not two (same fold as the r18
          // connectedComponents loop). ONLY under the single-execution
          // local barrier: `checkpoint(eager=true)` (reliable mode)
          // executes the lineage twice — materialize + checkpoint write —
          // which DOUBLES the CollectMetrics accumulator and would
          // silently corrupt the merge curve (ADVICE r18); there the
          // value is read back from the checkpointed table instead (one
          // cheap checkpoint-scan job — durability already paid more).
          val applied = bpeApply(rows, x, y)
          val singleExec =
            rows.sparkSession.conf.get(Stage.ModeConf, "local") == "local"
          val tokensAfter =
            if (singleExec) {
              val obsName = s"graft.bpeTokens.$r.${Dedup.obsId()}"
              val obs = applied.observe(obsName, sum("wc").as("tokens_after"))
              rows = obs.transform(Stage.snapshotDF)
              val row = obs.queryExecution.observedMetrics
                .getOrElse(obsName, throw new IllegalStateException(
                  s"$obsName missing after snapshot"))
              // boxed read + explicit null check (ADVICE r18): the table is
              // non-empty here (a top pair was just picked), so a null sum
              // means the metric did not fill — fail loudly, never a
              // silent 0 curve point
              Option(row.getAs[java.lang.Long]("tokens_after"))
                .map(_.longValue())
                .getOrElse(throw new IllegalStateException(
                  s"$obsName: null tokens_after on a non-empty symbol table"))
            } else {
              rows = applied.transform(Stage.snapshotDF)
              rows.agg(sum("wc").as("tokens_after")).head().getLong(0)
            }
          curve += ((r, s"$x+$y", n, tokensAfter))
          r += 1
      }
    }
    (rows, curve.result())
  }

  /** One merge rule applied everywhere over a (word, wc, pos, sym) symbol
    * table — the apply step [[bpeLearn]] iterates. The top-pair pick
    * excludes x = y, so marked occurrences can never overlap (m at i and
    * i+1 would force x = y); the lag-guard therefore drops exactly the
    * second element of each merged pair. IDEMPOTENT on its own output:
    * the pass merges EVERY (x, y) adjacency (no marked position escapes),
    * so re-applying the same rule — or the whole learned merge table, in
    * order — to the final symbol table is a no-op (AuditOpsSpec pins it).
    */
  private[graft] def bpeApply(rows: DataFrame, x: String, y: String): DataFrame = {
    val w = Window.partitionBy("word").orderBy("pos")
    rows
      .withColumn("nxt", lead("sym", 1).over(w))
      .withColumn("m", col("sym") === lit(x) && col("nxt") === lit(y))
      .withColumn("pm", lag(col("m"), 1, false).over(w))
      .filter(!col("pm"))
      .select(col("word"), col("wc"),
        row_number().over(w).cast("long").as("pos"),
        when(col("m"), lit(x + y)).otherwise(col("sym")).as("sym"))
  }

  /** BPE encoding under the learned vocabulary — the APPLY half of the
    * tokenizer loop [[bpeMergeCurve]] trains: run `merges` rounds of
    * pick-and-merge, then tokenize the corpus with the resulting symbol
    * table and report the per-document token counts and compression the
    * new tokenizer achieves (Sennrich et al. 2016's encode step; the
    * number a vocab build actually ships on).
    *
    * Scale shape: the corpus is touched exactly TWICE, both times by one
    * tokenize → hash-aggregate — once inside [[bpeLearn]] for the word
    * frequencies, once here for the per-(doc, word) counts. Everything
    * between runs on the vocabulary-sized symbol table, and per-word token
    * counts re-attach via a word-keyed equi-join (vocab-sized build side —
    * AQE broadcasts it at any realistic vocabulary), so no row of text is
    * ever re-segmented per document: a word is encoded once, corpus-wide.
    */
  def bpeEncode(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Int,
      topN: Int): DataFrame = {
    val (symbols, _) = bpeLearn(docs, textCol, merges)
    // pos was re-row_numbered after every merge, so max(pos) = token count
    val wordTokens = symbols.groupBy("word").agg(max("pos").as("__wtok"))
    val perDocWords = docs
      .select(col(idCol).as("doc_id"),
        explode_outer(TextFunctions.tokens(col(textCol))).as("word"))
      .filter(col("word").isNotNull)
      .groupBy("doc_id", "word").agg(count(lit(1)).as("__c"))
    perDocWords.join(wordTokens, "word")
      .groupBy("doc_id")
      .agg(sum("__c").as("n_words"),
           sum(col("__c") * length(col("word"))).as("char_tokens"),
           sum(col("__c") * col("__wtok")).as("bpe_tokens"))
      .withColumn("compression",
        round(col("char_tokens").cast("double") / col("bpe_tokens"), 4))
      .orderBy(col("bpe_tokens").desc, col("doc_id").asc)
      .limit(topN)
  }

  /** Per-source TRUE-BPE token census under the learned vocabulary — the
    * census a token-budget allocation (q119) should run on once a real
    * tokenizer exists: whitespace word counts weight a source by how many
    * words it has, but the training cost it is buying is BPE tokens, and
    * long-word / agglutinative sources cost materially more tokens per
    * word. Same two-touch scale shape as [[bpeEncode]]: one tokenize →
    * word-frequency aggregate inside [[bpeLearn]], one tokenize →
    * (source, word) aggregate here; each word is encoded once corpus-wide
    * and its token count re-attaches via the vocab-sized word join.
    */
  def bpeTokensBySource(
      docs: DataFrame,
      sourceCol: String,
      textCol: String,
      merges: Int): DataFrame = {
    val (symbols, _) = bpeLearn(docs, textCol, merges)
    val wordTokens = symbols.groupBy("word").agg(max("pos").as("__wtok"))
    docs
      .select(col(sourceCol).as("source"),
        explode_outer(TextFunctions.tokens(col(textCol))).as("word"))
      .filter(col("word").isNotNull)
      .groupBy("source", "word").agg(count(lit(1)).as("__c"))
      .join(wordTokens, "word")
      .groupBy("source")
      .agg(sum(col("__c") * col("__wtok")).as("n_tokens"))
  }

  /** UniMax language/source-balanced budget allocation (Chung et al., ICLR
    * 2023): spread a total training-token budget as uniformly as possible
    * across sources, capping every source at `epochCap` epochs of its
    * available tokens — the sampling policy that avoids both head-language
    * domination (proportional) and tail-language over-epoching (uniform).
    *
    * The paper's per-round redistribution loop has a closed form: sort
    * sources by their epoch cap ascending; a source is capped iff its cap
    * fits under the water level implied by the budget left after every
    * smaller cap is granted — `cap_i · (L − i + 1) ≤ B − Σ_{j<i} cap_j`,
    * which is downward-closed in i (c_i ≤ c_{i+1} makes the predicate
    * monotone), so ONE cumulative-sum window over the |sources|-row rollup
    * replaces the iteration entirely. All comparisons are exact long
    * arithmetic; the only double is the final water level
    * `(B − Σ_capped) / (L − k)`, one IEEE division both engines compute
    * identically. At 100 TB the corpus-sized work is the one tokenize →
    * per-source rollup; the waterfilling itself touches |sources| rows.
    */
  def unimaxAllocation(
      docs: DataFrame,
      sourceCol: String,
      textCol: String,
      budget: Long,
      epochCap: Int): DataFrame = {
    require(budget > 0 && epochCap >= 1, s"need budget > 0, epochCap >= 1")
    val per = docs
      .filter(col(textCol).isNotNull) // size(tokens(NULL)) = -1, not 0
      .select(col(sourceCol).as("source"),
        size(TextFunctions.tokens(col(textCol))).as("__ntok"))
      .groupBy("source").agg(sum("__ntok").cast("long").as("n_tokens"))
      .withColumn("cap_tokens", col("n_tokens") * epochCap)
      .transform(Stage.snapshotDF) // feeds the count scalar AND the window
    val order = Seq(col("cap_tokens").asc, col("source").asc)
    val cum = Window.orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nSources = per.agg(count(lit(1)).as("__L"))
    val ranked = per.crossJoin(broadcast(nSources))
      .withColumn("__i", row_number().over(Window.orderBy(order: _*)).cast("long"))
      .withColumn("__cum", sum("cap_tokens").over(cum))
      .withColumn("capped",
        col("cap_tokens") * (col("__L") - col("__i") + 1L) <=
          lit(budget) - (col("__cum") - col("cap_tokens")))
      .transform(Stage.snapshotDF) // feeds the k/Σ scalars AND the output
    val waterline = ranked.agg(
      sum(when(col("capped"), 1L).otherwise(0L)).as("__k"),
      sum(when(col("capped"), col("cap_tokens")).otherwise(0L)).as("__ck"))
    ranked.crossJoin(broadcast(waterline))
      .withColumn("__level",
        (lit(budget) - col("__ck")).cast("double") /
          (col("__L") - col("__k")).cast("double"))
      .withColumn("alloc_tokens",
        when(col("capped"), col("cap_tokens"))
          .otherwise(round(col("__level")).cast("long")))
      .select(col("source"), col("n_tokens"), col("cap_tokens"), col("capped"),
        col("alloc_tokens"),
        round(col("alloc_tokens").cast("double") / col("n_tokens"), 4).as("epochs"))
      .orderBy("source")
  }

  /** DSIR importance weights (Xie et al., "Data Selection for Language
    * Models via Importance Resampling", NeurIPS 2023): score every raw
    * document by how target-like its hashed n-gram profile is —
    * `w(d) = Σ_b c_d[b] · ln(p̂_target[b] / p̂_raw[b])` over `numBuckets`
    * hashed unigram+bigram feature buckets with Laplace smoothing. The
    * high-w docs are what importance resampling keeps when curating a
    * pretraining mix toward a target domain.
    *
    * Scale shape: corpus-sized work is one tokenize→explode→(doc, bucket)
    * count; the bucket model aggregates to `numBuckets` rows and the
    * totals to one — both broadcast back, so scoring is map-side. The
    * (doc, bucket) relation feeds the model AND the scoring join, so it is
    * snapshotted once (the tfidf double-execution rule).
    *
    * Determinism contract with the oracle: bucket = `polyHash(gram) %
    * numBuckets` (the cross-engine hash), and the log-ratio is ONE `ln` of
    * a ratio of exact integer products (< 2⁵³, so the double division is
    * exact-operand on both engines); the per-doc sum is rounded to 4.
    */
  def dsirWeights(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      targetPred: Column,
      numBuckets: Int,
      topN: Int): DataFrame = {
    val bL = lit(numBuckets.toLong)
    val base = docs.select(col(idCol).as("doc_id"), targetPred.as("is_target"),
      TextFunctions.tokens(col(textCol)).as("tk"),
      TextFunctions.ngrams(col(textCol), 2).as("bg"))
    val docBuckets = base
      .select(col("doc_id"), col("is_target"),
        explode_outer(concat(col("tk"), col("bg"))).as("gram"))
      .filter(col("gram").isNotNull)
      .select(col("doc_id"), col("is_target"),
        pmod(graft.functions.StringFunctions.polyHash(col("gram")), bL).as("bucket"))
      .groupBy("doc_id", "is_target", "bucket")
      .agg(count(lit(1)).as("c"))
      .transform(Stage.snapshotDF)
    // numBuckets rows, but its lineage is a full pass over the (doc,
    // bucket) snapshot — materialize once, it feeds totals AND the join
    val model = docBuckets.groupBy("bucket").agg(
      sum("c").as("s_b"),
      sum(when(col("is_target"), col("c")).otherwise(0L)).as("t_b"))
      .transform(Stage.snapshotDF)
    val totals = model.agg(sum("s_b").as("s_tot"), sum("t_b").as("t_tot"))
    docBuckets
      .join(broadcast(model), "bucket")
      .crossJoin(broadcast(totals))
      .withColumn("__lr",
        log(((col("t_b") + lit(1L)) * (col("s_tot") + bL)) /
            ((col("s_b") + lit(1L)) * (col("t_tot") + bL))))
      .groupBy("doc_id")
      .agg(sum("c").as("n_feat"), round(sum(col("c") * col("__lr")), 4).as("dsir_w"))
      .orderBy(col("dsir_w").desc, col("doc_id").asc)
      .limit(topN)
  }

  /** Top-n-gram concentration per document — the Gopher repetition family
    * (Rae et al. 2021 §A1.1): the share of a doc's n-gram OCCURRENCES
    * taken by its single most frequent n-gram, for n = 2 and 3, with the
    * paper's gate thresholds (0.20 / 0.18, adapted from char fraction to
    * occurrence fraction — documented delta). Complements
    * [[repetitionRatio]] (distinct share) and [[boilerplateCoverage]]
    * (cross-doc templates): this one catches the within-doc loop that
    * repeats one phrase. Shape: per-(doc, gram) count → per-doc max/sum —
    * two hash aggregations per n, no window, keyed by doc (never by the
    * hot gram).
    */
  def topNgramConcentration(
      docs: DataFrame, idCol: String, textCol: String, topN: Int): DataFrame = {
    def shares(k: Int, outCol: String): DataFrame =
      docs.select(col(idCol).as("doc_id"),
          explode_outer(TextFunctions.ngrams(col(textCol), k)).as("gram"))
        .filter(col("gram").isNotNull)
        .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as(s"n_${k}grams"), (max("c") / sum("c")).as(outCol))
    shares(2, "top2_share")
      .join(shares(3, "top3_share").drop("n_3grams"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_2grams"),
        round(col("top2_share"), 4).as("top2_share"),
        round(coalesce(col("top3_share"), lit(0.0)), 4).as("top3_share"),
        (col("top2_share") > 0.2 ||
          coalesce(col("top3_share"), lit(0.0)) > 0.18).as("rep_flag"))
      .orderBy(col("top2_share").desc, col("doc_id").asc)
      .limit(topN)
  }

  /** Per-source n-gram novelty — release accounting for content overlap:
    * for every source, the share of its DISTINCT word-5-grams that appear
    * in no other source. Low novelty = the source is mostly re-material.
    * The (source, gram) distinct relation feeds the per-gram source count
    * AND the per-source rollup, so it is snapshotted once; everything is
    * gram-keyed hash aggregation + one equi-join — the inverted-index
    * shape, AQE-splittable on hot grams.
    */
  def sourceNgramNovelty(
      docs: DataFrame, sourceCol: String, textCol: String, k: Int = 5): DataFrame = {
    val sg = docs.select(col(sourceCol).as("source"),
        explode_outer(TextFunctions.ngrams(col(textCol), k)).as("gram"))
      .filter(col("gram").isNotNull)
      .distinct()
      .transform(Stage.snapshotDF)
    val perGram = sg.groupBy("gram").agg(count(lit(1)).as("nsrc"))
    sg.join(perGram, Seq("gram"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("nsrc") === 1, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty", round(col("n_unique") / col("n_grams"), 4))
      .orderBy("source")
  }

  /** Interpolated bigram LM cross-entropy per document — the bigram
    * upgrade of [[unigramSurprisal]]'s CCNet-style quality filter:
    * estimate unigram and bigram counts over the corpus, score each doc by
    * `ce = −Σ m·ln(λ·c(w₁w₂)/c(w₁) + (1−λ)·c(w₂)/T) / Σ m` over its
    * bigram occurrences (Jelinek–Mercer interpolation; the unigram backoff
    * keeps unseen-context probabilities finite). High-ce docs are the
    * incoherent ones a perplexity gate drops. Denominator convention:
    * plain unigram counts (not prefix counts) — documented, mirrored in
    * the oracle.
    *
    * One parquet scan, one tokenize: the token arrays are snapshotted and
    * BOTH explodes (unigram model, per-doc bigrams) read the
    * materialization; the per-doc bigram relation is snapshotted again
    * because it feeds the global bigram model AND the scoring join (the
    * tfidf double-execution rule). Scoring is equi-joins on the gram keys
    * — vocab-sized sides, shuffle-partitionable, no windows.
    *
    * λ = 0.75 (exactly representable): every probability is built from
    * divisions of exact-integer doubles, so both engines feed `ln`
    * identical operands; per-doc sums rounded to 4.
    */
  def bigramInterpolatedCE(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      topN: Int): DataFrame = {
    val base = docs
      .select(col(idCol).as("doc_id"), TextFunctions.tokens(col(textCol)).as("tk"))
      .transform(Stage.snapshotDF)
    // The token total comes straight off the materialized arrays (one
    // scalar agg) so `uni` has exactly TWO consumers: the w1 and w2 sides
    // of the model-scoring join. Its lineage roots at the base snapshot
    // (in-memory arrays, no re-scan/re-tokenize), and checkpointing the
    // vocab-sized relation costs more than the second pass — measured
    // 1.30 s → 1.89 s at sf0.1 when an eager snapshot was tried here.
    val uni = base
      .select(explode_outer(col("tk")).as("tok")).filter(col("tok").isNotNull)
      .groupBy("tok").agg(count(lit(1)).as("cu"))
    // null-text docs contribute 0 tokens to T, not size()'s -1 (the same
    // guard pmiCollocations documents — an unguarded sum undercounts T by
    // 1 per null doc and inflates every unigram backoff probability)
    val tot = base.agg(
      sum(when(col("tk").isNotNull, size(col("tk"))).otherwise(0)).as("t"))
    // sequence(1, 0) DESCENDS in Spark (never empty) — guard short docs
    // explicitly or element_at walks off the array under ANSI mode
    val docBg = base
      .select(col("doc_id"),
        explode_outer(when(size(col("tk")) >= 2,
          transform(sequence(lit(1), size(col("tk")) - 1),
            i => struct(element_at(col("tk"), i).as("w1"),
                        element_at(col("tk"), i + 1).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("p"))
      .filter(col("p").isNotNull)
      .select(col("doc_id"), col("p.w1"), col("p.w2"))
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("m"))
      .transform(Stage.snapshotDF)
    // Score the DISTINCT-bigram model table first (|observed bigrams|
    // rows), then hit the corpus-sized per-doc relation with ONE join —
    // joining cb/cu1/cu2 onto docBg directly would run three
    // corpus-sized shuffles instead of three vocab-sized ones.
    val scored = docBg.groupBy("w1", "w2").agg(sum("m").as("cb"))
      .join(uni.select(col("tok").as("w1"), col("cu").as("cu1")), Seq("w1"))
      .join(uni.select(col("tok").as("w2"), col("cu").as("cu2")), Seq("w2"))
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"),
        log(lit(0.75) * (col("cb") / col("cu1")) +
            lit(0.25) * (col("cu2") / col("t"))).as("__lnp"))
    docBg
      .join(scored, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(sum("m").as("n_bigrams"),
        round(-sum(col("m") * col("__lnp")) / sum("m"), 4).as("ce"))
      .orderBy(col("ce").desc, col("doc_id").asc)
      .limit(topN)
  }

  /** Pointwise mutual information collocations (Church & Hanks 1990) —
    * adjacent word pairs that co-occur far above chance:
    *
    *   pmi(w₁w₂) = ln( (c(w₁w₂)/N) / ((c(w₁)/T)·(c(w₂)/T)) )
    *
    * with N = total bigram occurrences, T = total tokens. Raw frequency
    * (q56) surfaces "of the"; PMI surfaces the bound phrases (named
    * entities, technical terms) a tokenizer or phrase-mining pass wants —
    * the `minCount` floor is the standard guard against PMI's
    * rare-pair explosion (a 1-occurrence pair of two hapaxes maxes the
    * score vacuously).
    *
    * Cost shape (the [[bigramInterpolatedCE]] dataflow): ONE scan + ONE
    * tokenize snapshotted, unigram/bigram models are vocab-sized
    * aggregations off it, scoring is two vocab-sized equi-joins + two
    * broadcast scalars. Every probability is a division of exact-integer
    * doubles — both engines feed `ln` identical operands (round 6).
    */
  def pmiCollocations(
      docs: DataFrame,
      textCol: String,
      minCount: Int,
      topN: Int): DataFrame = {
    require(minCount >= 1, s"need minCount >= 1, got $minCount")
    val base = docs
      .select(TextFunctions.tokens(col(textCol)).as("tk"))
      .transform(Stage.snapshotDF)
    val uni = base
      .select(explode_outer(col("tk")).as("tok")).filter(col("tok").isNotNull)
      .groupBy("tok").agg(count(lit(1)).as("cu"))
    // null-text rows must contribute 0 tokens, matching the unnest-row
    // count the oracle uses — bare size(null) is −1 under non-ANSI
    // semantics and would silently skew T
    val tot = base.agg(
      sum(when(col("tk").isNotNull, size(col("tk"))).otherwise(0L))
        .cast("double").as("t"))
    val cb = base
      .select(explode_outer(when(size(col("tk")) >= 2,
        transform(sequence(lit(1), size(col("tk")) - 1),
          i => struct(element_at(col("tk"), i).as("w1"),
                      element_at(col("tk"), i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("p"))
      .filter(col("p").isNotNull)
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("cb"))
      .transform(Stage.snapshotDF) // feeds the N scalar AND the scoring join
    val nb = cb.agg(sum("cb").cast("double").as("n"))
    cb.filter(col("cb") >= minCount)
      .join(uni.select(col("tok").as("w1"), col("cu").as("cu1")), Seq("w1"))
      .join(uni.select(col("tok").as("w2"), col("cu").as("cu2")), Seq("w2"))
      .crossJoin(broadcast(nb))
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("cb"),
        (round(log((col("cb").cast("double") / col("n")) /
          ((col("cu1").cast("double") / col("t")) *
           (col("cu2").cast("double") / col("t")))), 6) + lit(0.0)).as("pmi"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(topN)
  }

  /** Heaps-law vocabulary growth over ingestion order — the data-card curve
    * that says whether more data still buys new content: the corpus is cut
    * into `nBuckets` equal-width id ranges (ingestion order), and each
    * bucket reports its word-k-gram occurrence count, the count of types
    * FIRST seen in it, running totals, and the implied Heaps exponent
    * ln(cum_types)/ln(cum_tokens). A flattening curve (new types → 0) is
    * the empirical saturation signal behind data-constrained scaling
    * decisions — it tells a corpus build when another crawl snapshot stops
    * adding vocabulary.
    *
    * Shape at 100 TB: bucketing is map-side (id against two broadcast
    * scalars — no rank window over the corpus; equal-width in ID space, so
    * gappy id ranges tilt bucket sizes, documented); the exploded gram
    * relation feeds BOTH the occurrence rollup and the first-bucket-per-type
    * aggregation, so it is snapshotted once (the fan-out rule); everything
    * after is gram- or bucket-keyed hash aggregation. The only window runs
    * over `nBuckets` rows — bounded by the parameter, never the corpus
    * (the q102 post-limit convention).
    */
  def vocabGrowth(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2, s"need nBuckets >= 2, got $nBuckets")
    val bounds = docs.agg(
      min(col(idCol)).cast("double").as("__lo"),
      (max(col(idCol)) + 1).cast("double").as("__hi"))
    val tb = docs.crossJoin(broadcast(bounds))
      .select(
        least(floor((col(idCol).cast("double") - col("__lo")) * nBuckets /
            (col("__hi") - col("__lo"))), lit(nBuckets - 1)).cast("long").as("bucket"),
        explode_outer(TextFunctions.ngrams(col(textCol), k)).as("gram"))
      .filter(col("gram").isNotNull)
      .transform(Stage.snapshotDF)
    val occ = tb.groupBy("bucket").agg(count(lit(1)).as("n_grams"))
    val firstSeen = tb.groupBy("gram").agg(min("bucket").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_new_types"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    occ.join(firstSeen, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_new_types"))
      .withColumn("cum_grams", sum("n_grams").over(w))
      .withColumn("cum_types", sum("n_new_types").over(w))
      .withColumn("heaps_beta", round(log(col("cum_types")) / log(col("cum_grams")), 4))
      .orderBy("bucket")
  }

  /** Greedy max-coverage subset selection (Nemhauser et al. 1978: the
    * (1−1/e)-approximate greedy for submodular coverage) — pick `k`
    * documents that together cover the most distinct tokens, the curation
    * step that seeds a diverse fine-tuning subset instead of a redundant
    * top-k-by-score one.
    *
    * Each round: anti-join the (doc, token) relation against the covered
    * set, count marginal gains per doc, take the argmax (ties → smallest
    * doc id). The argmax is a 1-ROW eagerly-snapshotted DataFrame — never a
    * driver collect — and the covered set grows by one semi-join per round,
    * so the whole selection is k rounds × (one anti-join + one aggregate)
    * over the token relation, all distributed. Rounds are inherently
    * sequential (that IS the greedy); k bounds them like the q126 merge
    * loop. At 100 TB the standard refinement is stochastic-greedy
    * (Mirzasoleiman et al. 2015): run each round on a sampled candidate
    * pool — same loop, one extra filter — documented, not needed at test
    * scale. A doc with zero marginal gain is never emitted (its anti-join
    * group vanishes), so exhausted corpora yield < k rows, matching the
    * unrolled oracle layer-for-layer.
    *
    * Input: `docTokens` with columns (`doc`, `token`), duplicates allowed
    * (de-duplicated internally). Output: (sel_rank, doc, gain).
    */
  def maxCoverageSelect(docTokens: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val spark = docTokens.sparkSession
    // one corpus-sized distinct, checkpointed once: every round reads it
    val dt = Stage.snapshotDF(docTokens.select(col("doc"), col("token")).distinct())
    // r18-shape cost: 2 eager snapshots per round (a 1-row pick + the
    // re-checkpointed whole covered set) plus a semi-join — 31 jobs at
    // k=5, all dispatch (ConstantProfile r19). The pick is ONE row of
    // model state: collect it (the bpeLearn top-pair convention) and
    // inline the doc id as a literal; `covered` stays a union of ≤ k
    // FILTERS over the one dt checkpoint (never re-materialized) and is
    // bounded by k documents' tokens, so it broadcasts — each round is
    // one collect: scan checkpoint → broadcast-anti-join → gain
    // aggregate → limit-1.
    // The output rows are rebuilt from the collected literals under the
    // EXACT schema the old per-round select produced (template from the
    // same expressions over zero rows), so values, types and nullability
    // are bit-identical.
    val template = dt.limit(0).groupBy("doc").agg(count(lit(1)).as("gain"))
      .select(lit(1).as("sel_rank"), col("doc"), col("gain"))
    var covered: Option[DataFrame] = None
    val picked = Seq.newBuilder[org.apache.spark.sql.Row]
    for (r <- 1 to k) {
      val base = covered
        .map(cv => dt.join(broadcast(cv), Seq("token"), "left_anti"))
        .getOrElse(dt)
      // empty pick (every token already covered / empty corpus): the old
      // form unioned an empty 1-row relation — contribute nothing, same rows
      base.groupBy("doc").agg(count(lit(1)).as("gain"))
        .orderBy(col("gain").desc, col("doc").asc).limit(1)
        .collect().headOption.foreach { row =>
          picked += org.apache.spark.sql.Row(r, row.get(0), row.getLong(1))
          val delta = dt.filter(col("doc") === lit(row.get(0))).select("token")
          covered = Some(covered.map(_.union(delta)).getOrElse(delta))
        }
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(picked.result().asJava, template.schema)
      .orderBy("sel_rank")
  }

  /** Cross-snapshot token-distribution DRIFT per key: Jensen–Shannon
    * divergence between each key's token frequency distributions in
    * snapshot `a` and snapshot `b`, plus the single most-drifted token —
    * the monitor a continuously-refreshed training corpus runs between
    * releases ("did source X's content shift, and toward what?").
    *
    *   JS(p‖q) = ½·Σ p·ln(p/m) + ½·Σ q·ln(q/m),  m = (p+q)/2
    *
    * with 0·ln(0/·) = 0 (tokens absent on one side contribute only
    * through the present side). JS is symmetric, bounded by ln 2, and
    * defined even for disjoint supports — the reasons it beats raw KL
    * for drift monitoring.
    *
    * Scale shape: one tokenize+count aggregation PER SNAPSHOT (the only
    * corpus-sized work), one (key, token)-keyed full-outer join of the
    * two vocab-sized count relations, per-key totals from one more
    * aggregation over that join (snapshotted — it feeds totals AND the
    * divergence fold), and a broadcast-friendly totals join back. The
    * probabilities are exact-integer ratios, so both engines divide
    * identical doubles; Σ is float-order sensitive at ~1e-13, absorbed
    * by the 6-decimal emission rounding (the q117 Σ·ln convention).
    */
  def tokenDistributionDrift(
      a: DataFrame, b: DataFrame,
      keyCol: String, textCol: String): DataFrame = {
    def counts(df: DataFrame): DataFrame = df
      .select(col(keyCol).as("__k"),
        explode_outer(TextFunctions.tokens(col(textCol))).as("__tok"))
      .filter(col("__tok").isNotNull)
      .groupBy("__k", "__tok").agg(count(lit(1)).as("__n"))
    val joined = Stage.snapshotDF(
      counts(a).withColumnRenamed("__n", "__na")
        .join(counts(b).withColumnRenamed("__n", "__nb"), Seq("__k", "__tok"), "full_outer")
        .na.fill(0L, Seq("__na", "__nb")))
    val totals = joined.groupBy("__k")
      .agg(sum("__na").as("__ta"), sum("__nb").as("__tb"))
    // zero-total guard: a key absent from one snapshot would otherwise
    // poison m with 0/0 = NaN and erase the PRESENT side's terms too
    val p = when(col("__ta") > 0,
      col("__na").cast("double") / col("__ta").cast("double")).otherwise(lit(0.0))
    val q = when(col("__tb") > 0,
      col("__nb").cast("double") / col("__tb").cast("double")).otherwise(lit(0.0))
    val m = (p + q) / lit(2.0)
    val term =
      when(col("__na") > 0, p * log(p / m) * lit(0.5)).otherwise(lit(0.0)) +
        when(col("__nb") > 0, q * log(q / m) * lit(0.5)).otherwise(lit(0.0))
    joined.join(totals, "__k")
      .groupBy(col("__k").as(keyCol))
      .agg(max("__ta").as("n_tokens_a"), max("__tb").as("n_tokens_b"),
        round(sum(term), 6).as("js_divergence"),
        max(struct(abs(p - q).as("d"), col("__tok").as("t"))).as("__top"))
      .select(col(keyCol), col("n_tokens_a"), col("n_tokens_b"),
        col("js_divergence"),
        col("__top.t").as("top_drift_token"),
        round(col("__top.d"), 6).as("top_drift"))
  }

  /** Zipf rank–frequency fit: OLS of ln(count) on ln(rank) over the
    * vocabulary — natural text slopes ≈ −1 (Zipf 1949), and a corpus
    * whose slope or r² walks away from that is machine-generated,
    * truncated, or template-flooded (the companion diagnostic to
    * [[vocabGrowth]]'s Heaps curve). One corpus-sized token count; the
    * regression runs over the VOCAB-sized aggregate. The vocab RANK is
    * the [[Checks.ksDrift]] distributed prefix scan, NOT a global
    * `row_number` window: at real-corpus scale the vocabulary is 10⁸–10⁹
    * terms and a partition-less WindowExec funnels all of it through one
    * task. Range-partition on the full order key (n desc, tok asc) —
    * UNIQUE per row, so boundary placement cannot split ties — then
    * rank = per-partition `row_number` + the broadcast
    * count-of-preceding-partitions offset (the offset relation is
    * ≤ `rangePartitions` rows; its window is bounded by construction).
    * Both log axes are quantized to exact 1e-6 integers (the q148
    * convention) feeding the shared [[ExactCorr]] DECIMAL algebra, so
    * the fit is combine-order-proof; slope and r² each one rounded
    * double expression.
    */
  def zipfFit(docs: DataFrame, textCol: String, minCount: Long = 1L,
              rangePartitions: Int = 32): DataFrame = {
    val counts = docs
      .select(explode_outer(TextFunctions.tokens(col(textCol))).as("tok"))
      .filter(col("tok").isNotNull)
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
    val q = (c: Column) =>
      floor(log(c.cast("double")) * lit(1e6) + lit(0.5)).cast("long")
    val pooled = Stage.snapshotDF(counts
      .repartitionByRange(rangePartitions, col("n").desc, col("tok").asc)
      .withColumn("__pid", spark_partition_id()))
    val localW = Window.partitionBy("__pid")
      .orderBy(col("n").desc, col("tok").asc)
    val offW = Window.orderBy("__pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = pooled.groupBy("__pid").agg(count(lit(1)).as("__tc"))
      .select(col("__pid"), coalesce(sum("__tc").over(offW), lit(0L)).as("__off"))
    val base = pooled
      .withColumn("__lr", row_number().over(localW))
      .join(broadcast(offsets), Seq("__pid"))
      .select(q(col("__lr") + col("__off")).cast(ExactCorr.dec).as("__x"),
        q(col("n")).cast(ExactCorr.dec).as("__y"))
    val terms = ExactCorr.aggs(col("__x"), col("__y"))
    val g = base.agg(terms.head, terms.tail: _*)
    val (num, denX, denY) = (ExactCorr.num, ExactCorr.denX, ExactCorr.denY)
    g.select(col("__m").cast("long").as("n_terms"),
      when(denX > 0, round(num / denX, 6) + lit(0.0)).as("zipf_slope"),
      when(denX > 0 && denY > 0,
        round((num / denX) * (num / denY), 6) + lit(0.0)).as("r2"))
  }

  /** Rocchio pseudo-relevance feedback (Rocchio 1971, the PRF instance):
    * retrieve with [[bm25]], treat the top `feedbackK` documents as
    * relevant, lift the `expandM` highest-weight terms from them
    * (feedback term frequency × global ln(N/df), the Rocchio centroid
    * restricted to the positive class), append them to the query, and
    * re-rank — the recall-recovery step behind "find me more like the
    * good hits" without any labels.
    *
    * Determinism: both retrieval cuts order by the ROUNDED score with an
    * id tiebreak (the q143 cross-engine-cut convention); the expansion
    * ranking key is the 1e-6-quantized integer weight (the q148
    * convention), term-asc tiebreak. The expansion terms come to the
    * driver as a bounded literal (`expandM` strings — the codebook
    * convention) because they parameterize the second retrieval's
    * pushed-down term filter exactly like the caller's own query bag.
    * Cost: two bounded-vocabulary retrieval passes plus one
    * feedback-restricted term aggregation and one candidate-bounded df
    * count — every per-term relation is semi-join-bounded, never
    * vocabulary-wide.
    */
  def rocchioPrf(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      feedbackK: Int = 5,
      expandM: Int = 3,
      topN: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(feedbackK >= 1 && expandM >= 0, s"bad ($feedbackK, $expandM)")
    val fb = Stage.snapshotDF(
      bm25(docs, idCol, textCol, queryTerms, k1, b)
        .select(col("doc_id"), (round(col("bm25"), 4) + lit(0.0)).as("__s"))
        .orderBy(col("__s").desc, col("doc_id").asc).limit(feedbackK)
        .select("doc_id"))
    val toks = tokenRows(docs, idCol, textCol)
    val ftf = Stage.snapshotDF(toks
      .join(fb, toks("__id") === fb("doc_id"))
      .filter(!col("tok").isInCollection(queryTerms))
      .groupBy("tok").agg(count(lit(1)).as("ftf")))
    val dfreq = toks.select(col("__id"), col("tok")).distinct()
      .join(ftf.select("tok"), Seq("tok"), "left_semi")
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n"))
    val expansion = ftf.join(dfreq, "tok").crossJoin(broadcast(nDocs))
      .select(col("tok"),
        floor(col("ftf").cast("double") *
          log(col("n").cast("double") / col("df").cast("double")) *
          lit(1e6) + lit(0.5)).cast("long").as("__wq"))
      .orderBy(col("__wq").desc, col("tok").asc).limit(expandM)
      .select("tok").collect().map(_.getString(0)).toSeq
    bm25(docs, idCol, textCol, (queryTerms ++ expansion).distinct, k1, b)
      .select(col("doc_id"), (round(col("bm25"), 4) + lit(0.0)).as("prf_bm25"))
      .orderBy(col("prf_bm25").desc, col("doc_id").asc).limit(topN)
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
    * the word co-occurrence graph — terms that co-occur with many
    * well-connected terms rank highest, the unsupervised keyword signal
    * TF-IDF's corpus-frequency weighting can't give on a single-domain
    * corpus. Pure composition: the [[skipgramPpmi]] map-side slice
    * pairing (forward offsets only, pair canonicalized a<b — the graph
    * is undirected) builds vocab-sized weighted edges in ONE corpus
    * aggregation; [[Graph.pageRank]] then iterates on the graph-sized
    * relation with its per-layer rounding contract. `minCount` floors
    * the edge weight — singleton co-occurrences are noise and the floor
    * keeps the graph (and the oracle's unrolled layers) vocab-bounded.
    * Ranking key is the ROUNDED score (the q143 cross-engine-cut
    * convention), term-asc tiebreak.
    */
  def textrankKeywords(
      docs: DataFrame,
      textCol: String,
      window: Int = 2,
      minCount: Int = 5,
      iterations: Int = 4,
      topN: Int = 20): DataFrame = {
    require(window >= 1, s"need window >= 1, got $window")
    val tkc = TextFunctions.tokens(col(textCol))
    val n = size(tkc)
    val pairCols = (1 to window).map { off =>
      when(n > off, zip_with(
        slice(tkc, lit(1), n - lit(off)), slice(tkc, lit(off) + 1, n - lit(off)),
        (a, b) => struct(least(a, b).as("a"), greatest(a, b).as("b"))))
        .otherwise(array().cast("array<struct<a:string,b:string>>"))
    }
    val ce = Stage.snapshotDF(docs
      .select(explode_outer(concat(pairCols: _*)).as("p"))
      .filter(col("p").isNotNull && col("p.a") =!= col("p.b"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= minCount))
    val both = ce.union(ce.select(col("b").as("a"), col("a").as("b"), col("w")))
    Graph.pageRank(both, "a", "b", "w", iterations = iterations)
      .select(col("node").as("term"), (round(col("pr"), 6) + lit(0.0)).as("textrank"))
      .orderBy(col("textrank").desc, col("term").asc)
      .limit(topN)
  }

  /** χ² term–label association (the classic feature-selection statistic,
    * Yang & Pedersen 1997): for each term, the 2×2 contingency of
    * document-level presence against a binary label and the chi-square
    * score N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)) — "which terms are the
    * label" run before a mixing plan keys on a slice, or to build a
    * domain lexicon from a labeled seed corpus.
    *
    * Exactness: the contingency is exact integers from ONE corpus-sized
    * distinct-(doc, term) aggregation; the label totals are a 1-row
    * broadcast scalar (the centroid/codebook convention). The ad−bc
    * cross-term is computed in DECIMAL(38,0) (products of two doc-count
    * integers — 10¹⁹ headroom at 10⁹ docs) and only then cast to double
    * for the single declared χ² expression, so the score is
    * engine-stable. Terms present in every doc or no doc of a class can
    * zero a margin → null score (undefined, not ∞). `minDf` floors the
    * document frequency — rare-term χ² is noise and the floor keeps the
    * output vocab-sized and the ranking stable.
    */
  def chiSquareTerms(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      label: Column,
      minDf: Long = 5L,
      topN: Int = 25): DataFrame = {
    val base = Stage.snapshotDF(docs.select(
      col(idCol).as("__id"),
      when(label, 1L).otherwise(0L).as("__y"),
      col(textCol).as("__t")))
    val tot = base.agg(
      sum("__y").cast("long").as("__p"),
      (count(lit(1)) - sum("__y")).cast("long").as("__q"))
    val dt = base
      .select(col("__id"), col("__y"),
        explode_outer(graft.functions.TextFunctions.tokens(col("__t"))).as("token"))
      .filter(col("token").isNotNull)
      .distinct()
    val dec = "decimal(38,0)"
    val counts = dt.groupBy("token")
      .agg(sum("__y").cast("long").as("a"), count(lit(1)).cast("long").as("df"))
      .filter(col("df") >= minDf)
      .crossJoin(broadcast(tot))
    val b = col("df") - col("a")
    val c = col("__p") - col("a")
    val d = col("__q") - b
    val diff = (col("a").cast(dec) * d.cast(dec) - b.cast(dec) * c.cast(dec))
      .cast("double")
    val nD = (col("__p") + col("__q")).cast("double")
    val den = (col("a") + b).cast("double") * (c + d).cast("double") *
      (col("a") + c).cast("double") * (b + d).cast("double")
    counts
      .select(col("token"), col("df"), col("a").as("pos_docs"),
        when(den > 0, round(nD * diff * diff / den, 4) + lit(0.0)).as("chi2"),
        (diff > 0).as("label_enriched"))
      .orderBy(col("chi2").desc_nulls_last, col("token").asc)
      .limit(topN)
  }
}
