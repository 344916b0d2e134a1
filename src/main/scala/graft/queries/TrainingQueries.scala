package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Corpus, Sessionize, Stage}

/** Corpus-curation / training-data-pipeline inventory (BASELINE.json north
  * star, beyond the reference's own surface): relevance scoring, n-gram
  * statistics, sessionization, sequence packing, quality signals, redaction,
  * contamination detection, stratified sampling. Every query is
  * hash-function-free → full DuckDB oracle.
  */
object TrainingQueries {

  type Q = (SparkSession, String) => DataFrame

  /** q54 — TF-IDF: top-20 (doc, term) scores over `documents`. */
  def q54_tfidf: Q = (s, dir) => {
    Corpus.tfidf(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("term"), round(col("tfidf"), 4).as("tfidf"))
      .orderBy(col("tfidf").desc, col("doc_id").asc, col("term").asc)
      .limit(20)
  }

  /** q55 — Okapi BM25: top-10 documents for a 3-term bag-of-words query. */
  def q55_bm25: Q = (s, dir) => {
    Corpus.bm25(Tables.documents(s, dir), "doc_id", "text",
        Seq("hash", "customer", "stream"))
      .select(col("doc_id"), round(col("bm25"), 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(10)
  }

  /** q201 — reciprocal-rank fusion ([[Corpus.rrfFuse]]) of two retrievers
    * for the q55 query bag: the BM25 top-20 (ranked by the rounded score,
    * the q55 tie contract) fused with the TF-IDF-sum top-20 (summed in
    * integer micros, the q148 determinism convention — different idf form
    * and no length saturation, so the lists genuinely disagree). Both
    * top-k cuts are TakeOrdered (distributed), the fusion joins 20-row
    * snapshots; rrf = 1/(60+r₁) + 1/(60+r₂) summed in written order.
    */
  def q201_rrf_fusion: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val terms = Seq("hash", "customer", "stream")
    def rank1(df: DataFrame, scoreCol: String) = Stage.snapshotDF(df)
      .withColumn("rank",
        row_number().over(Window.orderBy(col(scoreCol).desc, col("doc_id").asc)))
      .select("doc_id", "rank")
    val bm = rank1(
      Corpus.bm25(docs, "doc_id", "text", terms)
        .select(col("doc_id"), round(col("bm25"), 4).as("s"))
        .orderBy(col("s").desc, col("doc_id").asc).limit(20), "s")
    val ti = rank1(
      Corpus.tfidf(docs, "doc_id", "text")
        .filter(col("term").isin(terms: _*))
        .withColumn("t6", floor(col("tfidf") * lit(1e6) + lit(0.5)).cast("long"))
        .groupBy("doc_id").agg(sum("t6").as("s6"))
        .orderBy(col("s6").desc, col("doc_id").asc).limit(20), "s6")
    Corpus.rrfFuse(Seq(bm, ti), "doc_id", kRrf = 60)
      .select(col("doc_id"), col("rank_0").as("rank_bm25"),
        col("rank_1").as("rank_tfidf"), col("rrf"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
  }

  /** q143 — conjunctive (AND) retrieval with BM25 ranking
    * ([[Corpus.conjunctiveSearch]]): top-15 documents containing ALL of a
    * 3-term query, including the corpus's rarest term. The postings
    * intersection is one `HAVING count = |query|` aggregation over only
    * the query terms' posting rows — search-engine cost (Σ posting
    * lengths), never a corpus scan past the tokenizer, and never
    * |query|−1 posting self-joins. Ordered by the ROUNDED score (the q55
    * tie contract) so the k-cut is cross-engine stable.
    */
  def q143_conjunctive_search: Q = (s, dir) => {
    Corpus.conjunctiveSearch(Tables.documents(s, dir), "doc_id", "text",
        Seq("dup", "vector", "key"))
      .select(col("doc_id"), round(col("bm25"), 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(15)
  }

  /** q148 — per-source keyword extraction: the top-3 terms per source by
    * summed TF-IDF — the data-card "what characterizes this source" line.
    * Per-row tf-idf weights quantize to exact 1e-6 integers (floor-half-up)
    * before the (source, term) sum, so the ranking key is an exact integer
    * under any summation order (the q144/q145 determinism contract). The
    * ranking window runs over the AGGREGATED relation — |sources|×|vocab|
    * rows, corpus-size-independent — which is why a window (not TopKAgg)
    * is the honest shape here: the reduction already happened in the hash
    * aggregate, and a vocab-sized window partition can never be the 100 TB
    * bottleneck.
    */
  def q148_keywords: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val st = Corpus.tfidf(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .withColumn("t6", floor(col("tfidf") * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy("source", "term")
      .agg(sum("t6").as("s6"))
    val w = Window.partitionBy("source").orderBy(col("s6").desc, col("term").asc)
    st.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("source"), col("rank").cast("long").as("rank"), col("term"),
              round(col("s6").cast("double") / lit(1e6), 6).as("score"))
      .orderBy("source", "rank")
  }

  /** q146 — deterministic weighted sampling without replacement
    * (Efraimidis–Spirakis 2006 priority sampling): each doc gets priority
    * ln(u)/w with w = n_chars and u a hash-derived uniform
    * (polyHash(doc_id) mod 999983 → (0,1), exact rational, the q99
    * no-RNG convention); the top-k by priority IS a weight-proportional
    * sample without replacement. At 100 TB this is a map-side key + one
    * TakeOrdered partial top-k — no global sort, no RNG state, and
    * bit-reproducible across retries/partitionings (a training-set sample
    * that changes under re-execution poisons ablations). Priorities are
    * ranked ROUNDED (9 dp) with a doc_id tie-break so the ln ulp gap
    * can't flip the k-cut cross-engine.
    */
  def q146_priority_sample: Q = (s, dir) => {
    val h = graft.functions.StringFunctions.polyHash(col("doc_id").cast("string"))
    Tables.documents(s, dir)
      .withColumn("u", (h % 999983L + 1L).cast("double") / lit(999984.0))
      .withColumn("priority", round(log(col("u")) / col("n_chars"), 9))
      .select(col("doc_id"), col("source"), col("n_chars"), col("priority"))
      .orderBy(col("priority").desc, col("doc_id").asc)
      .limit(25)
  }

  /** q56 — n-gram frequency: top-20 word bigrams with counts. */
  def q56_bigram_freq: Q = (s, dir) => {
    graft.operators.Dedup.spread(Tables.documents(s, dir))
      .select(explode_outer(graft.functions.TextFunctions.ngrams(col("text"), 2)).as("bigram"))
      .filter(col("bigram").isNotNull)
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(20)
  }

  /** q199 — PMI collocations ([[Corpus.pmiCollocations]]): top-50 adjacent
    * word pairs by pointwise mutual information (count floor 5) — the
    * bound-phrase miner next to q56's raw bigram frequency (which raw
    * counts alone cannot separate from "of the"). All probabilities are
    * exact-integer-double divisions; ln operands identical cross-engine.
    */
  def q199_pmi_collocations: Q = (s, dir) => {
    Corpus.pmiCollocations(graft.operators.Dedup.spread(Tables.documents(s, dir)),
      textCol = "text", minCount = 5, topN = 50)
  }

  /** q212 — skip-gram PPMI co-occurrence ([[Corpus.skipgramPpmi]]):
    * top-50 word pairs by positive PMI within a ±3 window (count floor
    * 5) — the sparse matrix a static-embedding factorization trains on,
    * and q199's adjacent-bigram PMI generalized to contexts. Pair
    * construction is 6 map-side zip slices, no joins or windows.
    */
  def q212_skipgram_ppmi: Q = (s, dir) => {
    Corpus.skipgramPpmi(graft.operators.Dedup.spread(Tables.documents(s, dir)),
      textCol = "text", window = 3, minCount = 5, topN = 50)
  }

  /** q239 — calibration table
    * ([[graft.operators.Checks.calibrationTable]]) for the stopword-ratio
    * score against the `lang = 'en'` label: is the cheap lexical signal
    * anything like a probability before a mixing plan uses it as one?
    * The score is the exact rational a/b (top-20-global-token occurrences
    * over doc tokens — one snapshotted token relation feeds the vocab cut
    * AND the per-doc counts), binned fixed-width; per-bin mean/rate/Brier
    * from 1e-9-quantized exact sums. Token-less docs have no score and
    * no bin.
    */
  def q239_calibration: Q = (s, dir) => {
    val toks = Stage.snapshotDF(
      graft.operators.Dedup.spread(Tables.documents(s, dir))
        .select(col("doc_id"), col("lang"),
          explode_outer(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
        .filter(col("tok").isNotNull))
    val top = toks.groupBy("tok").agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("tok").asc).limit(20)
      .select(col("tok").as("__sw"))
    val per = toks.join(broadcast(top), col("tok") === col("__sw"), "left")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("__b"),
        sum(when(col("__sw").isNotNull, 1L).otherwise(0L)).as("__a"))
      .select((col("__a").cast("double") / col("__b").cast("double")).as("pred"),
        (col("lang") === "en").as("label"))
    graft.operators.Checks.calibrationTable(per, "pred", "label", bins = 10)
  }

  /** q236 — top session trigrams
    * ([[graft.operators.Sessionize.sessionTrigrams]]): the 20 most
    * common within-session t₁→t₂→t₃ event paths (12-hour gap on BOTH
    * hops — q57's break rule, a boundary never fabricates a path) —
    * order-3 path mining over q207's order-2 matrix. One user-key
    * window exchange, exact counts, integer/string-only k-cut.
    */
  def q236_session_trigrams: Q = (s, dir) =>
    Sessionize.sessionTrigrams(Tables.events(s, dir),
      "user_id", "ts", "event_id", "event_type",
      gapMs = 12L * 3600 * 1000, topN = 20)

  /** q254 — cross-source lexical overlap matrix: pairwise vocabulary
    * Jaccard between sources (|Vₐ∩Vᵦ| / |Vₐ∪Vᵦ| over distinct-token
    * sets) — the LEXICAL face of q249's semantic (centroid) map: two
    * sources can share a centroid direction yet almost no vocabulary,
    * and the pair of matrices separates topical overlap from verbatim
    * reuse. One (source, token) distinct aggregation; intersections via
    * a token-keyed self-join of the vocab relation (Σ token-df², df
    * bounded by the handful of sources); unions from the margins.
    */
  def q254_vocab_overlap: Q = (s, dir) => {
    val vocab = Stage.snapshotDF(
      graft.operators.Dedup.spread(Tables.documents(s, dir))
        .select(col("source"),
          explode_outer(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
        .filter(col("tok").isNotNull)
        .distinct())
    val sizes = vocab.groupBy(col("source")).agg(count(lit(1)).as("__n"))
    val inter = vocab.as("a").join(vocab.as("b"),
        col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(sizes.select(col("source").as("source_a"), col("__n").as("__na")), "source_a")
      .join(sizes.select(col("source").as("source_b"), col("__n").as("__nb")), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        (round(col("n_shared").cast("double") /
          (col("__na") + col("__nb") - col("n_shared")).cast("double"), 6)
          + lit(0.0)).as("vocab_jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** q255 — OOV-rate audit: the share of the NEW slice's vocabulary
    * (and token mass) unseen in the OLD slice — the cold-start /
    * tokenizer-coverage number a train–test split answers before anyone
    * trusts perplexity on the held-out side. Two vocab aggregations,
    * one left-anti-shaped join, exact integer counts.
    */
  def q255_oov_rate: Q = (s, dir) => {
    val toks = Stage.snapshotDF(
      graft.operators.Dedup.spread(Tables.documents(s, dir))
        .select(col("doc_id"),
          explode_outer(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
        .filter(col("tok").isNotNull))
    val oldVocab = toks.filter(col("doc_id") % 5 =!= 0).select("tok").distinct()
    val newToks = Stage.snapshotDF(toks.filter(col("doc_id") % 5 === 0)
      .groupBy("tok").agg(count(lit(1)).as("__c"))
      .join(oldVocab.withColumn("__seen", lit(1)), Seq("tok"), "left"))
    newToks.agg(
        count(lit(1)).as("new_vocab"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("oov_vocab"),
        sum("__c").as("new_tokens"),
        sum(when(col("__seen").isNull, col("__c")).otherwise(0L)).as("oov_tokens"))
      .select(col("new_vocab"), col("oov_vocab"),
        (round(col("oov_vocab").cast("double") /
          col("new_vocab").cast("double"), 6) + lit(0.0)).as("oov_vocab_share"),
        col("new_tokens"), col("oov_tokens"),
        (round(col("oov_tokens").cast("double") /
          col("new_tokens").cast("double"), 6) + lit(0.0)).as("oov_token_share"))
  }

  /** q253 — χ² homogeneity test
    * ([[graft.operators.Checks.chiSquareHomogeneity]]): is the language
    * mix the same across sources beyond sampling noise — the
    * significance member of the (source, lang) association quartet
    * (q206 MI, q238 U, q209 FD, and this). Full-grid expected counts,
    * exact decimal cross terms, 1e-9-quantized cell sums, verdict from
    * the shared dof ≤ 30 critical-value literals.
    */
  def q253_chi2_homogeneity: Q = (s, dir) =>
    graft.operators.Checks.chiSquareHomogeneity(
      Tables.documents(s, dir), "source", "lang")

  /** q238 — uncertainty coefficient
    * ([[graft.operators.Checks.uncertaintyCoefficient]]) U(lang|source):
    * the normalized 0–1 "how much does the source pin down the
    * language" — the soft face of q209's exact FD violation census and
    * the scale-free companion of q206's raw-nats MI, all three on the
    * same column pair by design. Per-cell 1e-9-quantized exact sums;
    * one closing ratio.
    */
  def q238_uncertainty: Q = (s, dir) =>
    graft.operators.Checks.uncertaintyCoefficient(
      Tables.documents(s, dir), "source", "lang")

  /** q57 — batch sessionization of `events`: 12-hour inactivity gap,
    * per-session event count and duration (the lag + running-sum-of-breaks
    * assignment; batch twin of the streaming session_window q62).
    */
  def q57_sessionize: Q = (s, dir) => {
    Sessionize.sessions(Tables.events(s, dir), "user_id", "ts", "event_id",
        gapMs = 12L * 3600 * 1000)
      .orderBy("user_id", "session_id")
  }

  /** q207 — session Markov transitions ([[Sessionize.transitionMatrix]]):
    * within-session consecutive event-type pairs (12-hour gap rule — the
    * q57 sessionization contract, so a session boundary never fabricates
    * a transition) with counts and row-normalized p(to | from). One
    * user-key shuffle; probabilities exact-integer-double divisions.
    */
  def q207_markov_transitions: Q = (s, dir) => {
    Sessionize.transitionMatrix(Tables.events(s, dir),
        "user_id", "ts", "event_id", "event_type", gapMs = 12L * 3600 * 1000)
      .orderBy("from_type", "to_type")
  }

  /** q58 — context-window sequence packing: documents binned into
    * 2048-token budgets per source shard; per-bin fill statistics.
    */
  def q58_packing: Q = (s, dir) => {
    Corpus.packSequences(Tables.documents(s, dir), "source", "doc_id", "text", 2048)
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"),
           sum("__ntok").as("sum_tokens"),
           round(sum("__ntok") / lit(2048.0), 4).as("fill"))
      .orderBy("source", "bin")
  }

  /** q59 — repetition-ratio quality signal: 1 − |distinct bigrams|/|bigrams|
    * per doc, aggregated per source. Pure per-row expression, no shuffle
    * before the final rollup.
    */
  def q59_repetition: Q = (s, dir) => {
    Tables.documents(s, dir)
      .select(col("source"), Corpus.repetitionRatio(col("text")).as("rep"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           round(avg("rep"), 4).as("avg_rep"),
           round(max("rep"), 4).as("max_rep"))
      .orderBy("source")
  }

  /** q63 — token-distribution entropy per doc (nats), rolled up per lang. */
  def q63_entropy: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    Corpus.tokenEntropy(docs, "doc_id", "text")
      .join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           round(avg("entropy"), 4).as("avg_entropy"),
           round(min("entropy"), 4).as("min_entropy"),
           round(max("entropy"), 4).as("max_entropy"))
      .orderBy("lang")
  }

  /** q64 — PII-style redaction: scrub a term pattern, report redaction
    * volume per source (pattern kept inside the RE2 ∩ Java dialect so the
    * oracle regex engine agrees).
    */
  def q64_redact: Q = (s, dir) => {
    val pattern = "\\b(customer|value)\\b"
    val (redacted, nRed) = Corpus.redact(col("text"), pattern, "[X]")
    Tables.documents(s, dir)
      .select(col("source"), redacted.as("red"), nRed.as("n_red"), col("text"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("n_red") > 0, 1L).otherwise(0L)).as("n_docs_hit"),
           sum("n_red").as("total_redactions"),
           sum(length(col("text")) - length(col("red"))).cast("long").as("chars_removed"))
      .orderBy("source")
  }

  /** q65 — benchmark-contamination: corpus docs sharing ≥1 word 4-gram with
    * the benchmark slice (doc_id ≡ 0 mod 25); broadcast semi-join on the
    * distinct benchmark n-gram set.
    */
  def q65_contamination: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    Corpus.contamination(
        corpus = docs.filter(col("doc_id") % 25 =!= 0),
        benchmark = docs.filter(col("doc_id") % 25 === 0),
        idCol = "doc_id", textCol = "text", k = 4)
      .orderBy("doc_id")
  }

  /** q66 — deterministic 1-in-10 stratified sample per source (rank-based,
    * reproducible under retries), with per-stratum acceptance stats.
    */
  def q66_stratified_sample: Q = (s, dir) => {
    Corpus.stratifiedSample(Tables.documents(s, dir), "source", "doc_id", 10)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"),
           sum("n_chars").as("sum_chars"),
           min("doc_id").as("first_id"))
      .orderBy("source")
  }

  /** q214 — Neyman optimal allocation ([[Corpus.neymanAllocation]]): a
    * 500-row sampling budget split across sources ∝ N_h·σ_h of n_chars —
    * the minimum-variance eval-set design q66's fixed rate cannot adapt
    * to. Integer-micros weights (exact total), largest-remainder seats,
    * N_h caps; all-integer output except the 6-rounded σ.
    */
  def q214_neyman_alloc: Q = (s, dir) => {
    Corpus.neymanAllocation(Tables.documents(s, dir),
        strataCol = "source", valCol = "n_chars", budget = 500L)
      .orderBy("stratum")
  }


  /** q78 — sparse TF-IDF cosine document pairs via the inverted index
    * (one term-keyed shuffle; no dense doc×doc comparison), over a bounded
    * doc slice: the synthetic corpus's tiny vocabulary saturates every
    * posting list at larger scale factors, which would turn sparse-pair
    * expansion into a dense quadratic — a real corpus's long-tail vocabulary
    * is what keeps this operator sparse at 100 TB.
    */
  def q78_tfidf_cosine: Q = (s, dir) => {
    Corpus.tfidfCosinePairs(
        Tables.documents(s, dir).filter(col("doc_id") < 200),
        "doc_id", "text", minSim = 0.87)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
      .orderBy("id_a", "id_b")
  }

  /** q81 — domain mixing: cap each source's contribution at a fixed quota (15 documents)
    * (rank-ordered by doc_id, deterministic), the per-stratum quota form of
    * mix targeting; complements q66's every-k-th sampling.
    */
  /** q110 — temperature-scaled source mixing weights: the sampling-weight
    * primitive for multi-source training mixes (Lample & Conneau's
    * p_i^α / Σ p_j^α with α = 0.7 — upsample small sources, downsample
    * dominant ones; `boost` = weight/share is the per-source epoch
    * multiplier a sampler applies). Three aggregations over the per-source
    * rollup, scalars broadcast back — no window over the corpus, no
    * driver-side math; at 100 TB the per-source rollup is the only pass
    * over the data. pow() drift across engines is absorbed by rounding the
    * raw weight to 6 decimals before normalizing (the q88 cushion).
    */
  def q110_mixture_weights: Q = (s, dir) => {
    val per = Tables.documents(s, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
      .transform(graft.operators.Stage.snapshotDF) // feeds total AND shares
    val tot = per.agg(sum("n_docs").cast("double").as("total"))
    val withShare = per.crossJoin(tot)
      .withColumn("share_raw", col("n_docs") / col("total"))
      .withColumn("wr", round(pow(col("share_raw"), lit(0.7)), 6))
      .transform(graft.operators.Stage.snapshotDF)
    val sw = withShare.agg(sum("wr").as("sw"))
    withShare.crossJoin(sw)
      .select(col("source"), col("n_docs"), col("n_chars"),
        round(col("share_raw"), 4).as("share"),
        round(col("wr") / col("sw"), 4).as("weight"),
        round(col("wr") / col("sw") / col("share_raw"), 4).as("boost"))
      .orderBy("source")
  }

  def q81_domain_mix: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    Tables.documents(s, dir)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("doc_id"))))
      .filter(col("__rn") <= 15)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"),
           sum("n_chars").as("sum_chars"),
           max("doc_id").as("max_kept_id"))
      .orderBy("source")
  }

  /** q82 — near-dup dedup applied end-to-end, the PRODUCTION pipeline shape:
    * deterministic LSH candidates → exact-Jaccard verify on candidates only
    * → connected components → drop every non-survivor (node ≠ component min)
    * → corpus stats after dedup. Every stage is bounded (banded buckets
    * capped at 200, verification linear in candidates) — no corpus-wide pair
    * expansion anywhere, unlike the exact small-SF forms q42/q80. The oracle
    * mirrors the identical candidate pipeline (DedupQueries.
    * OracleCandidatePairGraph), so the composition is hash-checked despite
    * being approximate relative to the exhaustive pair graph.
    */
  def q82_dedup_apply: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    // one checkpointed shingle index feeds candidate generation AND exact
    // verification — the corpus is shingled once for the whole pipeline
    val sh = graft.operators.Dedup.shingleIndex(docs, "doc_id", "text", 3)
      .transform(Stage.snapshotDF)
    val pairs = graft.operators.Dedup.jaccardVerify(
      graft.operators.Dedup.minhashCandidates(sh), sh, threshold = 0.6)
    val dupes = graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b")
      .filter(col("node") =!= col("component"))
      .select(col("node").as("doc_id"))
    docs.join(dupes, Seq("doc_id"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs_kept"),
           sum("n_chars").as("sum_chars"))
      .orderBy("lang")
  }

  /** q92 — unigram-LM surprisal (CCNet-style quality filter): the corpus
    * estimates its own unigram model; docs ranked by mean token
    * -log-probability. Ordered by the ROUNDED score + doc_id so the top-20
    * cut is bit-deterministic across engines.
    */
  def q92_lm_surprisal: Q = (s, dir) => {
    Corpus.unigramSurprisal(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), round(col("surprisal"), 4).as("surprisal"))
      .orderBy(col("surprisal").desc, col("doc_id").asc)
      .limit(20)
  }

  /** q94 — overlapping token-window chunking (window 50, stride 40): long
    * documents become training sequences with a 10-token overlap; docs of
    * ≤ 50 tokens stay whole. Aggregated shape check per doc (chunk count,
    * token sum, full-text hash of the reassembled chunk stream) keeps the
    * compare row count bounded while still pinning every chunk boundary:
    * a one-token slice drift changes md5(concat of chunk texts).
    */
  def q94_chunking: Q = (s, dir) => {
    Corpus.chunkTokens(Tables.documents(s, dir), "doc_id", "text",
        window = 50, stride = 40)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
           sum("n_tokens").as("sum_tokens"),
           md5(concat_ws("|",
             transform(
               sort_array(collect_list(struct(col("chunk_id"), col("chunk_text")))),
               x => x.getField("chunk_text")))).as("chunks_hash"))
      .orderBy(col("n_chunks").desc, col("doc_id").asc)
      .limit(20)
  }

  /** q95 — the training-prep pipeline composed end-to-end, every stage an
    * operator this engine ships: exact dedup (deterministic survivor) →
    * quality gate (token count ≥ 40 ∧ stopword ratio ≤ 0.08) → overlapping
    * token-window chunking (50/40) → per-source corpus accounting. The
    * batch counterpart of the `StreamingDedup` admission flow and the
    * composition a real corpus build runs nightly; at 100 TB each stage
    * keeps its own scale shape (dedup = hash-agg + semi-join, gate =
    * map-side, chunking = map-side, accounting = one partial-aggregated
    * groupBy).
    */
  def q95_training_prep: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val deduped = graft.operators.Dedup.exactDedup(docs, "text", "doc_id")
    // gated fans out to chunking AND the source join below — snapshot so the
    // scan → dedup → quality-metric subtree compiles into the plan once
    val gated = graft.operators.TextAnalysis.qualityMetrics(deduped)
      .filter(col("n_tokens") >= 40 && col("stopword_ratio") <= 0.08)
      .transform(Stage.snapshotDF)
    val perDoc = Corpus.chunkTokens(gated, "doc_id", "text", window = 50, stride = 40)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"), sum("n_tokens").as("n_chunk_tokens"))
    perDoc.join(gated.select("doc_id", "source"), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_chunks").as("sum_chunks"),
           sum("n_chunk_tokens").as("sum_chunk_tokens"))
      .orderBy("source")
  }

  /** q96 — leakage-safe train/val/test split: assignment is hashed from the
    * near-dup CLUSTER representative, not the document, so near-duplicates
    * can never straddle train and test (the standard eval-contamination
    * hazard of per-document splits). Pipeline: bounded candidate graph
    * (deterministic LSH → exact verify, same as q82) → connected components
    * → split = polyHash(component) mod 10 (8/1/1). Singletons are their own
    * component. The hash is content-stable only through the representative
    * id; at 100 TB the same dataflow hashes the representative's text
    * fingerprint instead when ids are not stable across crawls.
    */
  def q96_leakage_split: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val sh = graft.operators.Dedup.shingleIndex(docs, "doc_id", "text", 3)
      .transform(Stage.snapshotDF)
    val pairs = graft.operators.Dedup.jaccardVerify(
      graft.operators.Dedup.minhashCandidates(sh), sh, threshold = 0.6)
    val comp = graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b")
    val h = graft.functions.StringFunctions.polyHash(col("component").cast("string")) % 10
    docs.join(comp, docs("doc_id") === comp("node"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .withColumn("split",
        when(h < 8, "train").when(h === 8, "val").otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("component")).as("n_components"),
           min(col("doc_id")).as("min_doc_id"))
      .orderBy("split")
  }

  /** q99 — deterministic training-data shuffle: hash-sharded, per-shard
    * ordered permutation of the corpus ([[Corpus.shardShuffle]], 8 shards).
    * Per-shard accounting pins the permutation itself: `order_hash` is the
    * md5 of the doc_id stream in shard order, so a one-position drift
    * anywhere changes the row. No RNG, no global sort — the 100 TB shuffle
    * is one exchange + per-shard sorts.
    */
  def q99_shard_shuffle: Q = (s, dir) => {
    Corpus.shardShuffle(Tables.documents(s, dir), "doc_id", nShards = 8)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_chars").as("sum_chars"),
           md5(concat_ws(",",
             transform(
               sort_array(collect_list(struct(col("pos"), col("doc_id")))),
               x => x.getField("doc_id").cast("string")))).as("order_hash"))
      .orderBy("shard")
  }

  /** q100 — boilerplate coverage: word 3-grams present in > 2% of all
    * documents are template text ([[Corpus.boilerplateCoverage]]); per
    * source, how many documents are template-dominated (> 50% of their
    * distinct grams) and the average coverage. The self-referential twin of
    * q65's external-benchmark contamination — the filter set comes from
    * the corpus's own document frequencies.
    */
  def q100_boilerplate: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    Corpus.boilerplateCoverage(docs, "doc_id", "text", k = 3, maxDfFraction = 0.02)
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           round(avg("boiler_ratio"), 4).as("avg_cover"),
           sum(when(col("boiler_ratio") > 0.5, 1L).otherwise(0L)).as("n_dominated"))
      .orderBy("source")
  }

  /** q107 — duplicated-span census ([[Corpus.duplicatedSpans]], the
    * ExactSubstr signal of Lee et al. 2022): positional word-5-gram
    * windows shared with at least one OTHER document, per-doc duplicated
    * ratio and longest consecutive duplicated run, rolled up per source.
    * The exact-substring complement of q42's set-similarity and q100's
    * df-fraction boilerplate: a verbatim copied paragraph between two
    * documents lights up here even though its grams' document frequency
    * is far below any boilerplate threshold. No pairwise stage anywhere
    * (one gram-keyed count + a join back), so no cap is needed.
    */
  def q107_dup_spans: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    Corpus.duplicatedSpans(docs, "doc_id", "text", k = 5)
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_dup").as("dup_windows"),
           round(avg("dup_ratio"), 4).as("avg_dup_ratio"),
           max("longest_run").as("max_run"))
      .orderBy("source")
  }

  /** q131 — duplicated-span REMOVAL ([[Corpus.removeDuplicatedSpans]],
    * the rewrite step of ExactSubstr dedup — Lee et al. 2022 §4.2): q107
    * censuses cross-document word-5-gram spans, this query CUTS them and
    * returns the rewritten corpus — per doc the whitespace-normalized
    * `clean_text` with every cross-doc span removed, plus token/removed
    * counts. `minRun = 1` cuts every duplicated window (span threshold =
    * k = 5 tokens); all occurrences are cut in all carriers (the paper's
    * semantics — survivor election belongs to the admission family). The
    * oracle replays the definition end-to-end in SQL, including the
    * rewritten strings, so the hash check covers the actual output text,
    * not just the counts.
    */
  def q131_span_removal: Q = (s, dir) => {
    Corpus.removeDuplicatedSpans(Tables.documents(s, dir), "doc_id", "text",
        k = 5, minRun = 1)
      .orderBy("doc_id")
  }

  /** q133 — WITHIN-document repeated-span removal
    * ([[Corpus.removeSelfRepeatedSpans]]): the self-repeat complement of
    * q131 — Gopher-style repetition REMOVAL where q121/q59 only detect.
    * Word-3-gram window positions whose text occurred EARLIER in the same
    * document are cut (maximal runs, minRun = 1); the first occurrence of
    * every phrase survives, so a looping artifact collapses to one copy.
    * Oracle replays the min-pos window + run cut + rewrite end-to-end,
    * rewritten strings included.
    */
  def q133_self_repeat: Q = (s, dir) =>
    Corpus.removeSelfRepeatedSpans(Tables.documents(s, dir), "doc_id", "text",
        k = 3, minRun = 1)
      .orderBy("doc_id")

  /** q135 — exact heavy hitters via Misra–Gries sketch + recount
    * ([[Corpus.heavyHitters]]): tokens holding ≥ 3% of all token
    * occurrences, found with ≤ 64 counters per partition instead of
    * q102's full token shuffle. minShare 0.03 > 1/(k+1) = 1/65, so the
    * MG superset guarantee makes the recounted result exact and the
    * oracle is the plain frequency SQL. At this corpus (31 distinct
    * tokens < k) the sketch never evicts — the eviction and merge-prune
    * paths are covered by HeavyHitterSpec on synthetic streams, the
    * above-fixture-cap convention.
    */
  def q135_heavy_hitters: Q = (s, dir) =>
    Corpus.heavyHitters(Tables.documents(s, dir), "text", k = 64, minShare = 0.03)

  /** q101 — CCNet-style quality buckets: per-language head/middle/tail
    * terciles by unigram-LM surprisal ([[Corpus.rankBuckets]], the exact
    * rank form — ordered by rounded score + doc_id so every boundary is
    * bit-deterministic). The selection knob CCNet uses to keep only the
    * head of each language; the 100 TB path is
    * [[Corpus.approxQuantileBuckets]] (broadcast breakpoints, no hot
    * per-language window reducer), spec-tested for distribution agreement.
    *
    * Recomputes q92's surprisal subtree by design: the driver contract
    * runs each query as an independent job, so there is no cross-query
    * plan to share — and wiring a disk-level cache between two bench
    * queries would measure the cache, not the operator. A production
    * pipeline composing scoring and bucketing in ONE job shares the
    * subtree the ordinary way (compute [[Corpus.unigramSurprisal]] once,
    * `Stage.snapshot` it, feed both consumers — the q95 composition
    * pattern); ~1.0 s of q101's bench time is that LM-estimation subtree.
    */
  def q101_quality_buckets: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val scored = Corpus.unigramSurprisal(docs, "doc_id", "text")
      .join(docs.select("doc_id", "lang"), Seq("doc_id"))
    Corpus.rankBuckets(scored, "lang", "surprisal", "doc_id", n = 3)
      .groupBy(col("lang"), col("bucket").cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
           round(avg(round(col("surprisal"), 4)), 4).as("avg_surprisal"),
           min("doc_id").as("first_doc"))
      .orderBy("lang", "bucket")
  }

  /** q102 — vocabulary construction (the tokenizer-build step): global
    * top-V tokens by frequency, assigned dense contiguous ids in
    * (count desc, token) order. The top-V is a `TakeOrderedAndProject`
    * (per-partition partial top-V, no global sort — the q08/PlanSpec
    * shape); id assignment windows over the POST-limit set, which is V
    * rows by construction, so the single-partition window is bounded by
    * the vocabulary size, never the corpus.
    */
  /** q190 — Count-Min sketch audit ([[graft.operators.CountMin]]): build
    * the 4 × 256 counter matrix over the q102 token-count stream (polyHash
    * + the q84 affine row family — both DuckDB-replayable, so the WHOLE
    * sketch is oracle-checked, not twinned), then read back the top-20
    * tokens' point estimates next to their exact counts. `overcount ≥ 0`
    * on every row is the CMS guarantee made visible — the audit the
    * q111/q120 convention applies to the frequency-sketch axis. Sketch =
    * one vocab-sized groupBy to d·w = 1024 rows (broadcast-sized,
    * mergeable by plain sum — the q178 partials algebra); estimates = a
    * broadcast probe join, no corpus rescan.
    */
  def q190_cms_audit: Q = (s, dir) => {
    import graft.operators.CountMin
    val counts = graft.operators.Stage.snapshotDF(
      graft.operators.Dedup.spread(Tables.documents(s, dir))
        .select(explode_outer(graft.functions.TextFunctions.tokens(col("text"))).as("token"))
        .filter(col("token").isNotNull)
        .groupBy("token").agg(count(lit(1)).as("exact_count")))
    val cms = CountMin.sketch(counts, "token", "exact_count", width = 256)
    val probes = counts.orderBy(col("exact_count").desc, col("token").asc).limit(20)
    CountMin.estimate(cms, probes, "token", width = 256)
      .withColumn("overcount", col("cms_estimate") - col("exact_count"))
      .orderBy(col("exact_count").desc, col("token").asc)
  }

  def q102_vocab: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val counts = graft.operators.Dedup.spread(Tables.documents(s, dir))
      .select(explode_outer(graft.functions.TextFunctions.tokens(col("text"))).as("token"))
      .filter(col("token").isNotNull)
      .groupBy("token").agg(count(lit(1)).as("n"))
    counts.orderBy(col("n").desc, col("token").asc).limit(50)
      .withColumn("token_id",
        row_number().over(Window.orderBy(col("n").desc, col("token").asc)).cast("long"))
      .select("token_id", "token", "n")
      .orderBy("token_id")
  }

  /** q232 — Zipf rank–frequency fit ([[graft.operators.Corpus.zipfFit]]):
    * OLS slope and r² of ln(count) on ln(rank) over the whole vocabulary
    * — the naturalness diagnostic beside q124's Heaps curve (natural
    * text ≈ −1; template floods and truncation bend it). Quantized
    * 1e-6-integer log axes into the ExactCorr decimal algebra; the rank
    * window runs over the vocab-sized aggregate only.
    */
  def q232_zipf: Q = (s, dir) =>
    Corpus.zipfFit(graft.operators.Dedup.spread(Tables.documents(s, dir)), "text")

  /** q230 — CMS join-size estimate
    * ([[graft.operators.CountMin.joinSizeEstimate]]): the pair volume of
    * a lineitem self-join on `l_partkey` (Σ cnt² — the exact quantity
    * the basket guard predicts by histogram) priced from the sketch
    * alone: per-row inner products, min over depth — an overestimate by
    * construction, reported beside the exact volume and the relative
    * overcount in PARTS-PER-MILLION as a pure integer quotient
    * (`(est − exact)·10⁶ div exact` over the DECIMAL(38,0) columns) —
    * no double division or `round(double)` in the contract, whose libm
    * /tie behavior drifts across engines. DECIMAL(38,0) is interior
    * only: the final size columns are BIGINT (Σcnt² fits a Long beyond
    * sf100; DecimalType final columns are the r14-pinned hash class).
    * Width 65536 → d·w = 262k counter rows, still a no-rescan
    * plan-time answer.
    */
  def q230_cms_join_size: Q = (s, dir) => {
    import graft.operators.CountMin
    val dec = "decimal(38,0)"
    val counts = Stage.snapshotDF(Tables.lineitem(s, dir)
      .groupBy(col("l_partkey").cast("string").as("k"))
      .agg(count(lit(1)).as("c")))
    val cms = Stage.snapshotDF(CountMin.sketch(counts, "k", "c", width = 65536))
    val exact = counts.agg(
      sum(col("c").cast(dec) * col("c").cast(dec)).cast(dec).as("exact_size"))
    CountMin.joinSizeEstimate(cms, cms)
      .crossJoin(broadcast(exact))
      .select(
        // DECIMAL(38,0) stays strictly interior (the ppm quotient and
        // the headroom are computed over it); the FINAL columns are
        // BIGINT — Σcnt² fits a Long beyond sf100, and the r14
        // adjudication pinned DecimalType final columns as the one
        // output type the gate hasher canonicalizes engine-dependently
        col("join_size_estimate").cast("long").as("join_size_estimate"),
        col("exact_size").cast("long").as("exact_size"),
        expr("((join_size_estimate - exact_size) * 1000000) div exact_size")
          .as("rel_overcount_ppm"))
  }

  /** q225 — Rocchio pseudo-relevance feedback
    * ([[graft.operators.Corpus.rocchioPrf]]): q55's exact query bag as
    * the first pass, its top-5 hits as pseudo-relevant, the 3
    * highest-weight feedback terms (tf × ln(N/df), 1e-6-quantized
    * ranking key) appended, and the expanded bag re-ranked — label-free
    * recall recovery on top of the q55 retrieval chain. Every per-term
    * relation is query- or feedback-bounded; the oracle replays both
    * passes and the expansion pick verbatim.
    */
  def q225_rocchio_prf: Q = (s, dir) =>
    Corpus.rocchioPrf(Tables.documents(s, dir), "doc_id", "text",
      Seq("hash", "customer", "stream"), feedbackK = 5, expandM = 3, topN = 10)

  /** q224 — TextRank keywords ([[graft.operators.Corpus.textrankKeywords]]):
    * top-20 terms by PageRank over the ±2-window word co-occurrence
    * graph (edge floor 5) — the unsupervised keyword signal for a
    * single-domain corpus where TF-IDF's cross-corpus contrast is flat.
    * One corpus-sized pair aggregation; the 4 rank iterations run on the
    * vocab-sized graph with q141's per-layer rounding contract, replayed
    * by the oracle as MATERIALIZED unrolled layers.
    */
  def q224_textrank: Q = (s, dir) =>
    Corpus.textrankKeywords(graft.operators.Dedup.spread(Tables.documents(s, dir)),
      "text", window = 2, minCount = 5, iterations = 4, topN = 20)

  /** q223 — χ² term–label feature selection
    * ([[graft.operators.Corpus.chiSquareTerms]]): the 25 terms whose
    * document-level presence is most associated with the `lang = 'en'`
    * slice — the lexicon-building/feature-selection statistic over one
    * distinct-(doc, term) aggregation, exact integer contingencies, the
    * ad−bc cross term in DECIMAL(38,0), one declared double χ²
    * expression (the q203 exactness posture applied to a 2×2 table).
    */
  def q223_chi2_terms: Q = (s, dir) =>
    Corpus.chiSquareTerms(
      graft.operators.Dedup.spread(Tables.documents(s, dir)),
      "doc_id", "text", col("lang") === "en", minDf = 5L, topN = 25)

  /** q115 — BPE pair statistics ([[graft.operators.Corpus.bpePairStats]]):
    * the adjacent-character-pair count over the word-frequency table that
    * picks the next byte-pair-encoding merge — the tokenizer-TRAINING
    * counterpart of q102's vocabulary build. Corpus-sized work is one
    * word-count shuffle; the pair explode runs over the vocabulary only.
    */
  def q115_bpe_pairs: Q = (s, dir) =>
    graft.operators.Corpus.bpePairStats(
      graft.operators.Dedup.spread(Tables.documents(s, dir)), "text", topN = 20)

  /** q116 — DSIR importance weights ([[graft.operators.Corpus.dsirWeights]]):
    * hashed unigram+bigram importance-resampling scores toward the
    * `lang = 'en'` target slice — the data-selection signal that tilts a
    * raw-corpus sampling mix toward a target domain. 512 feature buckets;
    * top-20 most-target-like docs.
    */
  def q116_dsir_weights: Q = (s, dir) =>
    graft.operators.Corpus.dsirWeights(
      graft.operators.Dedup.spread(Tables.documents(s, dir)),
      "doc_id", "text", targetPred = col("lang") === "en",
      numBuckets = 512, topN = 20)

  /** q117 — interpolated bigram LM cross-entropy
    * ([[graft.operators.Corpus.bigramInterpolatedCE]]): the
    * perplexity-gate quality filter with bigram context — q92's unigram
    * surprisal upgraded with Jelinek–Mercer interpolation (λ = 0.75).
    * Top-20 most-surprising (least-coherent) documents.
    */
  def q117_bigram_ce: Q = (s, dir) =>
    graft.operators.Corpus.bigramInterpolatedCE(
      graft.operators.Dedup.spread(Tables.documents(s, dir)),
      "doc_id", "text", topN = 20)

  /** q119 — token-budget epoch plan: q110's temperature weights applied to
    * a fixed training-token budget (B = 10M), with the data-constrained
    * accounting of Muennighoff et al. 2023 — per-source allocated tokens,
    * implied epoch count over the source's available tokens, and the
    * `> 4 epochs` flag past which repeated data stops helping. Share is
    * TOKEN share (the budget's unit), counted with a map-side tokenize
    * into the per-source rollup; scalars broadcast; pow drift absorbed by
    * the q110 6-decimal pre-normalization cushion. alloc uses an explicit
    * `round()` on both engines (DuckDB CAST rounds, Spark cast truncates —
    * never bare casts on this boundary).
    */
  def q119_token_budget: Q = (s, dir) => {
    val per = graft.operators.Dedup.spread(Tables.documents(s, dir))
      .filter(col("text").isNotNull) // oracle's len(NULL) drops out of sum
      .select(col("source"),
        size(graft.functions.TextFunctions.tokens(col("text"))).as("ntok"))
      .groupBy("source").agg(sum("ntok").as("n_tokens"))
      .transform(graft.operators.Stage.snapshotDF) // feeds total AND weights
    tokenBudgetAllocation(per, budget = 10000000.0)
  }

  /** The q119 temperature-weighted waterline shared with q267 (the SAME
    * definition, so the two censuses' allocations cannot drift): weights
    * = (source share)^0.7 renormalized, allocation = weight × budget.
    * `per` must be snapshotted by the caller (feeds total AND weights).
    */
  private def tokenBudgetAllocation(per: DataFrame, budget: Double): DataFrame = {
    val tot = per.agg(sum("n_tokens").cast("double").as("total"))
    val w = per.crossJoin(broadcast(tot))
      .withColumn("share_raw", col("n_tokens") / col("total"))
      .withColumn("wr", round(pow(col("share_raw"), lit(0.7)), 6))
      .transform(graft.operators.Stage.snapshotDF)
    val sw = w.agg(sum("wr").as("sw"))
    w.crossJoin(broadcast(sw))
      .withColumn("__alloc", round(col("wr") / col("sw") * lit(budget)).cast("long"))
      .select(col("source"), col("n_tokens"),
        round(col("wr") / col("sw"), 4).as("weight"),
        col("__alloc").as("alloc_tokens"),
        round(col("__alloc") / col("n_tokens"), 4).as("epochs"),
        (col("__alloc") / col("n_tokens") > 4.0).as("over_4_epochs"))
      .orderBy("source")
  }

  /** q267 — the q119 token budget on TRUE BPE token counts
    * ([[graft.operators.Corpus.bpeTokensBySource]]): the census a budget
    * actually buys is tokenizer tokens, not whitespace words — a source
    * whose words encode long shifts its share, its temperature weight,
    * and its epoch count. Train (4 merges) → encode corpus-wide → the
    * IDENTICAL allocation definition as q119 (shared helper). The oracle
    * replays the merge layers (q126's unrolled CTEs), the per-source
    * encode census, and the waterline SQL end to end.
    */
  def q267_bpe_token_budget: Q = (s, dir) => {
    val per = graft.operators.Corpus.bpeTokensBySource(
        graft.operators.Dedup.spread(Tables.documents(s, dir)),
        "source", "text", merges = 4)
      .transform(graft.operators.Stage.snapshotDF) // feeds total AND weights
    tokenBudgetAllocation(per, budget = 10000000.0)
  }

  /** q121 — top-n-gram concentration
    * ([[graft.operators.Corpus.topNgramConcentration]]): the Gopher
    * within-doc repetition gate — share of n-gram occurrences taken by the
    * most frequent 2-/3-gram, flags at 0.20/0.18. Top-20 most-repetitive.
    */
  def q121_rep_concentration: Q = (s, dir) =>
    graft.operators.Corpus.topNgramConcentration(
      graft.operators.Dedup.spread(Tables.documents(s, dir)),
      "doc_id", "text", topN = 20)

  /** q122 — per-source n-gram novelty
    * ([[graft.operators.Corpus.sourceNgramNovelty]]): share of each
    * source's distinct word-5-grams appearing in no other source — the
    * content-overlap line of a release data card.
    */
  def q122_source_novelty: Q = (s, dir) =>
    graft.operators.Corpus.sourceNgramNovelty(
      graft.operators.Dedup.spread(Tables.documents(s, dir)), "source", "text")

  /** q124 — Heaps-law vocabulary growth ([[graft.operators.Corpus
    * .vocabGrowth]]): word-3-gram type accumulation across 10 equal-width
    * ingestion buckets — the saturation curve that tells a corpus build
    * when more data stops adding vocabulary. Map-side bucketing (broadcast
    * id bounds), one snapshotted gram relation feeding both rollups, and a
    * 10-row cumulative window.
    */
  def q124_vocab_growth: Q = (s, dir) =>
    graft.operators.Corpus.vocabGrowth(
      graft.operators.Dedup.spread(Tables.documents(s, dir)),
      "doc_id", "text", k = 3, nBuckets = 10)

  /** q126 — BPE merge curve ([[graft.operators.Corpus.bpeMergeCurve]]):
    * four rounds of the tokenizer-training loop — pick the top adjacent
    * symbol pair, merge it corpus-wide, report the compression curve. The
    * oracle unrolls the four rounds as CTE layers (the q114 unrolled-greedy
    * convention), so pick AND application are hash-checked each round.
    */
  def q126_bpe_merges: Q = (s, dir) =>
    graft.operators.Corpus.bpeMergeCurve(
      graft.operators.Dedup.spread(Tables.documents(s, dir)), "text", merges = 4)

  /** q128 — UniMax balanced budget allocation
    * ([[graft.operators.Corpus.unimaxAllocation]]): the epoch-capped
    * waterfilling sampling policy (Chung et al. 2023) that q119's one-shot
    * temperature weighting is not — capped sources pin at exactly
    * `epochCap` epochs, everyone else shares one uniform water level. The
    * paper's redistribution LOOP collapses to a single cumulative-sum
    * window over the per-source rollup (closed form; all-long exactness),
    * so unlike q126's unrolled rounds this oracle is one plain SQL chain.
    * Budget 105k sits inside the sf0.01 interesting regime by
    * construction: Σcaps = 108,660 > B forces ≥1 uncapped, B/20 = 5,250 >
    * min-cap forces ≥1 capped.
    */
  def q128_unimax: Q = (s, dir) =>
    graft.operators.Corpus.unimaxAllocation(
      Tables.documents(s, dir), "source", "text",
      budget = 105000L, epochCap = 4)

  /** q129 — BPE encode under the learned vocabulary
    * ([[graft.operators.Corpus.bpeEncode]]): q126 trains the merges, this
    * APPLIES them — per-document token counts and compression under the
    * 4-merge tokenizer, closing the tokenizer train→apply loop. Words are
    * encoded once corpus-wide (vocab-keyed join), never re-segmented per
    * document. Top-20 documents by post-BPE token count.
    */
  def q129_bpe_encode: Q = (s, dir) =>
    graft.operators.Corpus.bpeEncode(
      graft.operators.Dedup.spread(Tables.documents(s, dir)),
      "doc_id", "text", merges = 4, topN = 20)

  /** q170 — greedy max-coverage subset selection
    * ([[graft.operators.Corpus.maxCoverageSelect]]): the 5 documents that
    * together cover the most distinct tokens, with each pick's marginal
    * gain — the diversity-seeded curation complement to q119's
    * score-ordered token budget. The oracle unrolls the 5 greedy rounds as
    * pick/covered CTE layers (the q126 unrolled-greedy convention);
    * counts are integer-exact, ties break on the smaller doc id in both
    * engines.
    */
  def q170_max_coverage: Q = (s, dir) => {
    // coverage unit = word 2-shingles: the synthetic corpus has a ~31-word
    // vocabulary (single docs cover ALL unigrams — greedy would exhaust in
    // one pick), while bigram coverage keeps the marginal-gain race alive
    val dt = graft.operators.Dedup.spread(Tables.documents(s, dir))
      .select(col("doc_id").as("doc"),
        explode_outer(graft.functions.TextFunctions.shingles(col("text"), 2)).as("token"))
      .filter(col("token").isNotNull)
    graft.operators.Corpus.maxCoverageSelect(dt, k = 5)
      .select(col("sel_rank"), col("doc").as("doc_id"), col("gain"))
      .orderBy("sel_rank")
  }

  private def maxCoverageOracle(k: Int): String = {
    val layers = (1 to k).map { i =>
      val notCovered = if (i == 1) "" else s"WHERE token NOT IN (SELECT token FROM c${i - 1})"
      val carry = if (i == 1) "" else s"SELECT token FROM c${i - 1} UNION "
      s"""
      p$i AS (SELECT doc, count(1) AS gain FROM dt $notCovered
              GROUP BY 1 ORDER BY gain DESC, doc LIMIT 1),
      c$i AS (${carry}SELECT t.token FROM dt t JOIN p$i ON t.doc = p$i.doc)"""
    }.mkString(",")
    val unions = (1 to k)
      .map(i => s"SELECT $i AS sel_rank, doc AS doc_id, gain FROM p$i")
      .mkString(" UNION ALL ")
    raw"""
      WITH dt AS (
        SELECT DISTINCT doc, token FROM (
          SELECT doc_id AS doc,
                 unnest(list_distinct(list_transform(
                   range(0, greatest(len(tk) - 2, 0) + 1),
                   i -> array_to_string(tk[i+1:i+2], ' ')))) AS token
          FROM (SELECT doc_id, $tk AS tk FROM documents) t) x),$layers
      $unions ORDER BY sel_rank"""
  }

  /** q104 — per-source data card: the release-accounting summary every
    * published corpus ships (docs, chars, tokens, language spread, exact
    * uniqueness). ONE hash aggregation over a map-side tokenize — the
    * count-distincts ride the same groupBy (Catalyst's expand), so the
    * whole card is a single shuffle regardless of corpus size.
    */
  def q104_datacard: Q = (s, dir) => {
    Tables.documents(s, dir)
      .select(col("source"), col("n_chars"), col("lang"), col("text"),
        size(graft.functions.TextFunctions.tokens(col("text"))).as("__ntok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_chars").as("sum_chars"),
           sum("__ntok").cast("long").as("sum_tokens"),
           round(avg("__ntok"), 4).as("avg_tokens"),
           countDistinct(col("lang")).as("n_langs"),
           countDistinct(col("text")).as("n_unique_texts"))
      .orderBy("source")
  }

  /** q154 — incremental data card ([[graft.operators.IncrementalAgg]]):
    * the per-source corpus statistics maintained across ingest batches by
    * merging mergeable partial states (algebraic counters + a DataSketches
    * HLL sketch for distinct vocabulary) instead of rescanning history.
    * The corpus is split into a "history" and a "new batch" slice, each
    * reduced to its KB-sized partial independently; the merge unions the
    * sketches and adds the counters. Emitted columns are the
    * oracle-mirrorable exacts plus a `within_bound` audit of the HLL
    * estimate against the exact per-source distinct-token count (lgK=12 →
    * RSE ≈ 1.6%, asserted well inside 5%); sketch-merge exactness —
    * merged estimate ≡ single-pass whole-corpus estimate — is pinned in
    * IncrementalSpec.
    */
  def q154_incremental_datacard: Q = (s, dir) => {
    import graft.operators.IncrementalAgg
    val docs = Tables.documents(s, dir)
    val hist = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    val merged = IncrementalAgg.finalizeCard(IncrementalAgg.mergePartials(Seq(
      IncrementalAgg.datacardPartials(hist), IncrementalAgg.datacardPartials(batch))))
    val exact = docs
      .select(col("source"),
        explode_outer(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
      .filter(col("tok").isNotNull)
      .groupBy("source").agg(countDistinct("tok").as("exact_words"))
    merged.join(exact, "source")
      .select(col("source"), col("n_docs"), col("n_chars"), col("exact_words"),
        (abs(col("distinct_words_est").cast("double") / col("exact_words") - 1.0)
          <= 0.05).as("within_bound"))
      .orderBy("source")
  }

  /** q184 — cross-snapshot token drift
    * ([[graft.operators.Corpus.tokenDistributionDrift]]): per-source
    * Jensen–Shannon divergence between two releases of the corpus —
    * snapshot A drops every 97th document, snapshot B drops every 89th
    * and APPENDS drift tokens to every 7th (the q155 snapshot-derivation
    * convention on the documents table) — plus the single most-drifted
    * token per source. The release-to-release "did source X shift, and
    * toward what?" monitor. Probabilities are exact-integer ratios; the
    * JS fold's float-order jitter (~1e-13) is absorbed by the 6-decimal
    * emission rounding, the q117 Σ·ln convention.
    */
  def q184_token_drift: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val a = docs.filter(col("doc_id") % 97 =!= 0)
    val b = docs.filter(col("doc_id") % 89 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" drifted drifted drifted"))).otherwise(col("text")))
    graft.operators.Corpus.tokenDistributionDrift(a, b, "source", "text")
      .orderBy("source")
  }

  /** q178 — sketch-algebra overlap audit: per source, the 2-shingle
    * vocabulary OVERLAP with the rest of the corpus, estimated by HLL
    * inclusion–exclusion (|A∩B| ≈ est(A) + est(B) − est(A∪B), where B =
    * the union of every OTHER source's sketch — HLL cannot subtract, but
    * source-cardinality sketch unions are free) and audited against the
    * exact overlap. The 100 TB shape: the corpus reduces to one KB-sized
    * sketch per source in ONE pass; all set algebra then runs on the
    * |sources|² sketch relation. Emitted columns are the oracle-mirrorable
    * exacts + `within_bound` (|est − exact| ≤ 5% of the global vocab, the
    * compounded-RSE bound; the q154 audit convention — the oracle emits
    * TRUE, so a drifting estimate breaks the hash).
    */
  def q178_sketch_overlap: Q = (s, dir) => {
    import graft.operators.Stage
    val toks = Tables.documents(s, dir)
      .select(col("source"),
        explode_outer(graft.functions.TextFunctions.shingles(col("text"), 2)).as("tok"))
      .filter(col("tok").isNotNull)
      .distinct()
      .transform(Stage.snapshotDF) // feeds sketches, exact vocab, and overlap
    val perSrc = Stage.snapshotDF(toks.groupBy("source")
      .agg(hll_sketch_agg(col("tok"), lit(12)).as("sk"),
        count(lit(1)).as("exact_vocab"))) // toks already distinct per (source, tok)
    val others = perSrc.as("a")
      .join(perSrc.as("b"), col("a.source") =!= col("b.source"))
      .groupBy(col("a.source").as("source"))
      .agg(hll_union_agg(col("b.sk")).as("osk"))
    val est = perSrc.join(others, "source")
      .select(col("source"), col("exact_vocab"),
        (hll_sketch_estimate(col("sk")) + hll_sketch_estimate(col("osk"))
          - hll_sketch_estimate(hll_union(col("sk"), col("osk")))).as("ov_est"))
    val nsPerTok = toks.groupBy("tok").agg(count(lit(1)).as("ns"))
    val exactOv = toks.join(nsPerTok, "tok").filter(col("ns") >= 2)
      .groupBy("source").agg(count(lit(1)).as("exact_overlap"))
    val globalVocab = broadcast(toks.select("tok").distinct().agg(count(lit(1)).as("gv")))
    est.join(exactOv, Seq("source"), "left")
      .na.fill(0L, Seq("exact_overlap"))
      .crossJoin(globalVocab)
      .select(col("source"), col("exact_vocab"), col("exact_overlap"),
        (abs(col("ov_est") - col("exact_overlap")).cast("double")
          <= lit(0.05) * col("gv")).as("within_bound"))
      .orderBy("source")
  }

  val all: Map[String, Q] = Map(
    "q154_incremental_datacard" -> q154_incremental_datacard,
    "q178_sketch_overlap" -> q178_sketch_overlap,
    "q184_token_drift" -> q184_token_drift,
    "q110_mixture_weights" -> q110_mixture_weights,
    "q107_dup_spans" -> q107_dup_spans,
    "q131_span_removal" -> q131_span_removal,
    "q133_self_repeat" -> q133_self_repeat,
    "q135_heavy_hitters" -> q135_heavy_hitters,
    "q104_datacard" -> q104_datacard,
    "q102_vocab" -> q102_vocab,
    "q223_chi2_terms" -> q223_chi2_terms,
    "q224_textrank" -> q224_textrank,
    "q225_rocchio_prf" -> q225_rocchio_prf,
    "q230_cms_join_size" -> q230_cms_join_size,
    "q232_zipf" -> q232_zipf,
    "q190_cms_audit" -> q190_cms_audit,
    "q115_bpe_pairs" -> q115_bpe_pairs,
    "q116_dsir_weights" -> q116_dsir_weights,
    "q117_bigram_ce" -> q117_bigram_ce,
    "q119_token_budget" -> q119_token_budget,
    "q267_bpe_token_budget" -> q267_bpe_token_budget,
    "q121_rep_concentration" -> q121_rep_concentration,
    "q122_source_novelty" -> q122_source_novelty,
    "q124_vocab_growth" -> q124_vocab_growth,
    "q126_bpe_merges" -> q126_bpe_merges,
    "q128_unimax" -> q128_unimax,
    "q129_bpe_encode" -> q129_bpe_encode,
    "q170_max_coverage" -> q170_max_coverage,
    "q101_quality_buckets" -> q101_quality_buckets,
    "q99_shard_shuffle" -> q99_shard_shuffle,
    "q100_boilerplate" -> q100_boilerplate,
    "q92_lm_surprisal" -> q92_lm_surprisal,
    "q94_chunking" -> q94_chunking,
    "q95_training_prep" -> q95_training_prep,
    "q96_leakage_split" -> q96_leakage_split,
    "q78_tfidf_cosine" -> q78_tfidf_cosine,
    "q81_domain_mix" -> q81_domain_mix,
    "q82_dedup_apply" -> q82_dedup_apply,
    "q54_tfidf" -> q54_tfidf,
    "q55_bm25" -> q55_bm25,
    "q143_conjunctive_search" -> q143_conjunctive_search,
    "q201_rrf_fusion" -> q201_rrf_fusion,
    "q146_priority_sample" -> q146_priority_sample,
    "q148_keywords" -> q148_keywords,
    "q56_bigram_freq" -> q56_bigram_freq,
    "q199_pmi_collocations" -> q199_pmi_collocations,
    "q212_skipgram_ppmi" -> q212_skipgram_ppmi,
    "q57_sessionize" -> q57_sessionize,
    "q207_markov_transitions" -> q207_markov_transitions,
    "q236_session_trigrams" -> q236_session_trigrams,
    "q239_calibration" -> q239_calibration,
    "q238_uncertainty" -> q238_uncertainty,
    "q253_chi2_homogeneity" -> q253_chi2_homogeneity,
    "q254_vocab_overlap" -> q254_vocab_overlap,
    "q255_oov_rate" -> q255_oov_rate,
    "q58_packing" -> q58_packing,
    "q59_repetition" -> q59_repetition,
    "q63_entropy" -> q63_entropy,
    "q64_redact" -> q64_redact,
    "q65_contamination" -> q65_contamination,
    "q66_stratified_sample" -> q66_stratified_sample,
    "q214_neyman_alloc" -> q214_neyman_alloc)

  private val tk = raw"list_filter(string_split_regex(text, '\s+'), x -> x <> '')"

  /** The q224 oracle: q212's slice pairing canonicalized a<b (undirected
    * co-occurrence, forward offsets only), then q141's PageRank layers —
    * MATERIALIZED per layer because each references the previous twice
    * (contribution join + dangling scan; the kCoreOracle inlining
    * precedent).
    */
  private def textrankOracle(iters: Int): String = {
    val layers = (1 to iters).map { k =>
      s"""
      r$k AS MATERIALIZED (
        SELECT n.node,
               round((CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
                     + CAST(0.85 AS DOUBLE) *
                       (coalesce(c.con, CAST(0 AS DOUBLE)) + dg.dm / nn.n), 9) AS pr
        FROM nodes n
        LEFT JOIN (SELECT e.dst AS node, sum(r.pr * e.p) AS con
                   FROM r${k - 1} r JOIN enorm e ON r.node = e.src
                   GROUP BY 1) c ON n.node = c.node
        CROSS JOIN (SELECT coalesce(sum(pr), CAST(0 AS DOUBLE)) AS dm
                    FROM r${k - 1}
                    WHERE node NOT IN (SELECT src FROM outw)) dg
        CROSS JOIN nn)"""
    }.mkString(",")
    raw"""
      WITH toks AS (SELECT $tk AS tk FROM documents),
      rp AS (
        SELECT unnest(list_transform(range(1, len(tk) - 1 + 1),
                 i -> struct_pack(a := least(tk[i], tk[i + 1]),
                                  b := greatest(tk[i], tk[i + 1])))) AS p
        FROM toks WHERE len(tk) > 1
        UNION ALL
        SELECT unnest(list_transform(range(1, len(tk) - 2 + 1),
                 i -> struct_pack(a := least(tk[i], tk[i + 2]),
                                  b := greatest(tk[i], tk[i + 2])))) AS p
        FROM toks WHERE len(tk) > 2),
      ce AS MATERIALIZED (
        SELECT p.a AS a, p.b AS b, count(1) AS w FROM rp
        WHERE p.a <> p.b GROUP BY 1, 2 HAVING count(1) >= 5),
      edges AS MATERIALIZED (
        SELECT a AS src, b AS dst, CAST(w AS DOUBLE) AS w FROM ce
        UNION ALL
        SELECT b, a, CAST(w AS DOUBLE) FROM ce),
      nodes AS MATERIALIZED (SELECT DISTINCT node FROM
                  (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
      nn AS (SELECT count(1) AS n FROM nodes),
      outw AS MATERIALIZED (SELECT src, sum(w) AS ow FROM edges GROUP BY 1),
      enorm AS MATERIALIZED (SELECT e.src, e.dst, e.w / o.ow AS p
                FROM edges e JOIN outw o USING (src)),
      r0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS pr FROM nodes CROSS JOIN nn),
      $layers
      SELECT node AS term, round(pr, 6) + CAST(0 AS DOUBLE) AS textrank
      FROM r$iters
      ORDER BY textrank DESC, term LIMIT 20"""
  }

  /** The q126 oracle, unrolled: layer k picks the top x≠y pair over symbol
    * table l(k−1) and applies the merge to produce l(k) — one CTE chain per
    * round (the q114 unrolled-greedy convention), built by loop so the four
    * layers cannot drift from each other.
    */
  /** The shared CTE chain of the BPE oracles (q126 curve, q129 encode):
    * word frequencies `w`, character expansion `l0`, and `merges` unrolled
    * pick+apply layers `l1..lK` (the q114 unrolled-greedy convention),
    * built by loop so the layers cannot drift from each other.
    */
  private def bpeOracleCtes(merges: Int): String = {
    val layers = (1 to merges).map { k =>
      val prev = s"l${k - 1}"
      raw"""
      p$k AS (SELECT sym AS x, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS y, wc
             FROM $prev),
      t$k AS (SELECT x, y, CAST(sum(wc) AS BIGINT) AS n FROM p$k
             WHERE y IS NOT NULL AND x <> y GROUP BY 1, 2
             ORDER BY n DESC, x ASC, y ASC LIMIT 1),
      m$k AS (SELECT l.word, l.wc, l.pos, l.sym,
                    coalesce(l.sym = t.x AND
                      lead(l.sym) OVER (PARTITION BY l.word ORDER BY l.pos) = t.y,
                      false) AS m,
                    t.x || t.y AS xy
             FROM $prev l CROSS JOIN t$k t),
      f$k AS (SELECT *, coalesce(lag(m) OVER (PARTITION BY word ORDER BY pos), false) AS pm
             FROM m$k),
      l$k AS (SELECT word, wc,
                    row_number() OVER (PARTITION BY word ORDER BY pos) AS pos,
                    CASE WHEN m THEN xy ELSE sym END AS sym
             FROM f$k WHERE NOT pm)"""
    }.mkString(",")
    raw"""w AS (SELECT tok AS word, CAST(count(1) AS BIGINT) AS wc FROM
                   (SELECT unnest($tk) AS tok FROM documents) GROUP BY 1),
      l0 AS (SELECT word, wc, u.pos AS pos, u.sym AS sym FROM (
               SELECT word, wc, unnest(list_transform(range(1, len(word) + 1),
                       i -> struct_pack(pos := i, sym := substr(word, i::INT, 1)))) AS u
               FROM w)),$layers"""
  }

  private def bpeMergeOracle(merges: Int): String = {
    val rows = (1 to merges).map { k =>
      s"""
      SELECT $k AS merge_rank, (SELECT x || '+' || y FROM t$k) AS pair,
             (SELECT n FROM t$k) AS n_occurrences,
             (SELECT CAST(sum(wc) AS BIGINT) FROM l$k) AS tokens_after"""
    }.mkString(" UNION ALL ")
    raw"""
      WITH ${bpeOracleCtes(merges)}
      SELECT * FROM ($rows) ORDER BY merge_rank"""
  }

  /** The q129 oracle: the q126 layers, then per-word token counts off the
    * final symbol table and the per-document rollup through the word join.
    */
  private def bpeEncodeOracle(merges: Int): String = raw"""
      WITH ${bpeOracleCtes(merges)},
      wt AS (SELECT word, CAST(max(pos) AS BIGINT) AS wtok FROM l$merges GROUP BY 1),
      dw AS (SELECT doc_id, tok AS word, CAST(count(1) AS BIGINT) AS c FROM
               (SELECT doc_id, unnest($tk) AS tok FROM documents) GROUP BY 1, 2)
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
             CAST(sum(c * len(word)) AS BIGINT) AS char_tokens,
             CAST(sum(c * wtok) AS BIGINT) AS bpe_tokens,
             round(CAST(sum(c * len(word)) AS DOUBLE) /
                   CAST(sum(c * wtok) AS DOUBLE), 4) AS compression
      FROM dw JOIN wt USING (word)
      GROUP BY 1 ORDER BY bpe_tokens DESC, doc_id LIMIT 20"""

  /** The q267 oracle: the q126 merge layers, the per-source encode census
    * off the final symbol table, then q119's waterline SQL verbatim.
    */
  private def bpeBudgetOracle(merges: Int): String = raw"""
      WITH ${bpeOracleCtes(merges)},
      wt AS (SELECT word, CAST(max(pos) AS BIGINT) AS wtok FROM l$merges GROUP BY 1),
      dw AS (SELECT source, tok AS word, CAST(count(1) AS BIGINT) AS c FROM
               (SELECT source, unnest($tk) AS tok FROM documents) GROUP BY 1, 2),
      per AS (SELECT source, CAST(sum(c * wtok) AS BIGINT) AS n_tokens
              FROM dw JOIN wt USING (word) GROUP BY 1),
      tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS total FROM per),
      wgt AS (SELECT source, n_tokens,
                   round(pow(n_tokens / total, 0.7), 6) AS wr
            FROM per, tot),
      swt AS (SELECT sum(wr) AS sw FROM wgt),
      a AS (SELECT source, n_tokens, wr / swt.sw AS wn,
                   CAST(round(wr / swt.sw * 10000000.0) AS BIGINT) AS alloc_tokens
            FROM wgt, swt)
      SELECT source, n_tokens, round(wn, 4) AS weight, alloc_tokens,
             round(alloc_tokens / n_tokens, 4) AS epochs,
             (alloc_tokens / n_tokens > 4.0) AS over_4_epochs
      FROM a ORDER BY source"""

  val oracle: Map[String, String] = Map(
    "q110_mixture_weights" -> """
      WITH s AS (SELECT source, count(1) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
                 FROM documents GROUP BY 1),
      t AS (SELECT sum(n_docs)::DOUBLE AS total FROM s),
      w AS (SELECT source, n_docs, n_chars, n_docs / total AS share_raw,
              round(pow(n_docs / total, 0.7), 6) AS wr
            FROM s, t),
      z AS (SELECT sum(wr) AS sw FROM w)
      SELECT source, n_docs, n_chars,
             round(share_raw, 4) AS share,
             round(wr / sw, 4) AS weight,
             round(wr / sw / share_raw, 4) AS boost
      FROM w, z ORDER BY source""",
    // q155's snapshot derivations on documents, then the JS fold with the
    // same expression grouping Spark evaluates (p·ln(p/m)·0.5); totals
    // cast BIGINT against DuckDB's HUGEINT sum widening
    "q184_token_drift" -> raw"""
      WITH av AS (SELECT source, text FROM documents WHERE doc_id % 97 <> 0),
      bv AS (SELECT source,
                    CASE WHEN doc_id % 7 = 0
                         THEN text || ' drifted drifted drifted'
                         ELSE text END AS text
             FROM documents WHERE doc_id % 89 <> 0),
      ca AS (SELECT k, tok, count(1) AS na FROM
               (SELECT source AS k, unnest($tk) AS tok FROM av) GROUP BY 1, 2),
      cb AS (SELECT k, tok, count(1) AS nb FROM
               (SELECT source AS k, unnest($tk) AS tok FROM bv) GROUP BY 1, 2),
      j AS (SELECT coalesce(ca.k, cb.k) AS k, coalesce(ca.tok, cb.tok) AS tok,
                   coalesce(na, 0) AS na, coalesce(nb, 0) AS nb
            FROM ca FULL OUTER JOIN cb ON ca.k = cb.k AND ca.tok = cb.tok),
      t AS (SELECT k, sum(na) AS ta, sum(nb) AS tb FROM j GROUP BY 1),
      x AS (SELECT j.k, j.tok, j.na, j.nb, t.ta, t.tb,
                   CASE WHEN t.ta > 0 THEN CAST(j.na AS DOUBLE) / CAST(t.ta AS DOUBLE)
                        ELSE 0.0 END AS p,
                   CASE WHEN t.tb > 0 THEN CAST(j.nb AS DOUBLE) / CAST(t.tb AS DOUBLE)
                        ELSE 0.0 END AS q
            FROM j JOIN t USING (k)),
      s AS (SELECT k, CAST(max(ta) AS BIGINT) AS n_tokens_a,
                   CAST(max(tb) AS BIGINT) AS n_tokens_b,
                   round(sum(CASE WHEN na > 0 THEN p * ln(p / ((p + q) / 2)) * 0.5
                                  ELSE 0.0 END
                           + CASE WHEN nb > 0 THEN q * ln(q / ((p + q) / 2)) * 0.5
                                  ELSE 0.0 END), 6) AS js_divergence
            FROM x GROUP BY 1),
      top AS (SELECT k, tok AS top_drift_token, round(ad, 6) AS top_drift FROM
                (SELECT k, tok, abs(p - q) AS ad,
                        row_number() OVER (PARTITION BY k
                                           ORDER BY abs(p - q) DESC, tok DESC) AS rn
                 FROM x) WHERE rn = 1)
      SELECT s.k AS source, n_tokens_a, n_tokens_b, js_divergence,
             top_drift_token, top_drift
      FROM s JOIN top ON s.k = top.k ORDER BY 1""",
    "q178_sketch_overlap" -> raw"""
      WITH st AS MATERIALIZED (
        SELECT DISTINCT source, token FROM (
          SELECT source,
                 unnest(list_distinct(list_transform(
                   range(0, greatest(len(tk) - 2, 0) + 1),
                   i -> array_to_string(tk[i+1:i+2], ' ')))) AS token
          FROM (SELECT source, $tk AS tk FROM documents) t) x),
      v AS (SELECT source, count(1) AS exact_vocab FROM st GROUP BY 1),
      ns AS (SELECT token, count(1) AS n FROM st GROUP BY 1),
      ov AS (SELECT s.source, count(1) AS exact_overlap
             FROM st s JOIN ns ON s.token = ns.token
             WHERE ns.n >= 2 GROUP BY 1)
      SELECT v.source, v.exact_vocab,
             coalesce(ov.exact_overlap, 0) AS exact_overlap,
             TRUE AS within_bound
      FROM v LEFT JOIN ov ON v.source = ov.source
      ORDER BY v.source""",
    "q154_incremental_datacard" -> raw"""
      WITH t AS (SELECT source, unnest($tk) AS tok FROM documents),
      e AS (SELECT source, count(DISTINCT tok) AS exact_words FROM t GROUP BY 1)
      SELECT d.source, count(1) AS n_docs,
             CAST(sum(d.n_chars) AS BIGINT) AS n_chars,
             e.exact_words, TRUE AS within_bound
      FROM documents d JOIN e ON d.source = e.source
      GROUP BY d.source, e.exact_words ORDER BY d.source""",
    "q104_datacard" -> raw"""
      WITH t AS (SELECT source, n_chars, lang, text, len($tk) AS ntok
                 FROM documents)
      SELECT source, count(1) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             CAST(sum(ntok) AS BIGINT) AS sum_tokens,
             round(avg(ntok), 4) AS avg_tokens,
             count(DISTINCT lang) AS n_langs,
             count(DISTINCT text) AS n_unique_texts
      FROM t GROUP BY 1 ORDER BY 1""",
    "q121_rep_concentration" -> raw"""
      WITH d AS (SELECT doc_id, $tk AS tk FROM documents),
      g2 AS (SELECT doc_id, unnest(CASE WHEN len(tk) >= 2
               THEN list_transform(range(0, len(tk) - 1),
                      i -> array_to_string(tk[i+1:i+2], ' '))
               ELSE [] END) AS gram FROM d),
      c2 AS (SELECT doc_id, gram, count(1) AS c FROM g2 GROUP BY 1, 2),
      s2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_2grams,
                    max(c) / sum(c) AS sh2 FROM c2 GROUP BY 1),
      g3 AS (SELECT doc_id, unnest(CASE WHEN len(tk) >= 3
               THEN list_transform(range(0, len(tk) - 2),
                      i -> array_to_string(tk[i+1:i+3], ' '))
               ELSE [] END) AS gram FROM d),
      c3 AS (SELECT doc_id, gram, count(1) AS c FROM g3 GROUP BY 1, 2),
      s3 AS (SELECT doc_id, max(c) / sum(c) AS sh3 FROM c3 GROUP BY 1)
      SELECT doc_id, n_2grams, round(sh2, 4) AS top2_share,
             round(coalesce(sh3, 0.0), 4) AS top3_share,
             (sh2 > 0.2 OR coalesce(sh3, 0.0) > 0.18) AS rep_flag
      FROM s2 LEFT JOIN s3 USING (doc_id)
      ORDER BY round(sh2, 4) DESC, doc_id LIMIT 20""",
    "q126_bpe_merges" -> bpeMergeOracle(4),
    "q129_bpe_encode" -> bpeEncodeOracle(4),
    "q267_bpe_token_budget" -> bpeBudgetOracle(4),
    "q170_max_coverage" -> maxCoverageOracle(5),
    "q128_unimax" -> raw"""
      WITH per AS (SELECT source, CAST(sum(len($tk)) AS BIGINT) AS n_tokens
                   FROM documents WHERE text IS NOT NULL GROUP BY 1),
      c AS (SELECT source, n_tokens, n_tokens * 4 AS cap_tokens FROM per),
      n AS (SELECT CAST(count(1) AS BIGINT) AS L FROM c),
      r AS (SELECT c.*, n.L,
              CAST(row_number() OVER (ORDER BY cap_tokens, source) AS BIGINT) AS i,
              sum(cap_tokens) OVER (ORDER BY cap_tokens, source
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM c, n),
      p AS (SELECT *,
              cap_tokens * (L - i + 1) <= 105000 - (cum - cap_tokens) AS capped
            FROM r),
      k AS (SELECT CAST(coalesce(sum(CASE WHEN capped THEN 1 END), 0) AS BIGINT) AS k,
                   CAST(coalesce(sum(CASE WHEN capped THEN cap_tokens END), 0) AS BIGINT) AS ck
            FROM p)
      SELECT source, n_tokens, cap_tokens, capped,
             CASE WHEN capped THEN cap_tokens
                  ELSE CAST(round((105000 - ck) / nullif(L - k, 0)) AS BIGINT)
             END AS alloc_tokens,
             round(CASE WHEN capped THEN cap_tokens
                  ELSE CAST(round((105000 - ck) / nullif(L - k, 0)) AS BIGINT)
             END / n_tokens, 4) AS epochs
      FROM p, k ORDER BY source""",
    "q124_vocab_growth" -> raw"""
      WITH bnd AS (SELECT CAST(min(doc_id) AS DOUBLE) AS lo,
                          CAST(max(doc_id) + 1 AS DOUBLE) AS hi FROM documents),
      d AS (SELECT doc_id, $tk AS tk FROM documents),
      tb AS (SELECT CAST(least(floor((doc_id - lo) * 10 / (hi - lo)), 9) AS BIGINT) AS bucket,
                    unnest(CASE WHEN len(tk) >= 3
                      THEN list_transform(range(0, len(tk) - 2),
                             i -> array_to_string(tk[i+1:i+3], ' '))
                      ELSE [] END) AS gram
             FROM d CROSS JOIN bnd),
      occ AS (SELECT bucket, count(1) AS n_grams FROM tb GROUP BY 1),
      fst AS (SELECT gram, min(bucket) AS bucket FROM tb GROUP BY 1),
      nw AS (SELECT bucket, count(1) AS n_new_types FROM fst GROUP BY 1),
      j AS (SELECT o.bucket, o.n_grams, coalesce(nw.n_new_types, 0) AS n_new_types
            FROM occ o LEFT JOIN nw USING (bucket)),
      c AS (SELECT bucket, n_grams, n_new_types,
                   sum(n_grams) OVER (ORDER BY bucket) AS cum_grams,
                   sum(n_new_types) OVER (ORDER BY bucket) AS cum_types
            FROM j)
      SELECT bucket, CAST(n_grams AS BIGINT) AS n_grams,
             CAST(n_new_types AS BIGINT) AS n_new_types,
             CAST(cum_grams AS BIGINT) AS cum_grams,
             CAST(cum_types AS BIGINT) AS cum_types,
             round(ln(cum_types) / ln(cum_grams), 4) AS heaps_beta
      FROM c ORDER BY bucket""",
    "q122_source_novelty" -> raw"""
      WITH d AS (SELECT source, $tk AS tk FROM documents),
      g AS (SELECT DISTINCT source, gram FROM (
              SELECT source, unnest(CASE WHEN len(tk) >= 5
                THEN list_transform(range(0, len(tk) - 4),
                       i -> array_to_string(tk[i+1:i+5], ' '))
                ELSE [] END) AS gram FROM d)),
      pg AS (SELECT gram, count(1) AS nsrc FROM g GROUP BY 1)
      SELECT source, CAST(count(1) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN nsrc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
             round(sum(CASE WHEN nsrc = 1 THEN 1 ELSE 0 END) / count(1), 4) AS novelty
      FROM g JOIN pg USING (gram)
      GROUP BY 1 ORDER BY source""",
    "q119_token_budget" -> raw"""
      WITH per AS (SELECT source, CAST(sum(len($tk)) AS BIGINT) AS n_tokens
                   FROM documents GROUP BY 1),
      tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS total FROM per),
      w AS (SELECT source, n_tokens,
                   round(pow(n_tokens / total, 0.7), 6) AS wr
            FROM per, tot),
      sw AS (SELECT sum(wr) AS sw FROM w),
      a AS (SELECT source, n_tokens, wr / sw.sw AS wn,
                   CAST(round(wr / sw.sw * 10000000.0) AS BIGINT) AS alloc_tokens
            FROM w, sw)
      SELECT source, n_tokens, round(wn, 4) AS weight, alloc_tokens,
             round(alloc_tokens / n_tokens, 4) AS epochs,
             (alloc_tokens / n_tokens > 4.0) AS over_4_epochs
      FROM a ORDER BY source""",
    "q117_bigram_ce" -> raw"""
      WITH d AS (SELECT doc_id, $tk AS tk FROM documents),
      uni AS (SELECT tok, count(1) AS cu FROM
                (SELECT unnest(tk) AS tok FROM d) GROUP BY 1),
      tot AS (SELECT sum(cu) AS t FROM uni),
      bg AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
               i -> struct_pack(w1 := tk[i::INT], w2 := tk[(i+1)::INT]))) AS p
             FROM d),
      bgd AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2, count(1) AS m
              FROM bg GROUP BY 1, 2, 3),
      cb AS (SELECT w1, w2, sum(m) AS cb FROM bgd GROUP BY 1, 2),
      sc AS (SELECT bgd.doc_id, bgd.m,
                    ln(0.75 * (cb.cb / u1.cu) + 0.25 * (u2.cu / tot.t)) AS lnp
             FROM bgd
             JOIN cb ON bgd.w1 = cb.w1 AND bgd.w2 = cb.w2
             JOIN uni u1 ON bgd.w1 = u1.tok
             JOIN uni u2 ON bgd.w2 = u2.tok
             CROSS JOIN tot)
      SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
             round(-sum(m * lnp) / sum(m), 4) AS ce
      FROM sc GROUP BY 1 ORDER BY 3 DESC, 1 LIMIT 20""",
    "q116_dsir_weights" -> raw"""
      WITH d AS (SELECT doc_id, (lang = 'en') AS is_target, $tk AS tk FROM documents),
      g AS (SELECT doc_id, is_target, unnest(
              tk || CASE WHEN len(tk) >= 2
                    THEN list_transform(range(0, len(tk) - 1),
                           i -> array_to_string(tk[i+1:i+2], ' '))
                    ELSE [] END) AS gram
            FROM d),
      hb AS (SELECT doc_id, is_target,
               list_reduce(
                 [0] || list_transform(regexp_extract_all(gram, '.'),
                   c -> CAST(unicode(c) AS BIGINT)),
                 (a, b) -> (a * 31 + b) % 1000000007) % 512 AS bucket
             FROM g),
      counts AS (SELECT doc_id, is_target, bucket, count(1) AS c
                 FROM hb GROUP BY 1, 2, 3),
      model AS (SELECT bucket, sum(c) AS s_b,
                       sum(CASE WHEN is_target THEN c ELSE 0 END) AS t_b
                FROM counts GROUP BY 1),
      tot AS (SELECT sum(s_b) AS s_tot, sum(t_b) AS t_tot FROM model),
      sc AS (SELECT doc_id, c,
                    ln(((t_b + 1) * (s_tot + 512)) /
                       ((s_b + 1) * (t_tot + 512))) AS lr
             FROM counts JOIN model USING (bucket) CROSS JOIN tot)
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feat,
             round(sum(c * lr), 4) AS dsir_w
      FROM sc GROUP BY 1 ORDER BY 3 DESC, 1 LIMIT 20""",
    "q115_bpe_pairs" -> raw"""
      WITH w AS (SELECT tok AS word, count(1) AS wc FROM
                   (SELECT unnest($tk) AS tok FROM documents) GROUP BY 1),
      p AS (SELECT unnest(list_transform(range(1, len(word)),
                     i -> substr(word, i::INT, 2))) AS pair, wc
            FROM w WHERE len(word) >= 2)
      SELECT pair, CAST(sum(wc) AS BIGINT) AS n
      FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT 20""",
    // the whole sketch replayed: polyHash char fold (prepended-0
    // list_reduce, the q85 replica), the q84 affine row family, bucket =
    // affine % 256; HUGEINT sums cast back to BIGINT
    "q190_cms_audit" -> raw"""
      WITH toks AS (
        SELECT unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS token
        FROM documents),
      vc AS (SELECT token, count(1) AS exact_count FROM toks GROUP BY 1),
      h AS (SELECT token, exact_count,
              list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(regexp_extract_all(token, '(?s).'),
                  c -> CAST(unicode(c) AS BIGINT))),
                (a, b) -> (a * 31 + b) % 1000000007) AS h
            FROM vc),
      params(r, a, b) AS (VALUES (0, 1, 3), (1, 3, 10), (2, 5, 17), (3, 7, 24)),
      cms AS (SELECT p.r, ((h.h * p.a + p.b) % 1000000007) % 256 AS col,
                     CAST(sum(exact_count) AS BIGINT) AS n
              FROM h, params p GROUP BY 1, 2),
      probes AS (SELECT token, exact_count, h FROM h
                 ORDER BY exact_count DESC, token ASC LIMIT 20),
      est AS (SELECT pr.token, pr.exact_count, min(c.n) AS cms_estimate
              FROM probes pr
              JOIN params p ON true
              JOIN cms c ON c.r = p.r
               AND c.col = ((pr.h * p.a + p.b) % 1000000007) % 256
              GROUP BY 1, 2)
      SELECT token, exact_count, cms_estimate,
             cms_estimate - exact_count AS overcount
      FROM est ORDER BY exact_count DESC, token ASC""",
    "q224_textrank" -> textrankOracle(4),
    // 1e-6-quantized log axes into the q203 HUGEINT algebra; the rank
    // window runs over the vocab aggregate
    "q232_zipf" -> raw"""
      WITH toks AS (SELECT unnest($tk) AS tok FROM documents),
      c AS (SELECT tok, CAST(count(1) AS BIGINT) AS n FROM toks GROUP BY 1),
      r AS (SELECT n, row_number() OVER (ORDER BY n DESC, tok ASC) AS rank
            FROM c),
      q AS (SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000 + 0.5)
                     AS HUGEINT) AS x,
                   CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000 + 0.5)
                     AS HUGEINT) AS y
            FROM r),
      g AS (SELECT CAST(count(1) AS HUGEINT) AS m, sum(x) AS sx, sum(y) AS sy,
                   sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
            FROM q),
      t AS (SELECT m, CAST(m * sxy - sx * sy AS DOUBLE) AS num,
                   CAST(m * sxx - sx * sx AS DOUBLE) AS den_x,
                   CAST(m * syy - sy * sy AS DOUBLE) AS den_y
            FROM g)
      SELECT CAST(m AS BIGINT) AS n_terms,
             CASE WHEN den_x > 0 THEN round(num / den_x, 6) + CAST(0 AS DOUBLE)
             END AS zipf_slope,
             CASE WHEN den_x > 0 AND den_y > 0 THEN
               round((num / den_x) * (num / den_y), 6) + CAST(0 AS DOUBLE)
             END AS r2
      FROM t""",
    // the q190 sketch SQL at width 65536, then per-row inner products in
    // HUGEINT and the depth-min — estimate and exact hash-checked as
    // BIGINT finals (interior stays HUGEINT/DECIMAL(38,0); the values
    // fit a Long beyond sf100); the overcount is a pure-integer ppm
    // quotient (HUGEINT // — CMS never undercounts, so the numerator
    // is ≥ 0 and truncation ≡ floor on both engines)
    "q230_cms_join_size" -> raw"""
      WITH counts AS MATERIALIZED (
        SELECT CAST(l_partkey AS VARCHAR) AS k, CAST(count(1) AS BIGINT) AS c
        FROM lineitem GROUP BY 1),
      h AS (SELECT c,
              list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(regexp_extract_all(k, '.'),
                  x -> CAST(unicode(x) AS BIGINT))),
                (a, b) -> (a * 31 + b) % 1000000007) AS h
            FROM counts),
      params(r, a, b) AS (VALUES (0, 1, 3), (1, 3, 10), (2, 5, 17), (3, 7, 24)),
      cms AS MATERIALIZED (
        SELECT p.r, ((h.h * p.a + p.b) % 1000000007) % 65536 AS col,
               CAST(sum(c) AS HUGEINT) AS n
        FROM h, params p GROUP BY 1, 2),
      ip AS (SELECT r, sum(n * n) AS ip FROM cms GROUP BY 1),
      e AS (SELECT CAST(min(ip) AS DECIMAL(38, 0)) AS join_size_estimate FROM ip),
      x AS (SELECT CAST(sum(CAST(c AS HUGEINT) * c) AS DECIMAL(38, 0))
              AS exact_size FROM counts)
      SELECT CAST(join_size_estimate AS BIGINT) AS join_size_estimate,
             CAST(exact_size AS BIGINT) AS exact_size,
             CAST(CAST((join_size_estimate - exact_size) * 1000000 AS HUGEINT)
                  // CAST(exact_size AS HUGEINT) AS BIGINT) AS rel_overcount_ppm
      FROM e CROSS JOIN x""",
    // both retrieval passes + the expansion pick replayed: rounded-score
    // cuts with id tiebreaks, 1e-6-quantized expansion ranking key;
    // toks MATERIALIZED (referenced by both passes and the term stats)
    "q225_rocchio_prf" -> raw"""
      WITH toks AS MATERIALIZED (
        SELECT doc_id, unnest(tk) AS tok, len(tk) AS dlen
        FROM (SELECT doc_id, $tk AS tk FROM documents)),
      stats AS (SELECT count(1) AS n_docs,
                       avg(len($tk) * 1.0) AS avgdl FROM documents),
      tf1 AS (SELECT doc_id, tok, count(1) AS cnt, max(dlen) AS dlen
              FROM toks WHERE tok IN ('hash', 'customer', 'stream')
              GROUP BY 1, 2),
      df1 AS (SELECT tok, count(1) AS df FROM tf1 GROUP BY 1),
      s1 AS (SELECT doc_id,
                    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
                      (cnt * 2.2) / (cnt + 1.2 * (0.25 + 0.75 * dlen / avgdl))
                      AS score
             FROM tf1 JOIN df1 USING (tok) CROSS JOIN stats),
      top1 AS MATERIALIZED (
        SELECT doc_id, round(sum(score), 4) + CAST(0 AS DOUBLE) AS s
        FROM s1 GROUP BY 1 ORDER BY 2 DESC, 1 ASC LIMIT 5),
      ftf AS MATERIALIZED (
        SELECT tok, count(1) AS ftf
        FROM toks JOIN top1 USING (doc_id)
        WHERE tok NOT IN ('hash', 'customer', 'stream')
        GROUP BY 1),
      dfc AS (SELECT tok, count(1) AS df
              FROM (SELECT DISTINCT doc_id, tok FROM toks)
              WHERE tok IN (SELECT tok FROM ftf) GROUP BY 1),
      nn AS (SELECT count(1) AS n FROM documents),
      expand AS (
        SELECT f.tok FROM ftf f JOIN dfc d USING (tok) CROSS JOIN nn
        ORDER BY CAST(floor(CAST(ftf AS DOUBLE) *
                   ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE)) *
                   1000000 + 0.5) AS BIGINT) DESC, tok ASC
        LIMIT 3),
      q2 AS (SELECT tok FROM expand
             UNION
             SELECT unnest(['hash', 'customer', 'stream'])),
      tf2 AS (SELECT doc_id, tok, count(1) AS cnt, max(dlen) AS dlen
              FROM toks WHERE tok IN (SELECT tok FROM q2) GROUP BY 1, 2),
      df2 AS (SELECT tok, count(1) AS df FROM tf2 GROUP BY 1),
      s2 AS (SELECT doc_id,
                    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
                      (cnt * 2.2) / (cnt + 1.2 * (0.25 + 0.75 * dlen / avgdl))
                      AS score
             FROM tf2 JOIN df2 USING (tok) CROSS JOIN stats)
      SELECT doc_id, round(sum(score), 4) + CAST(0 AS DOUBLE) AS prf_bm25
      FROM s2 GROUP BY 1 ORDER BY 2 DESC, 1 ASC LIMIT 10""",
    // exact 2×2 contingencies from the distinct (doc, term) relation;
    // ad−bc in HUGEINT (Spark: DECIMAL(38,0)) cast to double once; the
    // χ² expression mirrors the Spark operand order factor-for-factor
    "q223_chi2_terms" -> raw"""
      WITH base AS (
        SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
               $tk AS tk
        FROM documents),
      tot AS (SELECT CAST(sum(y) AS BIGINT) AS p,
                     CAST(count(1) - sum(y) AS BIGINT) AS q
              FROM base),
      dt AS (SELECT DISTINCT doc_id, y, token
             FROM (SELECT doc_id, y, unnest(tk) AS token FROM base)),
      c AS (SELECT token, CAST(sum(y) AS BIGINT) AS a,
                   CAST(count(1) AS BIGINT) AS df
            FROM dt GROUP BY 1 HAVING count(1) >= 5),
      x AS (SELECT token, df, a, df - a AS b, p - a AS c2,
                   q - (df - a) AS d, p, q
            FROM c CROSS JOIN tot),
      s AS (SELECT token, df, a,
                   CAST(CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c2
                     AS DOUBLE) AS diff,
                   CAST(p + q AS DOUBLE) AS n,
                   CAST(a + b AS DOUBLE) * CAST(c2 + d AS DOUBLE) *
                     CAST(a + c2 AS DOUBLE) * CAST(b + d AS DOUBLE) AS den
            FROM x)
      SELECT token, df, a AS pos_docs,
             CASE WHEN den > 0 THEN
               round(n * diff * diff / den, 4) + CAST(0 AS DOUBLE)
             END AS chi2,
             diff > 0 AS label_enriched
      FROM s
      ORDER BY chi2 DESC NULLS LAST, token LIMIT 25""",
    "q102_vocab" -> raw"""
      WITH toks AS (SELECT unnest($tk) AS token FROM documents),
      c AS (SELECT token, count(1) AS n FROM toks GROUP BY 1),
      top AS (SELECT token, n FROM c ORDER BY n DESC, token LIMIT 50)
      SELECT row_number() OVER (ORDER BY n DESC, token) AS token_id,
             token, CAST(n AS BIGINT) AS n
      FROM top ORDER BY 1""",
    "q101_quality_buckets" -> raw"""
      WITH toks AS (
        SELECT doc_id, unnest(tk) AS tok, len(tk) AS dlen
        FROM (SELECT doc_id, $tk AS tk FROM documents)),
      tf AS (SELECT doc_id, tok, count(1) AS cnt, max(dlen) AS dlen
             FROM toks GROUP BY 1, 2),
      g AS (SELECT tok, sum(cnt) AS gcnt FROM tf GROUP BY 1),
      t AS (SELECT sum(cnt) AS gtotal FROM tf),
      s AS (SELECT doc_id,
                   -sum(cnt * ln(gcnt * 1.0 / gtotal)) / max(dlen) AS surprisal
            FROM tf JOIN g USING (tok) CROSS JOIN t GROUP BY 1),
      b AS (SELECT d.lang, s.doc_id, s.surprisal,
                   ntile(3) OVER (PARTITION BY d.lang
                     ORDER BY round(s.surprisal, 4), s.doc_id) AS bucket
            FROM s JOIN documents d USING (doc_id))
      SELECT lang, bucket, count(1) AS n_docs,
             round(avg(round(surprisal, 4)), 4) AS avg_surprisal,
             min(doc_id) AS first_doc
      FROM b GROUP BY 1, 2 ORDER BY 1, 2""",
    "q99_shard_shuffle" -> raw"""
      WITH h AS (
        SELECT doc_id, n_chars,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(regexp_extract_all(CAST(doc_id AS VARCHAR), '.'),
                   c -> CAST(unicode(c) AS BIGINT))),
                 (a, b) -> (a * 31 + b) % 1000000007) AS hh
        FROM documents),
      s AS (
        SELECT doc_id, n_chars, hh % 8 AS shard,
               row_number() OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id) AS pos
        FROM h)
      SELECT shard, count(1) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY pos)) AS order_hash
      FROM s GROUP BY 1 ORDER BY 1""",
    "q135_heavy_hitters" -> raw"""
      WITH toks AS (
        SELECT unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS token
        FROM documents),
      tot AS (SELECT count(1) AS n FROM toks),
      freq AS (SELECT token, count(1) AS n_occurrences FROM toks GROUP BY 1)
      SELECT f.token, f.n_occurrences,
             round(f.n_occurrences * 1.0 / t.n, 4) AS share
      FROM freq f, tot t
      WHERE f.n_occurrences >= CAST(ceil(t.n * 0.03 - 1e-9) AS BIGINT)
      ORDER BY 2 DESC, 1""",
    "q133_self_repeat" -> raw"""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
        FROM documents),
      w AS (
        SELECT doc_id,
               unnest(list_transform(range(0, greatest(len(tk) - 2, 0)),
                 i -> struct_pack(pos := i,
                   gram := array_to_string(tk[i+1:i+3], ' ')))) AS s
        FROM toks),
      ww AS (SELECT doc_id, s.pos AS pos, s.gram AS gram FROM w),
      rep AS (
        SELECT doc_id, pos FROM (
          SELECT doc_id, pos,
                 min(pos) OVER (PARTITION BY doc_id, gram) AS minp
          FROM ww)
        WHERE pos > minp),
      runs AS (
        SELECT doc_id, grp, min(pos) AS s, count(1) AS run FROM (
          SELECT doc_id, pos,
                 pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
          FROM rep)
        GROUP BY doc_id, grp),
      iv AS (SELECT doc_id, s, s + run + 1 AS e FROM runs WHERE run >= 1),
      covered AS (
        SELECT DISTINCT doc_id, unnest(range(s, e + 1)) AS pos FROM iv),
      tp AS (
        SELECT doc_id, unnest(range(0, len(tk))) AS pos, tk FROM toks),
      tok AS (SELECT doc_id, pos, tk[pos+1] AS tok FROM tp),
      kept AS (
        SELECT t.doc_id, t.pos, t.tok
        FROM tok t LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
        WHERE c.pos IS NULL),
      agg AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
               count(1) AS n_kept
        FROM kept GROUP BY 1)
      SELECT t.doc_id,
             coalesce(a.clean_text, '') AS clean_text,
             CAST(len(t.tk) AS BIGINT) AS n_tokens,
             CAST(len(t.tk) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
      FROM toks t LEFT JOIN agg a USING (doc_id)
      ORDER BY 1""",
    "q131_span_removal" -> raw"""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
        FROM documents),
      w AS (
        SELECT doc_id,
               unnest(list_transform(range(0, greatest(len(tk) - 4, 0)),
                 i -> struct_pack(pos := i,
                   gram := array_to_string(tk[i+1:i+5], ' ')))) AS s
        FROM toks),
      ww AS (SELECT doc_id, s.pos AS pos, s.gram AS gram FROM w),
      dupg AS (
        SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM ww)
        GROUP BY gram HAVING count(1) >= 2),
      f AS (
        SELECT ww.doc_id, ww.pos, (d.gram IS NOT NULL) AS is_dup
        FROM ww LEFT JOIN dupg d USING (gram)),
      runs AS (
        SELECT doc_id, grp, min(pos) AS s, count(1) AS run FROM (
          SELECT doc_id, pos,
                 pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
          FROM f WHERE is_dup)
        GROUP BY doc_id, grp),
      iv AS (SELECT doc_id, s, s + run + 3 AS e FROM runs WHERE run >= 1),
      covered AS (
        SELECT DISTINCT doc_id, unnest(range(s, e + 1)) AS pos FROM iv),
      tp AS (
        SELECT doc_id, unnest(range(0, len(tk))) AS pos, tk FROM toks),
      tok AS (SELECT doc_id, pos, tk[pos+1] AS tok FROM tp),
      kept AS (
        SELECT t.doc_id, t.pos, t.tok
        FROM tok t LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
        WHERE c.pos IS NULL),
      agg AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
               count(1) AS n_kept
        FROM kept GROUP BY 1)
      SELECT t.doc_id,
             coalesce(a.clean_text, '') AS clean_text,
             CAST(len(t.tk) AS BIGINT) AS n_tokens,
             CAST(len(t.tk) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
      FROM toks t LEFT JOIN agg a USING (doc_id)
      ORDER BY 1""",
    "q107_dup_spans" -> raw"""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
        FROM documents),
      w AS (
        SELECT doc_id,
               unnest(list_transform(range(0, greatest(len(tk) - 4, 0)),
                 i -> struct_pack(pos := i,
                   gram := array_to_string(tk[i+1:i+5], ' ')))) AS s
        FROM toks),
      ww AS (SELECT doc_id, s.pos AS pos, s.gram AS gram FROM w),
      dupg AS (
        SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM ww)
        GROUP BY gram HAVING count(1) >= 2),
      f AS (
        SELECT ww.doc_id, ww.pos, (d.gram IS NOT NULL) AS is_dup
        FROM ww LEFT JOIN dupg d USING (gram)),
      runs AS (
        -- grp must come from a subquery: DuckDB refuses both GROUP BY on a
        -- window alias and a window inside the lateral-unnest query level
        SELECT doc_id, grp, count(1) AS run FROM (
          SELECT doc_id, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
          FROM f WHERE is_dup)
        GROUP BY doc_id, grp),
      longest AS (SELECT doc_id, max(run) AS longest_run FROM runs GROUP BY doc_id),
      per AS (
        SELECT doc_id, count(1) AS n_windows,
               sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS n_dup
        FROM f GROUP BY 1),
      perdoc AS (
        SELECT p.doc_id, p.n_windows, p.n_dup,
               coalesce(l.longest_run, 0) AS longest_run,
               round(p.n_dup * 1.0 / p.n_windows, 4) AS dup_ratio
        FROM per p LEFT JOIN longest l USING (doc_id))
      SELECT d.source,
             count(1) AS n_docs,
             CAST(sum(pd.n_dup) AS BIGINT) AS dup_windows,
             round(avg(pd.dup_ratio), 4) AS avg_dup_ratio,
             CAST(max(pd.longest_run) AS BIGINT) AS max_run
      FROM perdoc pd JOIN documents d USING (doc_id)
      GROUP BY 1 ORDER BY 1""",
    "q100_boilerplate" -> raw"""
      WITH toks AS (SELECT doc_id, $tk AS tk FROM documents),
      g AS (SELECT doc_id,
                   unnest(list_distinct(list_transform(
                     range(0, greatest(len(tk) - 3, 0) + 1),
                     i -> array_to_string(tk[i+1:i+3], ' ')))) AS gram
            FROM toks WHERE len(tk) >= 1),
      n AS (SELECT count(1) AS n_docs FROM documents),
      boiler AS (SELECT gram FROM g CROSS JOIN n GROUP BY gram, n_docs
                 HAVING count(1) > n_docs * 0.02),
      per_doc AS (
        SELECT g.doc_id, count(1) AS n_grams,
               sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_boiler
        FROM g LEFT JOIN boiler b USING (gram)
        GROUP BY 1),
      r AS (SELECT doc_id, round(n_boiler * 1.0 / n_grams, 4) AS ratio FROM per_doc)
      SELECT d.source, count(1) AS n_docs, round(avg(ratio), 4) AS avg_cover,
             CAST(sum(CASE WHEN ratio > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_dominated
      FROM r JOIN documents d USING (doc_id)
      GROUP BY 1 ORDER BY 1""",
    "q96_leakage_split" -> raw"""
      WITH RECURSIVE ${DedupQueries.OracleCandidatePairGraph},
      edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      lab AS (SELECT src AS node, least(src, min(dst)) AS component
              FROM reach GROUP BY src),
      assigned AS (
        SELECT d.doc_id, coalesce(l.component, d.doc_id) AS component
        FROM documents d LEFT JOIN lab l ON l.node = d.doc_id),
      chash AS (
        SELECT doc_id, component,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(regexp_extract_all(CAST(component AS VARCHAR), '.'),
                   c -> CAST(unicode(c) AS BIGINT))),
                 (a, b) -> (a * 31 + b) % 1000000007) % 10 AS h
        FROM assigned),
      s AS (
        SELECT doc_id, component,
               CASE WHEN h < 8 THEN 'train' WHEN h = 8 THEN 'val'
                    ELSE 'test' END AS split
        FROM chash)
      SELECT split, count(1) AS n_docs,
             count(DISTINCT component) AS n_components,
             min(doc_id) AS min_doc_id
      FROM s GROUP BY 1 ORDER BY 1""",
    "q95_training_prep" -> raw"""
      WITH dd AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
      d AS (
        SELECT doc_id, source, $tk AS tk
        FROM documents JOIN dd USING (doc_id)),
      g AS (
        SELECT doc_id, source, tk FROM d
        WHERE len(tk) >= 40
          AND len(list_filter(tk, t -> t IN ('the', 'a', 'of', 'and'))) * 1.0
                / greatest(len(tk), 1) <= 0.08),
      c AS (
        SELECT doc_id, source, tk,
               unnest(range(0, greatest(0, (len(tk) - 50 + 40 - 1) // 40) + 1)) AS chunk_id
        FROM g WHERE len(tk) > 0),
      s AS (
        SELECT doc_id, source,
               len(list_slice(tk, chunk_id*40 + 1, chunk_id*40 + 50)) AS ctoks
        FROM c),
      per_doc AS (
        SELECT doc_id, source, count(1) AS n_chunks, sum(ctoks) AS n_chunk_tokens
        FROM s GROUP BY 1, 2)
      SELECT source, count(1) AS n_docs,
             CAST(sum(n_chunks) AS BIGINT) AS sum_chunks,
             CAST(sum(n_chunk_tokens) AS BIGINT) AS sum_chunk_tokens
      FROM per_doc GROUP BY 1 ORDER BY 1""",
    "q94_chunking" -> raw"""
      WITH t AS (SELECT doc_id, $tk AS tk FROM documents),
      c AS (
        SELECT doc_id, tk,
               unnest(range(0, greatest(0, (len(tk) - 50 + 40 - 1) // 40) + 1)) AS chunk_id
        FROM t WHERE len(tk) > 0),
      s AS (
        SELECT doc_id, chunk_id,
               list_slice(tk, chunk_id*40 + 1, chunk_id*40 + 50) AS ctk
        FROM c)
      SELECT doc_id,
             count(1) AS n_chunks,
             CAST(sum(len(ctk)) AS BIGINT) AS sum_tokens,
             md5(string_agg(array_to_string(ctk, ' '), '|' ORDER BY chunk_id)) AS chunks_hash
      FROM s GROUP BY 1
      ORDER BY n_chunks DESC, doc_id ASC LIMIT 20""",
    "q92_lm_surprisal" -> raw"""
      WITH toks AS (
        SELECT doc_id, unnest(tk) AS tok, len(tk) AS dlen
        FROM (SELECT doc_id, $tk AS tk FROM documents)),
      tf AS (SELECT doc_id, tok, count(1) AS cnt, max(dlen) AS dlen
             FROM toks GROUP BY 1, 2),
      g AS (SELECT tok, sum(cnt) AS gcnt FROM tf GROUP BY 1),
      t AS (SELECT sum(cnt) AS gtotal FROM tf)
      SELECT doc_id,
             round(-sum(cnt * ln(gcnt * 1.0 / gtotal)) / max(dlen), 4) AS surprisal
      FROM tf JOIN g USING (tok) CROSS JOIN t
      GROUP BY 1 ORDER BY 2 DESC, 1 ASC LIMIT 20""",
    "q81_domain_mix" -> """
      WITH r AS (
        SELECT *, row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        FROM documents)
      SELECT source, count(1) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             max(doc_id) AS max_kept_id
      FROM r WHERE rn <= 15
      GROUP BY 1 ORDER BY 1""",
    "q82_dedup_apply" -> raw"""
      WITH RECURSIVE ${DedupQueries.OracleCandidatePairGraph},
      edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      lab AS (SELECT src AS node, least(src, min(dst)) AS component
              FROM reach GROUP BY src),
      dupes AS (SELECT node AS doc_id FROM lab WHERE node <> component)
      SELECT lang, count(1) AS n_docs_kept, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents ANTI JOIN dupes USING (doc_id)
      GROUP BY 1 ORDER BY 1""",
    "q78_tfidf_cosine" -> raw"""
      WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
      toks AS (
        SELECT doc_id, unnest(tk) AS tok, len(tk) AS dlen
        FROM (SELECT doc_id, $tk AS tk FROM d)),
      tf AS (SELECT doc_id, tok, count(1) AS cnt, max(dlen) AS dlen
             FROM toks GROUP BY 1, 2),
      dfreq AS (SELECT tok, count(1) AS df FROM tf GROUP BY 1),
      n AS (SELECT count(1) AS n_docs FROM d),
      w AS (SELECT doc_id, tok,
                   cnt * 1.0 / dlen * ln(n_docs * 1.0 / df) AS w
            FROM tf JOIN dfreq USING (tok) CROSS JOIN n),
      norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
      cap AS (SELECT tok FROM w GROUP BY tok HAVING count(1) BETWEEN 2 AND 1000),
      dots AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.w * b.w) AS dot
        FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
        JOIN cap ON a.tok = cap.tok
        GROUP BY 1, 2)
      SELECT id_a, id_b, round(dot / (na.nrm * nb.nrm), 4) AS sim
      FROM dots
      JOIN norms na ON na.doc_id = id_a
      JOIN norms nb ON nb.doc_id = id_b
      WHERE dot / (na.nrm * nb.nrm) >= 0.87
      ORDER BY 1, 2""",
    "q54_tfidf" -> raw"""
      WITH toks AS (
        SELECT doc_id, unnest(tk) AS tok, len(tk) AS dlen
        FROM (SELECT doc_id, $tk AS tk FROM documents)),
      tf AS (SELECT doc_id, tok, count(1) AS cnt, max(dlen) AS dlen
             FROM toks GROUP BY 1, 2),
      dfreq AS (SELECT tok, count(1) AS df FROM tf GROUP BY 1),
      n AS (SELECT count(1) AS n_docs FROM documents)
      SELECT doc_id, tok AS term,
             round(cnt * 1.0 / dlen * ln(n_docs * 1.0 / df), 4) AS tfidf
      FROM tf JOIN dfreq USING (tok) CROSS JOIN n
      ORDER BY 3 DESC, 1 ASC, 2 ASC LIMIT 20""",
    "q55_bm25" -> raw"""
      WITH toks AS (
        SELECT doc_id, unnest(tk) AS tok, len(tk) AS dlen
        FROM (SELECT doc_id, $tk AS tk FROM documents)),
      stats AS (SELECT count(1) AS n_docs,
                       avg(len($tk) * 1.0) AS avgdl FROM documents),
      tf AS (SELECT doc_id, tok, count(1) AS cnt, max(dlen) AS dlen
             FROM toks WHERE tok IN ('hash', 'customer', 'stream') GROUP BY 1, 2),
      dfreq AS (SELECT tok, count(1) AS df FROM tf GROUP BY 1),
      scored AS (
        SELECT doc_id,
               ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
                 (cnt * 2.2) / (cnt + 1.2 * (0.25 + 0.75 * dlen / avgdl)) AS score
        FROM tf JOIN dfreq USING (tok) CROSS JOIN stats)
      SELECT doc_id, round(sum(score), 4) AS bm25
      FROM scored GROUP BY 1 ORDER BY 2 DESC, 1 ASC LIMIT 10""",
    // both retriever chains verbatim (q55 BM25 / q148 integer-micros
    // tfidf), ranked by their tie contracts, fused 1/(60+r) in written
    // order — CAST(1 AS DOUBLE), not the DECIMAL literal 1.0
    "q201_rrf_fusion" -> raw"""
      WITH toks AS (
        SELECT doc_id, unnest(tk) AS tok, len(tk) AS dlen
        FROM (SELECT doc_id, $tk AS tk FROM documents)),
      stats AS (SELECT count(1) AS n_docs,
                       avg(len($tk) * 1.0) AS avgdl FROM documents),
      tfq AS (SELECT doc_id, tok, count(1) AS cnt, max(dlen) AS dlen
              FROM toks WHERE tok IN ('hash', 'customer', 'stream') GROUP BY 1, 2),
      dfq AS (SELECT tok, count(1) AS df FROM tfq GROUP BY 1),
      scored AS (
        SELECT doc_id,
               ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
                 (cnt * 2.2) / (cnt + 1.2 * (0.25 + 0.75 * dlen / avgdl)) AS score
        FROM tfq JOIN dfq USING (tok) CROSS JOIN stats),
      bm AS (SELECT doc_id, round(sum(score), 4) AS s
             FROM scored GROUP BY 1 ORDER BY 2 DESC, 1 ASC LIMIT 20),
      bmr AS (SELECT doc_id,
                     row_number() OVER (ORDER BY s DESC, doc_id ASC) AS r1
              FROM bm),
      tf AS (SELECT doc_id, tok, count(1) AS cnt, max(dlen) AS dlen
             FROM toks GROUP BY 1, 2),
      dfreq AS (SELECT tok, count(1) AS df FROM tf GROUP BY 1),
      n AS (SELECT count(1) AS n_docs FROM documents),
      ti AS (SELECT doc_id,
                    CAST(floor(cnt * 1.0 / dlen * ln(n_docs * 1.0 / df)
                               * 1000000 + 0.5) AS BIGINT) AS t6
             FROM tf JOIN dfreq USING (tok) CROSS JOIN n
             WHERE tok IN ('hash', 'customer', 'stream')),
      tis AS (SELECT doc_id, sum(t6) AS s6 FROM ti GROUP BY 1
              ORDER BY 2 DESC, 1 ASC LIMIT 20),
      tir AS (SELECT doc_id,
                     row_number() OVER (ORDER BY s6 DESC, doc_id ASC) AS r2
              FROM tis)
      SELECT coalesce(bmr.doc_id, tir.doc_id) AS doc_id,
             CAST(r1 AS BIGINT) AS rank_bm25,
             CAST(r2 AS BIGINT) AS rank_tfidf,
             round(coalesce(CAST(1 AS DOUBLE) / (60 + r1), CAST(0 AS DOUBLE))
                 + coalesce(CAST(1 AS DOUBLE) / (60 + r2), CAST(0 AS DOUBLE)), 6)
               + CAST(0 AS DOUBLE) AS rrf
      FROM bmr FULL OUTER JOIN tir ON bmr.doc_id = tir.doc_id
      ORDER BY rrf DESC, 1 ASC""",
    "q148_keywords" -> raw"""
      WITH toks AS (
        SELECT doc_id, unnest(tk) AS tok, len(tk) AS dlen
        FROM (SELECT doc_id, $tk AS tk FROM documents)),
      tf AS (SELECT doc_id, tok, count(1) AS cnt, max(dlen) AS dlen
             FROM toks GROUP BY 1, 2),
      dfreq AS (SELECT tok, count(1) AS df FROM tf GROUP BY 1),
      n AS (SELECT count(1) AS n_docs FROM documents),
      ti AS (SELECT doc_id, tok,
                    CAST(floor(cnt * 1.0 / dlen * ln(n_docs * 1.0 / df)
                               * 1000000 + 0.5) AS BIGINT) AS t6
             FROM tf JOIN dfreq USING (tok) CROSS JOIN n),
      st AS (SELECT d.source, ti.tok AS term, sum(ti.t6) AS s6
             FROM ti JOIN documents d USING (doc_id) GROUP BY 1, 2),
      r AS (SELECT source, term, s6,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY s6 DESC, term ASC) AS rank
            FROM st)
      SELECT source, CAST(rank AS BIGINT) AS rank, term,
             round(CAST(s6 AS DOUBLE) / 1000000, 6) AS score
      FROM r WHERE rank <= 3 ORDER BY 1, 2""",
    "q146_priority_sample" -> raw"""
      WITH h AS (
        SELECT doc_id, source, n_chars,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(regexp_extract_all(CAST(doc_id AS VARCHAR), '.'),
                   c -> CAST(unicode(c) AS BIGINT))),
                 (a, b) -> (a * 31 + b) % 1000000007) AS hh
        FROM documents),
      p AS (SELECT doc_id, source, n_chars,
                   round(ln((hh % 999983 + 1) / CAST(999984 AS DOUBLE))
                         / n_chars, 9) AS priority
            FROM h)
      SELECT doc_id, source, n_chars, priority
      FROM p ORDER BY priority DESC, doc_id ASC LIMIT 25""",
    "q143_conjunctive_search" -> raw"""
      WITH toks AS (
        SELECT doc_id, unnest(tk) AS tok, len(tk) AS dlen
        FROM (SELECT doc_id, $tk AS tk FROM documents)),
      stats AS (SELECT count(1) AS n_docs,
                       avg(len($tk) * 1.0) AS avgdl FROM documents),
      tf AS (SELECT doc_id, tok, count(1) AS cnt, max(dlen) AS dlen
             FROM toks WHERE tok IN ('dup', 'vector', 'key') GROUP BY 1, 2),
      dfreq AS (SELECT tok, count(1) AS df FROM tf GROUP BY 1),
      scored AS (
        SELECT doc_id,
               ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
                 (cnt * 2.2) / (cnt + 1.2 * (0.25 + 0.75 * dlen / avgdl)) AS score
        FROM tf JOIN dfreq USING (tok) CROSS JOIN stats),
      agg AS (SELECT doc_id, round(sum(score), 4) AS bm25, count(1) AS m
              FROM scored GROUP BY 1)
      SELECT doc_id, bm25 FROM agg WHERE m = 3
      ORDER BY 2 DESC, 1 ASC LIMIT 15""",
    // identical micros-integer weights, guarded division, floor seats,
    // largest-remainder top-up (rem desc, stratum asc), N_h caps
    "q214_neyman_alloc" -> """
      WITH stats AS (
        SELECT source AS stratum, CAST(count(1) AS BIGINT) AS n_rows,
               round(stddev_pop(CAST(n_chars AS DOUBLE)), 6) AS sigma
        FROM documents GROUP BY 1),
      w AS (SELECT stratum, n_rows, sigma,
                   CAST(floor(CAST(n_rows AS DOUBLE) * coalesce(sigma, CAST(0 AS DOUBLE))
                              * 1000000 + 0.5) AS BIGINT) AS w6
            FROM stats),
      t AS (SELECT CAST(sum(w6) AS BIGINT) AS t6 FROM w),
      based AS (
        SELECT stratum, n_rows, sigma, w6,
               CASE WHEN t.t6 > 0 THEN
                 CAST(500 AS DOUBLE) * CAST(w6 AS DOUBLE) / CAST(t.t6 AS DOUBLE)
               ELSE CAST(0 AS DOUBLE) END AS raw
        FROM w CROSS JOIN t),
      b2 AS (SELECT *, CAST(floor(raw) AS BIGINT) AS base,
                    raw - CAST(floor(raw) AS BIGINT) AS rem
             FROM based),
      lft AS (SELECT greatest(CAST(0 AS BIGINT),
                              500 - CAST(sum(base) AS BIGINT)) AS l FROM b2),
      rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, stratum ASC) AS rnk
             FROM b2)
      SELECT stratum, n_rows, sigma, w6,
             least(n_rows, base + CASE WHEN rnk <= lft.l AND w6 > 0
                                        THEN 1 ELSE 0 END) AS alloc
      FROM rk CROSS JOIN lft
      ORDER BY stratum""",
    // the 6 offset zips mirrored as unnested list_transforms; identical
    // (c_xy·N)/(c_x·c_y) operands and the positive clip
    "q212_skipgram_ppmi" -> raw"""
      WITH toks AS (SELECT $tk AS tk FROM documents),
      pairs AS (
        SELECT unnest(list_transform(range(1, len(tk) - 1 + 1),
                 i -> struct_pack(x := tk[i], y := tk[i + 1]))) AS p
        FROM toks WHERE len(tk) > 1
        UNION ALL
        SELECT unnest(list_transform(range(1, len(tk) - 1 + 1),
                 i -> struct_pack(x := tk[i + 1], y := tk[i]))) AS p
        FROM toks WHERE len(tk) > 1
        UNION ALL
        SELECT unnest(list_transform(range(1, len(tk) - 2 + 1),
                 i -> struct_pack(x := tk[i], y := tk[i + 2]))) AS p
        FROM toks WHERE len(tk) > 2
        UNION ALL
        SELECT unnest(list_transform(range(1, len(tk) - 2 + 1),
                 i -> struct_pack(x := tk[i + 2], y := tk[i]))) AS p
        FROM toks WHERE len(tk) > 2
        UNION ALL
        SELECT unnest(list_transform(range(1, len(tk) - 3 + 1),
                 i -> struct_pack(x := tk[i], y := tk[i + 3]))) AS p
        FROM toks WHERE len(tk) > 3
        UNION ALL
        SELECT unnest(list_transform(range(1, len(tk) - 3 + 1),
                 i -> struct_pack(x := tk[i + 3], y := tk[i]))) AS p
        FROM toks WHERE len(tk) > 3),
      cxy AS (SELECT p.x AS x, p.y AS y, count(1) AS c_xy FROM pairs GROUP BY 1, 2),
      cx AS (SELECT x, CAST(sum(c_xy) AS BIGINT) AS c_x FROM cxy GROUP BY 1),
      cy AS (SELECT y, CAST(sum(c_xy) AS BIGINT) AS c_y FROM cxy GROUP BY 1),
      t AS (SELECT CAST(sum(c_xy) AS DOUBLE) AS n FROM cxy)
      SELECT cxy.x, cxy.y, cxy.c_xy,
             round(greatest(CAST(0 AS DOUBLE),
               ln((CAST(c_xy AS DOUBLE) * t.n) /
                  (CAST(c_x AS DOUBLE) * CAST(c_y AS DOUBLE)))), 6)
               + CAST(0 AS DOUBLE) AS ppmi
      FROM cxy JOIN cx USING (x) JOIN cy USING (y) CROSS JOIN t
      WHERE c_xy >= 5
      ORDER BY ppmi DESC, cxy.x ASC, cxy.y ASC LIMIT 50""",
    // identical probability derivation and ln-operand parenthesization:
    // (cb/N) / ((cu1/T) * (cu2/T)), every term an exact-integer double
    "q199_pmi_collocations" -> raw"""
      WITH toks AS (SELECT $tk AS tk FROM documents),
      uni AS (SELECT unnest(tk) AS tok FROM toks),
      cu AS (SELECT tok, count(1) AS cu FROM uni GROUP BY 1),
      tt AS (SELECT CAST(count(1) AS DOUBLE) AS t FROM uni),
      bg AS (SELECT unnest(list_transform(range(1, len(tk)),
                      i -> struct_pack(w1 := tk[i], w2 := tk[i+1]))) AS p
             FROM toks WHERE len(tk) >= 2),
      cb AS (SELECT p.w1 AS w1, p.w2 AS w2, count(1) AS cb FROM bg GROUP BY 1, 2),
      nb AS (SELECT CAST(sum(cb) AS DOUBLE) AS n FROM cb)
      SELECT c.w1, c.w2, c.cb,
             round(ln((CAST(c.cb AS DOUBLE) / nb.n) /
               ((CAST(u1.cu AS DOUBLE) / tt.t) *
                (CAST(u2.cu AS DOUBLE) / tt.t))), 6) + CAST(0 AS DOUBLE) AS pmi
      FROM cb c
      JOIN cu u1 ON u1.tok = c.w1
      JOIN cu u2 ON u2.tok = c.w2, nb, tt
      WHERE c.cb >= 5
      ORDER BY pmi DESC, c.w1 ASC, c.w2 ASC LIMIT 50""",
    "q56_bigram_freq" -> raw"""
      WITH toks AS (SELECT $tk AS tk FROM documents),
      g AS (SELECT unnest(list_transform(range(0, greatest(len(tk) - 2, 0) + 1),
                     i -> array_to_string(tk[i+1:i+2], ' '))) AS bigram
            FROM toks WHERE len(tk) >= 2)
      SELECT bigram, count(1) AS n FROM g GROUP BY 1
      ORDER BY 2 DESC, 1 ASC LIMIT 20""",
    // the stopword-ratio score replayed (same top-20 cut), fixed-width
    // bins on the identical double, 1e-9-quantized per-row terms
    "q239_calibration" -> raw"""
      WITH toks AS MATERIALIZED (
        SELECT doc_id, lang, unnest($tk) AS tok FROM documents),
      top AS (SELECT tok AS sw FROM
                (SELECT tok, count(1) AS n FROM toks GROUP BY 1
                 ORDER BY n DESC, tok ASC LIMIT 20)),
      per AS (SELECT t.doc_id, t.lang, count(1) AS b,
                     CAST(sum(CASE WHEN sw IS NOT NULL THEN 1 ELSE 0 END)
                       AS BIGINT) AS a
              FROM toks t LEFT JOIN top ON t.tok = sw
              GROUP BY 1, 2),
      s AS (SELECT CAST(a AS DOUBLE) / CAST(b AS DOUBLE) AS p,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM per),
      binned AS (SELECT CAST(least(floor(p * 10), CAST(9 AS DOUBLE)) AS BIGINT)
                   AS bin,
                   CAST(count(1) AS BIGINT) AS n_rows,
                   CAST(sum(y) AS BIGINT) AS pos,
                   sum(CAST(floor(p * 1000000000 + 0.5) AS BIGINT)) AS sp,
                   sum(CAST(floor((p - y) * (p - y) * 1000000000 + 0.5)
                     AS BIGINT)) AS sb
                 FROM s GROUP BY 1)
      SELECT bin, n_rows,
             round(CAST(sp AS DOUBLE) / 1000000000 / n_rows, 6)
               + CAST(0 AS DOUBLE) AS mean_pred,
             round(CAST(pos AS DOUBLE) / n_rows, 6)
               + CAST(0 AS DOUBLE) AS pos_rate,
             round(CAST(sb AS DOUBLE) / 1000000000 / n_rows, 6)
               + CAST(0 AS DOUBLE) AS bin_brier
      FROM binned ORDER BY 1""",
    // two lags over the same session window; both hop gaps enforced
    "q236_session_trigrams" -> """
      WITH o AS (
        SELECT user_id, event_type, ts, event_id,
               epoch_ms(ts) AS ms,
               lag(epoch_ms(ts), 1) OVER w AS p1_ms,
               lag(event_type, 1) OVER w AS p1_ty,
               lag(epoch_ms(ts), 2) OVER w AS p2_ms,
               lag(event_type, 2) OVER w AS p2_ty
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT p2_ty AS t1, p1_ty AS t2, event_type AS t3,
             CAST(count(1) AS BIGINT) AS n
      FROM o
      WHERE p2_ms IS NOT NULL AND ms - p1_ms <= 43200000
        AND p1_ms - p2_ms <= 43200000
      GROUP BY 1, 2, 3
      ORDER BY n DESC, t1, t2, t3 LIMIT 20""",
    // distinct (source, token) relation feeds margins AND intersections
    "q254_vocab_overlap" -> raw"""
      WITH v AS MATERIALIZED (
        SELECT DISTINCT source, tok FROM
          (SELECT source, unnest($tk) AS tok FROM documents)),
      sz AS (SELECT source, CAST(count(1) AS BIGINT) AS n FROM v GROUP BY 1),
      i AS (SELECT a.source AS source_a, b.source AS source_b,
                   CAST(count(1) AS BIGINT) AS n_shared
            FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
            GROUP BY 1, 2)
      SELECT source_a, source_b, n_shared,
             round(CAST(n_shared AS DOUBLE) /
               CAST(sa.n + sb.n - n_shared AS DOUBLE), 6) + CAST(0 AS DOUBLE)
               AS vocab_jaccard
      FROM i
      JOIN sz sa ON sa.source = source_a
      JOIN sz sb ON sb.source = source_b
      ORDER BY 1, 2""",
    // the 80/20 split replayed; OOV on both the vocab and token-mass axes
    "q255_oov_rate" -> raw"""
      WITH toks AS MATERIALIZED (
        SELECT doc_id, unnest($tk) AS tok FROM documents),
      oldv AS (SELECT DISTINCT tok FROM toks WHERE doc_id % 5 <> 0),
      newc AS (SELECT tok, CAST(count(1) AS BIGINT) AS c FROM toks
               WHERE doc_id % 5 = 0 GROUP BY 1),
      j AS (SELECT newc.tok, c, oldv.tok IS NOT NULL AS seen
            FROM newc LEFT JOIN oldv ON newc.tok = oldv.tok)
      SELECT CAST(count(1) AS BIGINT) AS new_vocab,
             CAST(sum(CASE WHEN NOT seen THEN 1 ELSE 0 END) AS BIGINT)
               AS oov_vocab,
             round(CAST(sum(CASE WHEN NOT seen THEN 1 ELSE 0 END) AS DOUBLE) /
               count(1), 6) + CAST(0 AS DOUBLE) AS oov_vocab_share,
             CAST(sum(c) AS BIGINT) AS new_tokens,
             CAST(sum(CASE WHEN NOT seen THEN c ELSE 0 END) AS BIGINT)
               AS oov_tokens,
             round(CAST(sum(CASE WHEN NOT seen THEN c ELSE 0 END) AS DOUBLE) /
               CAST(sum(c) AS DOUBLE), 6) + CAST(0 AS DOUBLE) AS oov_token_share
      FROM j""",
    // full-grid expected counts (absent cells from the margins), exact
    // HUGEINT cross terms, 1e-9 cell quantization, the SHARED dof→crit
    // literal table as a CASE
    "q253_chi2_homogeneity" -> {
      val arms = graft.operators.Checks.Chi2Crit95.zipWithIndex
        .map { case (v, i) => s"WHEN dof = ${i + 1} THEN CAST($v AS DOUBLE)" }
        .mkString(" ")
      raw"""
      WITH joint AS MATERIALIZED (
        SELECT source AS x, lang AS y, CAST(count(1) AS BIGINT) AS o
        FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
        GROUP BY 1, 2),
      mx AS MATERIALIZED (SELECT x, CAST(sum(o) AS BIGINT) AS r FROM joint GROUP BY 1),
      my AS MATERIALIZED (SELECT y, CAST(sum(o) AS BIGINT) AS c FROM joint GROUP BY 1),
      t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM joint),
      grid AS (SELECT mx.r AS r, my.c AS c, coalesce(joint.o, 0) AS o
               FROM mx CROSS JOIN my
               LEFT JOIN joint ON joint.x = mx.x AND joint.y = my.y),
      q AS (SELECT sum(CAST(floor(
              CAST(CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c AS DOUBLE) *
              CAST(CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c AS DOUBLE) /
              (CAST(n AS DOUBLE) * CAST(r AS DOUBLE) * CAST(c AS DOUBLE)) *
              1000000000 + 0.5) AS BIGINT)) AS qq,
              CAST(max(n) AS BIGINT) AS n_rows
            FROM grid CROSS JOIN t),
      dims AS (SELECT (SELECT CAST(count(1) AS BIGINT) FROM mx) AS n_x,
                      (SELECT CAST(count(1) AS BIGINT) FROM my) AS n_y),
      f AS (SELECT n_rows, n_x, n_y, (n_x - 1) * (n_y - 1) AS dof,
                   CAST(qq AS DOUBLE) / 1000000000 AS chi2raw
            FROM q CROSS JOIN dims)
      SELECT n_rows, n_x, n_y, dof,
             round(chi2raw, 4) + CAST(0 AS DOUBLE) AS chi2,
             CASE $arms END AS crit_95,
             CASE WHEN dof >= 1 AND dof <= 30 THEN
               round(chi2raw, 4) <= (CASE $arms END) END AS homogeneous_95
      FROM f"""
    },
    // shared joint cells feed MI and H(y); per-cell 1e-9 quantization
    // before every sum, one closing exact-integer ratio
    "q238_uncertainty" -> """
      WITH joint AS (SELECT source AS x, lang AS y,
                            CAST(count(1) AS BIGINT) AS n_xy
                     FROM documents
                     WHERE source IS NOT NULL AND lang IS NOT NULL
                     GROUP BY 1, 2),
      mx AS (SELECT x, CAST(sum(n_xy) AS BIGINT) AS n_x FROM joint GROUP BY 1),
      my AS (SELECT y, CAST(sum(n_xy) AS BIGINT) AS n_y FROM joint GROUP BY 1),
      t AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM joint),
      mi AS (SELECT sum(CAST(floor(
               (CAST(n_xy AS DOUBLE) / n) *
               ln((CAST(n_xy AS DOUBLE) * n) /
                  (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))) *
               1000000000 + 0.5) AS BIGINT)) AS mi
             FROM joint JOIN mx USING (x) JOIN my USING (y) CROSS JOIN t),
      hy AS (SELECT sum(CAST(floor(
               (CAST(n_y AS DOUBLE) / n) *
               -ln(CAST(n_y AS DOUBLE) / n) *
               1000000000 + 0.5) AS BIGINT)) AS hy,
               CAST(count(1) AS BIGINT) AS n_y_classes
             FROM my CROSS JOIN t)
      SELECT t.n AS n_rows, hy.n_y_classes,
             round(CAST(mi.mi AS DOUBLE) / 1000000000, 6)
               + CAST(0 AS DOUBLE) AS mi_nats,
             round(CAST(hy.hy AS DOUBLE) / 1000000000, 6)
               + CAST(0 AS DOUBLE) AS h_y_nats,
             CASE WHEN hy.hy > 0 THEN
               round(CAST(mi.mi AS DOUBLE) / CAST(hy.hy AS DOUBLE), 6)
                 + CAST(0 AS DOUBLE) END AS uncertainty_coef
      FROM mi CROSS JOIN hy CROSS JOIN t""",
    "q207_markov_transitions" -> """
      WITH o AS (
        SELECT user_id, event_type, ts, event_id,
               lag(epoch_ms(ts)) OVER w AS prev_ms,
               lag(event_type) OVER w AS prev_ty
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      tr AS (SELECT prev_ty AS from_type, event_type AS to_type,
                    count(1) AS n
             FROM o
             WHERE prev_ms IS NOT NULL AND epoch_ms(ts) - prev_ms <= 43200000
             GROUP BY 1, 2),
      rt AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS rt FROM tr GROUP BY 1)
      SELECT tr.from_type, tr.to_type, tr.n,
             round(CAST(tr.n AS DOUBLE) / CAST(rt.rt AS DOUBLE), 6)
               + CAST(0 AS DOUBLE) AS p
      FROM tr JOIN rt USING (from_type)
      ORDER BY tr.from_type, tr.to_type""",
    "q57_sessionize" -> """
      WITH o AS (
        SELECT user_id, event_id, ts,
               lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events),
      b AS (SELECT *, CASE WHEN prev IS NULL OR epoch_ms(ts) - prev > 43200000
                           THEN 1 ELSE 0 END AS brk FROM o),
      s AS (SELECT user_id, event_id, ts,
                   CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
            FROM b)
      SELECT user_id, session_id, count(1) AS n_events,
             max(epoch_ms(ts)) - min(epoch_ms(ts)) AS dur_ms
      FROM s GROUP BY 1, 2 ORDER BY 1, 2""",
    "q58_packing" -> raw"""
      WITH t AS (SELECT source, doc_id, len($tk) AS ntok FROM documents),
      c AS (SELECT source, doc_id, ntok,
                   coalesce(sum(ntok) OVER (PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
            FROM t)
      SELECT source, CAST(floor(bef / 2048) AS BIGINT) AS bin, count(1) AS n_docs,
             CAST(sum(ntok) AS BIGINT) AS sum_tokens,
             round(sum(ntok) / 2048.0, 4) AS fill
      FROM c GROUP BY 1, 2 ORDER BY 1, 2""",
    "q59_repetition" -> raw"""
      WITH t AS (SELECT source, $tk AS tk FROM documents),
      g AS (SELECT source,
                   CASE WHEN len(tk) < 2 THEN CAST([] AS VARCHAR[])
                        ELSE list_transform(range(0, len(tk) - 1),
                               i -> array_to_string(tk[i+1:i+2], ' ')) END AS bg
            FROM t),
      r AS (SELECT source,
                   CASE WHEN len(bg) = 0 THEN 0.0
                        ELSE 1.0 - len(list_distinct(bg)) * 1.0 / len(bg) END AS rep
            FROM g)
      SELECT source, count(1) AS n_docs, round(avg(rep), 4) AS avg_rep,
             round(max(rep), 4) AS max_rep
      FROM r GROUP BY 1 ORDER BY 1""",
    "q63_entropy" -> raw"""
      WITH toks AS (
        SELECT doc_id, unnest($tk) AS tok FROM documents),
      cnts AS (SELECT doc_id, tok, count(1) AS cnt FROM toks GROUP BY 1, 2),
      ent AS (SELECT doc_id,
                     ln(sum(cnt)) - sum(cnt * ln(cnt)) / sum(cnt) AS entropy
              FROM cnts GROUP BY 1)
      SELECT d.lang, count(1) AS n_docs,
             round(avg(entropy), 4) AS avg_entropy,
             round(min(entropy), 4) AS min_entropy,
             round(max(entropy), 4) AS max_entropy
      FROM ent JOIN documents d USING (doc_id)
      GROUP BY 1 ORDER BY 1""",
    "q64_redact" -> raw"""
      WITH r AS (
        SELECT source, text,
               regexp_replace(text, '\b(customer|value)\b', '[X]', 'g') AS red,
               len(regexp_extract_all(text, '\b(customer|value)\b')) AS n_red
        FROM documents)
      SELECT source, count(1) AS n_docs,
             CAST(sum(CASE WHEN n_red > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_hit,
             CAST(sum(n_red) AS BIGINT) AS total_redactions,
             CAST(sum(length(text) - length(red)) AS BIGINT) AS chars_removed
      FROM r GROUP BY 1 ORDER BY 1""",
    "q65_contamination" -> raw"""
      WITH toks AS (SELECT doc_id, $tk AS tk FROM documents),
      sh AS (SELECT doc_id,
                    unnest(list_distinct(list_transform(
                      range(0, greatest(len(tk) - 4, 0) + 1),
                      i -> array_to_string(tk[i+1:i+4], ' ')))) AS gram
             FROM toks WHERE len(tk) >= 1),
      bench AS (SELECT DISTINCT gram FROM sh WHERE doc_id % 25 = 0)
      SELECT s.doc_id, count(DISTINCT s.gram) AS n_shared_grams
      FROM sh s JOIN bench USING (gram)
      WHERE s.doc_id % 25 <> 0
      GROUP BY 1 ORDER BY 1""",
    "q66_stratified_sample" -> """
      WITH r AS (
        SELECT *, row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        FROM documents)
      SELECT source, count(1) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             min(doc_id) AS first_id
      FROM r WHERE (rn - 1) % 10 = 0
      GROUP BY 1 ORDER BY 1""")
}
