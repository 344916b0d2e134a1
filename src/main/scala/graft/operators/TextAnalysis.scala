package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.TextFunctions

/** Text-analysis operators for the training-data-pipeline surface
  * (BASELINE.json): language ID, quality scoring, token counting, document
  * fingerprinting. Everything except the rolling-hash fingerprint is
  * built-in-expression dataflow (codegen'd, oracle-expressible).
  */
object TextAnalysis {

  /** Tiny per-language stopword lexicons for the n-gram/stopword language-ID
    * heuristic. Deterministic and oracle-expressible (the DuckDB twin uses
    * the same VALUES list).
    */
  val Lexicons: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "a", "en" -> "of", "en" -> "and", "en" -> "small",
    "de" -> "der", "de" -> "und", "de" -> "die", "de" -> "fast", "de" -> "hash",
    "es" -> "el", "es" -> "la", "es" -> "de", "es" -> "y", "es" -> "data")

  /** Language ID: explode tokens, broadcast-join the lexicon, count hits per
    * (doc, lang), argmax with deterministic tie-break (hits desc, lang asc).
    * Docs with zero lexicon hits → 'unknown'.
    */
  def languageId(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val lex = broadcast(Lexicons.toDF("lex_lang", "lex_tok"))
    // explode_outer + null filter: avoids InferFiltersFromGenerate inlining
    // the tokenize pipeline into a pre-Generate filter (double tokenization
    // per document — see Dedup.shingleIndex).
    val toks = docs
      .select(col("doc_id"), explode_outer(TextFunctions.tokens(col("text"))).as("tok"))
      .filter(col("tok").isNotNull)
    val hits = toks.join(lex, col("tok") === col("lex_tok"))
      .groupBy("doc_id", "lex_lang")
      .agg(count(lit(1)).as("hits"))
    val w = Window.partitionBy("doc_id").orderBy(col("hits").desc, col("lex_lang").asc)
    val best = hits.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("lex_lang").as("pred_lang"), col("hits"))
    docs.select("doc_id").join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("pred_lang"), lit("unknown")).as("pred_lang"),
        coalesce(col("hits"), lit(0L)).as("hits"))
  }

  /** Quality metrics per document: token count, mean token length,
    * punctuation ratio, stopword ratio — the standard cheap quality signals
    * for corpus filtering.
    */
  /** Flesch reading-ease readability per document — the classic
    * quality-filter signal (very low scores flag boilerplate/legalese,
    * implausibly high ones flag token soup). Counts are pure regexp
    * kernels, all codegen map-side, zero shuffles:
    *  - words = whitespace tokens;
    *  - syllables ≈ vowel GROUPS (`[aeiouy]+` runs — a vowel run cannot
    *    cross whitespace, so the whole-text count equals the per-word sum);
    *  - sentences = terminator runs (`[.!?]+`), floored at 1.
    * Score = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words),
    * every constant an explicit double (the q141 literal convention) and
    * the result rounded to 4. Zero-word docs emit null score.
    */
  def readability(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = size(graft.functions.TextFunctions.tokens(col(textCol)))
    val syll = size(regexp_extract_all(lower(col(textCol)), lit("[aeiouy]+"), lit(0)))
    val sent = greatest(size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0))), lit(1))
    docs.select(col(idCol), words.as("n_words"), sent.as("n_sentences"), syll.as("n_syllables"))
      .withColumn("flesch",
        when(col("n_words") > 0,
          round(lit(206.835)
            - lit(1.015) * (col("n_words").cast("double") / col("n_sentences"))
            - lit(84.6) * (col("n_syllables").cast("double") / col("n_words")), 4)))
  }

  def qualityMetrics(docs: DataFrame): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    val stop = array(Seq("the", "a", "of", "and").map(lit): _*)
    docs
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("mean_tok_len",
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
          greatest(size(toks), lit(1)).cast("double"))
      .withColumn("punct_ratio", TextFunctions.punctRatio(col("text")))
      .withColumn("stopword_ratio",
        size(filter(toks, t => array_contains(stop, t))).cast("double") /
          greatest(size(toks), lit(1)).cast("double"))
  }

  /** Rolling-hash document fingerprint (Rabin-Karp flavored): hash of every
    * `w`-token window, fingerprint = min hash (a 1-permutation MinHash —
    * winnowing's cheap cousin). Hash-function-dependent → rows-only check +
    * ScalaTest, not DuckDB oracle.
    */
  def fingerprint(docs: DataFrame, window: Int = 4): DataFrame = {
    val sh = TextFunctions.shingles(col("text"), window)
    Dedup.spread(docs).select(
      col("doc_id"),
      array_min(transform(sh, s => xxhash64(s))).as("fingerprint"))
  }

  /** Rolling-hash fingerprint on the FINALIZED polynomial hash — the
    * declared gate form beside [[fingerprint]]'s xxhash64 (the
    * q228-beside-q71 convention: the xxhash64 production form stays
    * spec-tested; THIS form is SQL-replayable end to end). The
    * [[Kmv.finalizedHash]] affine finalizer ((h·961748927 + 12345)
    * mod p) is load-bearing for a 1-permutation MinHash: the raw
    * base-31 polyhash is near-monotone on lexicographic content, so
    * its min over shingles is biased toward lexicographically-small
    * shingles rather than a uniform permutation draw; the finalizer
    * scrambles the order while staying one multiply-add away from the
    * oracle's own list_reduce replay.
    */
  def fingerprintFinalized(docs: DataFrame, window: Int = 4): DataFrame = {
    val sh = TextFunctions.shingles(col("text"), window)
    Dedup.spread(docs).select(
      col("doc_id"),
      array_min(transform(sh, s => graft.operators.Kmv.finalized(
        graft.functions.StringFunctions.polyHash(s)))).as("fingerprint"))
  }

  /** Rolling-hash fingerprint on the SQL-expressible polynomial hash
    * (≡ 1-permutation MinHash with `PolyHash`): same semantics as
    * [[fingerprint]] but fully oracle-checkable.
    */
  def fingerprintDeterministic(docs: DataFrame, window: Int = 4): DataFrame = {
    val sh = TextFunctions.shingles(col("text"), window)
    Dedup.spread(docs).select(
      col("doc_id"),
      array_min(transform(sh, s => graft.functions.StringFunctions.polyHash(s)))
        .as("fingerprint"))
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken — "Local
    * Algorithms for Document Fingerprinting", SIGMOD 2003; the MOSS
    * scheme): hash every positional `k`-gram, slide a window of `w`
    * consecutive hashes, select each window's minimum — the selected set
    * is a position-aware fingerprint with the winnowing guarantee (any
    * shared substring of ≥ w+k−1 tokens yields ≥ 1 shared selected
    * fingerprint), which the single-min [[fingerprintDeterministic]]
    * cannot give (it only catches near-identical WHOLE documents).
    *
    * Determinism: hashes are the oracle-expressible polynomial hash; ties
    * inside a window break to the LEFTMOST occurrence by comparing the
    * encoded (hash ≪ 33 | position) key — one total order both engines
    * share. Only COMPLETE windows select (documents with < w+k−1 tokens
    * emit nothing — chunk longer-lived fragments upstream, q94); position
    * space is 2^33 (hash < 2^30 keeps the encoding overflow-free).
    *
    * Cost shape: one tokenize + posexplode (corpus-sized, map-side), one
    * doc-partitioned window min, one distinct — no joins. Returns
    * (doc_id, fingerprint, pos): the leftmost selected occurrence per
    * distinct window minimum.
    */
  def winnowFingerprints(docs: DataFrame, k: Int, w: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(w >= 2, s"need w >= 2, got $w")
    val tk = TextFunctions.tokens(col("text"))
    val grams = when(size(tk) >= k,
      transform(sequence(lit(0), size(tk) - lit(k)),
        i => concat_ws(" ", slice(tk, i + 1, lit(k)))))
      .otherwise(array().cast("array<string>"))
    val enc = Dedup.spread(docs)
      .select(col("doc_id"), posexplode_outer(grams).as(Seq("pos", "gram")))
      .filter(col("gram").isNotNull)
      .select(col("doc_id"), col("pos"),
        (shiftleft(graft.functions.StringFunctions.polyHash(col("gram")), 33)
          + col("pos")).as("__e"))
    val win = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(-(w - 1), Window.currentRow)
    enc
      .withColumn("__sel", min("__e").over(win))
      .filter(col("pos") >= w - 1)
      .select(col("doc_id"), col("__sel")).distinct()
      .select(col("doc_id"),
        shiftright(col("__sel"), 33).as("fingerprint"),
        (col("__sel") % (1L << 33)).as("pos"))
  }

  /** MOSS-style overlap pairs over [[winnowFingerprints]]: documents
    * sharing ≥ `minShared` distinct selected fingerprint VALUES, with the
    * shared count — the plagiarism/near-copy report, position-blind (a
    * moved passage still matches; that locality is winnowing's point).
    *
    * Scale shape: the pair stage inverts on the fingerprint value, so
    * volume is Σ bucket² over fingerprint buckets — fingerprints shared
    * by more than `maxDocsPerFingerprint` documents are boilerplate
    * (non-discriminative) and their buckets drop whole via the shared
    * [[Dedup.capBuckets]] guard, observable like every other blocked
    * pairwise family here. The selected-set relation feeds both join
    * sides → snapshotted once.
    */
  def winnowOverlapPairs(
      docs: DataFrame, k: Int, w: Int,
      minShared: Int, maxDocsPerFingerprint: Int): DataFrame = {
    require(minShared >= 1, s"need minShared >= 1, got $minShared")
    val selected = Stage.snapshotDF(
      Dedup.capBuckets(
        winnowFingerprints(docs, k, w).select("doc_id", "fingerprint").distinct(),
        "fingerprint", maxDocsPerFingerprint))
    selected.select(col("fingerprint"), col("doc_id").as("doc_a"))
      .join(selected.select(col("fingerprint"), col("doc_id").as("doc_b")),
        Seq("fingerprint"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** [[winnowOverlapPairs]] BETWEEN two slices (the q105/q132 between
    * convention): which NEW documents share ≥ `minShared` winnowed
    * fingerprints with an OLD document — the admission-control form (a
    * new crawl shard screened against the standing corpus before ingest),
    * where the self-join form audits a finished corpus. The boilerplate
    * cap counts a fingerprint's documents over the UNION population
    * (boilerplate is boilerplate regardless of side) and drops its bucket
    * whole, observably; pair volume is Σ new_bucket · old_bucket — never
    * |new|·|old|.
    */
  def winnowOverlapBetween(
      newDocs: DataFrame, oldDocs: DataFrame, k: Int, w: Int,
      minShared: Int, maxDocsPerFingerprint: Int): DataFrame = {
    require(minShared >= 1, s"need minShared >= 1, got $minShared")
    // side membership folds to FLAGS per distinct (fingerprint, doc) — a
    // document present on BOTH sides (a re-crawl of standing content)
    // counts once toward the boilerplate cap and never pairs with itself
    val tagged = Stage.snapshotDF(Dedup.capBuckets(
      winnowFingerprints(newDocs, k, w).select(col("doc_id"), col("fingerprint"))
        .distinct().withColumn("__side", lit(1))
        .unionByName(
          winnowFingerprints(oldDocs, k, w).select(col("doc_id"), col("fingerprint"))
            .distinct().withColumn("__side", lit(2)))
        .groupBy("fingerprint", "doc_id")
        .agg(max(col("__side") === 1).as("__new"), max(col("__side") === 2).as("__old")),
      "fingerprint", maxDocsPerFingerprint))
    tagged.filter(col("__new")).select(col("fingerprint"), col("doc_id").as("doc_new"))
      .join(tagged.filter(col("__old"))
        .select(col("fingerprint"), col("doc_id").as("doc_old")), Seq("fingerprint"))
      .filter(col("doc_new") =!= col("doc_old"))
      .groupBy("doc_new", "doc_old")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** 16-bit SimHash on the polynomial hash, oracle-checkable: each token
    * votes ±1 per bit of its hash; fingerprint bit b is set when the vote
    * sum is positive. One explode + 16 conditional sums in a single hash
    * aggregate (the 64-bit xxhash form stays in the fused `SimHash64`
    * kernel — this variant exists for cross-engine verification).
    */
  def simhash16Deterministic(docs: DataFrame): DataFrame = {
    val toks = Dedup.spread(docs)
      .select(col("doc_id"), explode_outer(TextFunctions.tokens(col("text"))).as("tok"))
      .filter(col("tok").isNotNull)
      .withColumn("h", graft.functions.StringFunctions.polyHash(col("tok")))
    val votes = (0 until 16).map(b =>
      sum(shiftright(col("h"), b).bitwiseAND(1) * 2 - 1).as(s"v$b"))
    toks.groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 16).map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("simhash16"))
  }
}
