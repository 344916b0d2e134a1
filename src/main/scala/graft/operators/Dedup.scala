package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Deduplication operators for large-scale text corpora (the north-star
  * training-data-pipeline surface, BASELINE.json).
  *
  * Scale design: every variant is a pure dataflow — shingle/signature
  * generation is a map-side transform, candidate generation is a shuffle on
  * a bucket key (never an all-pairs cartesian), and verification joins only
  * candidate pairs. The generalization of the reference's D1 canonical-JSON
  * exact dedup (`ingester/utils.py:16-19`) to near-duplicate detection.
  */
object Dedup {

  /** Spread a low-partition-count input across the cluster before CPU-heavy
    * per-row work (shingling, hashing). The test parquet ships as one row
    * group → one scan task; shingle generation would run single-threaded
    * without this. On a real multi-split source the condition is false and
    * no shuffle is added.
    *
    * TWO signals, because the partition count alone lies about row
    * placement (found by the r18 ×100 profiler): Spark bin-packs a FEW
    * big files into many byte-range splits (`minPartitionNum` ⇒ ~4 MB
    * splits), but a parquet row group is unsplittable — a single-file
    * single-row-group corpus presents 20 "partitions" of which 19 carry
    * zero rows, and the whole shingle pass runs in one 117 s task while
    * the count heuristic (20 ≥ target/2) stands down. So ALSO repartition
    * when the relation reads from fewer FILES than target/2 — row groups
    * can concentrate at most file-granularity, so many files ⇒ rows
    * genuinely spread, few files ⇒ one text-sized exchange buys a
    * corpus-parallel compute stage. Non-file relations (in-memory
    * batches, unions over them) report zero input files and keep the
    * pure partition-count rule.
    */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val files =
      try df.inputFiles.length
      catch { case scala.util.control.NonFatal(_) => 0 }
    if (df.rdd.getNumPartitions < target / 2 || (files > 0 && files < target / 2))
      df.repartition(target)
    else df
  }

  /** D1 — exact dedup: keep the lowest-id row per identical key column.
    * `dropDuplicates` semantics but with a deterministic survivor (Spark's
    * `dropDuplicates` keeps an arbitrary row; at 100 TB reproducibility
    * matters), implemented as a min-aggregation + semi-join rather than a
    * window over the full corpus.
    */
  def exactDedup(df: DataFrame, keyCol: String, idCol: String): DataFrame = {
    val survivors = df.groupBy(col(keyCol).as("__survivor_key"))
      .agg(min(col(idCol)).as("__survivor_id"))
    // null-safe key equality: null keys form their own duplicate group and
    // keep one survivor, matching dropDuplicates (plain === would drop them)
    df.join(survivors,
      col(keyCol) <=> col("__survivor_key") && col(idCol) === col("__survivor_id"),
      "left_semi")
  }

  /** Word-shingle MinHash signatures for a whole corpus: `numHashes`
    * permutations approximated by seeded xxhash64 of the shingle text;
    * signature element i = min over shingles of xxhash64(i, shingle).
    *
    * Computed as explode(shingles) → one hash-aggregate with `numHashes`
    * min() columns: the shingle set is materialized ONCE per document and
    * each hash is one partial-aggregated min — a single map-side-combining
    * pass. (The tempting nested-lambda form `transform(seeds, i =>
    * array_min(transform(shingles, ...)))` re-evaluates the shingle pipeline
    * per seed after Catalyst collapses projections — 64× the work; measured
    * 45× slower at sf0.1.)
    *
    * Returns (`__id`, `sig: array<bigint>`).
    */
  def minhashSignatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int,
      numHashes: Int): DataFrame = {
    // explode_outer, not explode: InferFiltersFromGenerate would otherwise
    // add `size(shingles(text)) > 0` below the Generate, inlining the whole
    // shingle pipeline into a per-row Filter — every document would shingle
    // TWICE (measured ~2.5× slower on q42). The outer variant infers nothing;
    // the null rows it emits for empty sets are dropped by a cheap
    // attribute-only filter after the Generate.
    // Hash each shingle STRING once (O(len) work), then derive the numHashes
    // "permutations" by re-mixing that 8-byte value with the seed index —
    // xxhash64 over (int, long) instead of (int, string). The string is the
    // expensive input (tens of bytes); re-hashing it per seed made the
    // signature aggregate do numHashes× the byte-crunching for no extra
    // independence (seeded re-mix of a 64-bit hash is the standard MinHash
    // family construction).
    val sh = spread(docs)
      .select(col(idCol).as("__id"), TextFunctions.shingles(col(textCol), shingleK).as("shs"))
      .select(col("__id"), explode_outer(col("shs")).as("s"))
      .filter(col("s").isNotNull)
      .select(col("__id"), xxhash64(col("s")).as("h0"))
    val aggs = (0 until numHashes).map(i => min(xxhash64(lit(i), col("h0"))).as(s"h$i"))
    sh.groupBy("__id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("__id"), array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** MinHash-LSH candidate pairs: band the signature (`bands` bands of
    * `rows = numHashes/bands` values), bucket-join on (band, band-hash),
    * emit distinct candidate pairs (idA < idB).
    *
    * The shuffle key is the band hash — two documents meet only if some band
    * matches, so the join fan-out is bounded by bucket sizes, not corpus
    * size. Buckets larger than `maxBucketSize` are dropped before the
    * self-join: a bucket that big is non-discriminative (its band carries no
    * signal) and would go quadratic — the standard skew guard for LSH at
    * scale. Near-dup pairs still meet in their other, selective bands.
    * This is the 100 TB-safe shape: no all-pairs comparison anywhere.
    */
  def minhashCandidates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      numHashes: Int = 64,
      bands: Int = 8,
      maxBucketSize: Int = 200): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    val sig = minhashSignatures(docs, idCol, textCol, shingleK, numHashes)
    // explode_outer: the banding transform would otherwise be duplicated into
    // an inferred non-empty Filter (see minhashSignatures); its size is the
    // constant `bands` so the inference is pure waste.
    val banded = sig.select(
      col("__id"),
      explode_outer(transform(
        sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"), xxhash64(slice(col("sig"), b * rows + 1, lit(rows))).as("bucket"))
      )).as("bb"))
      .select(col("__id"), col("bb.band"), col("bb.bucket"))
    // One aggregation instead of a self-join: collect each bucket's members
    // and emit its pairs in-place. The signature pipeline runs ONCE (a
    // self-join would re-execute the whole lineage for each side), and the
    // size cap is a filter on the collected array.
    bandBucketPairs(banded, maxBucketSize)
  }

  /** Shared capped pair-expansion tail of both banded candidate
    * generators: count each (band, bucket), drop over-cap buckets, emit
    * pairs by a bucket-keyed self-join. The firing cap is VISIBLE
    * (no-silent-caps): `graft.lshBandCap.*` reports memberships in
    * over-cap buckets and the bucket count — CollectMetrics piggybacks on
    * the size aggregation the cap needs anyway, zero extra jobs.
    *
    * PHYSICAL SHAPE (rewritten r18 after the r17 ×100 audit): the prior
    * form collected per-bucket member ARRAYS with `collect_list` and
    * expanded pairs in place — an `ObjectHashAggregate` whose sort-based
    * fallback on millions of bucket keys measured 124× task time for 10×
    * rows (BENCH_NOTES §r17 addendum; q96's e=1.26 decade exponent rode
    * on it). This form keeps the reduce on Tungsten paths end to end: a
    * primitive `count` HashAggregate for the sizes, then a sort-merge
    * self-join on the bucket key (UnsafeRow binary sorts — spillable,
    * radix-friendly, no object path) whose streamed expansion emits the
    * same pair instances. The size filter joins into ONE side only: a
    * bucket key surviving on the filtered side implies the bucket passed
    * the cap, so the unfiltered side needs no second filter (and the
    * observe subtree appears exactly once in the final plan — a two-sided
    * filter would double-count the metric or force a checkpoint that
    * hides it from `observedMetrics`). `banded` is snapshotted here: it
    * feeds the size aggregate and both join sides, and the signature
    * pipeline behind it must execute once, not three times.
    *
    * AQE caveat (applies to EVERY observe-backed cap in this file): when
    * the cap drops the entire result (0 output rows), AQE's empty-relation
    * propagation replaces the already-executed stage with an empty
    * LocalRelation and the CollectMetrics node — whose accumulator DID
    * fill during the stage run — becomes unreachable from the final plan,
    * so `observedMetrics` (and the session listener) report nothing. The
    * total-collapse case is self-announcing (the caller sees 0 rows where
    * it expected candidates); in every partial-drop case the metric
    * survives. Pinned in SkewFixtureSpec.
    */
  private def bandBucketPairs(banded: DataFrame, maxBucketSize: Int): DataFrame = {
    val b = Stage.snapshotDF(banded)
    val over = col("__n") > maxBucketSize
    val keys = b.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__n"))
      .observe(s"graft.lshBandCap.${capObsId.incrementAndGet()}",
        sum(when(over, col("__n")).otherwise(0L)).as("dropped_rows"),
        sum(when(over, 1L).otherwise(0L)).as("dropped_buckets"))
      .filter(col("__n").between(2, maxBucketSize))
      .select("band", "bucket")
    b.join(keys, Seq("band", "bucket"))
      .select(col("band"), col("bucket"), col("__id").as("id_a"))
      .join(b.select(col("band"), col("bucket"), col("__id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** MinHash-LSH candidate pairs with FULLY SQL-expressible hashing, so the
    * whole pipeline is oracle-checkable (xxhash64 variants above are
    * rows-only): shingle hash = polynomial codepoint fold (`PolyHash`
    * native kernel ≡ the oracle's list_reduce), permutation i approximated
    * by h_i = (a_i·h + b_i) mod P with a_i = 2i+1, b_i = 7i+3, signature
    * element i = min over shingles. Bands of `rowsPerBand` signature values
    * (key = concatenated values, SQL-expressible) generate candidates with
    * the same capped-bucket in-place pair expansion as minhashCandidates.
    */
  def minhashCandidatesDeterministic(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      numHashes: Int = 8,
      bands: Int = 4,
      maxBucketSize: Int = 200): DataFrame =
    minhashCandidatesDeterministicFrom(
      shingleIndex(docs, idCol, textCol, shingleK), numHashes, bands, maxBucketSize)

  /** [[minhashCandidatesDeterministic]] over a prebuilt [[shingleIndex]]
    * relation, so pipelines composing candidate generation with exact
    * verification (q82/q89) shingle the corpus once and share one
    * checkpoint between the stages.
    */
  def minhashCandidatesDeterministicFrom(
      shingles: DataFrame,
      numHashes: Int = 8,
      bands: Int = 4,
      maxBucketSize: Int = 200): DataFrame =
    affineMinhashPairs(
      shingles.withColumn("h",
        graft.functions.StringFunctions.polyHash(col("shingle"))),
      numHashes, bands, maxBucketSize)

  /** MinHash-LSH candidate pairs on the FINALIZED polynomial hash — the
    * declared q43 gate form (the q53/q228-beside-q71 convention: the
    * xxhash64 production form [[minhashCandidates]] stays spec-tested;
    * THIS form is SQL-replayable end to end). The [[Kmv.finalized]]
    * affine finalizer is load-bearing here for the same reason it is in
    * `fingerprintFinalized`: the raw base-31 polyhash is near-monotone on
    * lexicographic content, so each affine permutation's min is biased
    * toward lexicographically-small shingles — correlated signature
    * elements, not independent permutation draws. Scrambling the hash
    * ONCE before the `numHashes` affine variants decorrelates the family
    * at the cost of one multiply-add, still one `list_reduce` + one
    * multiply-add away from the oracle replay.
    */
  def minhashCandidatesFinalized(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      numHashes: Int = 8,
      bands: Int = 4,
      maxBucketSize: Int = 200): DataFrame =
    affineMinhashPairs(
      shingleIndex(docs, idCol, textCol, shingleK).withColumn("h",
        Kmv.finalized(graft.functions.StringFunctions.polyHash(col("shingle")))),
      numHashes, bands, maxBucketSize)

  /** Shared tail of the SQL-replayable MinHash candidate generators:
    * signature element i = min over shingles of (a_i·h + b_i) mod P with
    * a_i = 2i+1, b_i = 7i+3 over a prepared (`__id`, `h`) relation, bands
    * of `numHashes/bands` values keyed by value concatenation, then the
    * same capped-bucket in-place pair expansion as the xxhash64 form.
    */
  private def affineMinhashPairs(
      hashed: DataFrame,
      numHashes: Int,
      bands: Int,
      maxBucketSize: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    val p = graft.functions.StringKernels.PolyHashMod
    val aggs = (0 until numHashes).map(i =>
      min((col("h") * (2 * i + 1) + (7 * i + 3)) % p).as(s"sig$i"))
    val sig = hashed.groupBy("__id").agg(aggs.head, aggs.tail: _*)
    val banded = sig.select(
      col("__id"),
      explode_outer(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          concat_ws(":", (0 until rows).map(r => col(s"sig${b * rows + r}")): _*).as("bucket"))
      }: _*)).as("bb"))
      .select(col("__id"), col("bb.band"), col("bb.bucket"))
    bandBucketPairs(banded, maxBucketSize)
  }

  /** All ordered pairs of a sorted array column (element_i < element_j),
    * as array<struct<`aName`, `bName`>> — pair generation without a
    * self-join. Shared by every bucket-based candidate generator.
    */
  private def pairsAs(sorted: Column, aName: String, bName: String): Column =
    flatten(transform(sorted, (x, i) =>
      transform(slice(sorted, i + lit(2), size(sorted)),
        y => struct(x.as(aName), y.as(bName)))))

  /** The exploded shingle inverted-index relation shared by the whole exact
    * Jaccard family: one row per (document, distinct k-shingle) with the
    * set size riding along (computed in the same projection that explodes
    * the set — no join back against a per-doc size table later). Returns
    * (`__id`, `sz`, `shingle`). Callers that fan the relation out to
    * multiple consumers checkpoint it (q82/q89 share ONE checkpointed index
    * between candidate generation and verification).
    */
  def shingleIndex(docs: DataFrame, idCol: String, textCol: String, shingleK: Int): DataFrame =
    spread(docs)
      .select(col(idCol).as("__id"), TextFunctions.shingles(col(textCol), shingleK).as("shs"))
      .select(col("__id"), size(col("shs")).as("sz"), explode_outer(col("shs")).as("shingle"))
      .filter(col("shingle").isNotNull)

  /** Shared scoring tail: (id_a, id_b, c, sz_a, sz_b) → thresholded,
    * rounded (id_a, id_b, jaccard). One definition so the exact family's
    * score semantics can't drift between variants.
    */
  private def jaccardScore(pairCounts: DataFrame, threshold: Double): DataFrame =
    pairCounts
      .withColumn("jaccard",
        col("c").cast("double") / (col("sz_a") + col("sz_b") - col("c")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))

  /** Sorted-neighborhood blocking (Hernández–Stolfo SNM): sort each block
    * by a normalized key and pair every row only with its `window − 1`
    * successors — candidate volume is LINEAR (≤ n·(window−1)) where the
    * inverted-index families pay Σ posting², and the whole method is one
    * hash exchange on the block key + one in-partition sort (the leads all
    * share a single window spec). The recall trade is explicit: a near-dup
    * pair is found iff the key normalization lands the two rows within
    * `window` positions of the same block — duplicates that diverge in
    * their first characters are invisible to SNM and belong to the
    * LSH/prefix families (q42/q43/q90); DedupSpec measures the recall
    * subset relation vs the exact pair graph. Blocking by the key's first
    * character keeps the sort distributed (no global `Window.orderBy` —
    * a single-partition sort at 100 TB); production tunes the prefix
    * length to block size.
    *
    * Verification is the q42 contract: word-`shingleK`-shingle Jaccard ≥
    * `threshold`, exact integer ratio → cross-engine-stable double.
    */
  def sortedNeighborhoodPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 4,
      shingleK: Int = 3,
      threshold: Double = 0.6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs
      .select(col(idCol).as("__id"),
        lower(regexp_replace(col(textCol), "\\s+", " ")).as("__key"))
      .withColumn("__blk", substring(col("__key"), 1, 1))
    // the window leads carry ONLY ids: leading the full text would push
    // (window−1) extra copies of every document through the block-key
    // shuffle and re-tokenize per candidate row — texts stay in a
    // snapshotted (id → shingles) relation, tokenized exactly once, and
    // the candidate pairs join back by id
    val sh = Stage.snapshotDF(docs.select(col(idCol).as("__id"),
      TextFunctions.shingles(col(textCol), shingleK).as("__s")))
    val w = Window.partitionBy("__blk").orderBy(col("__key"), col("__id"))
    // leads materialize BEFORE the explode: a window expression inside a
    // generator is rejected at analysis (UNSUPPORTED_EXPR_FOR_OPERATOR);
    // all (window−1) leads still share the one window spec → one sort
    val withLeads = (1 until window).foldLeft(base) { (df, d) =>
      df.withColumn(s"__i$d", lead(col("__id"), d).over(w))
    }
    withLeads
      .withColumn("__id2",
        explode_outer(array((1 until window).map(d => col(s"__i$d")): _*)))
      .filter(col("__id2").isNotNull)
      .select(least(col("__id"), col("__id2")).as("id_a"),
        greatest(col("__id"), col("__id2")).as("id_b"))
      .join(sh.select(col("__id").as("id_a"), col("__s").as("__sa")), "id_a")
      .join(sh.select(col("__id").as("id_b"), col("__s").as("__sb")), "id_b")
      .withColumn("__c", size(array_intersect(col("__sa"), col("__sb"))))
      .withColumn("jaccard", try_divide(col("__c").cast("double"),
        (size(col("__sa")) + size(col("__sb")) - col("__c")).cast("double")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("id_a", "id_b")
  }

  /** Exact corpus-wide n-gram Jaccard pairs: |A∩B| / |A∪B| over distinct
    * word-k-shingle sets via an inverted-index SELF-JOIN on the shingle
    * (`id_a < id_b`), counting co-occurrence instances per pair.
    *
    * PHYSICAL SHAPE (swapped r18 on the ×100 A/B, BENCH_NOTES §r18): the
    * prior form built per-shingle posting ARRAYS with
    * `groupBy(shingle).agg(sort_array(collect_list(…)))` and expanded
    * pairs in place — an `ObjectHashAggregate` whose sort-based fallback
    * measured 124× task time for 10× rows at ×100, with a live
    * single-task straggler in `SortBasedAggregator.findNextSortedGroup`
    * (the r17 scale-killer; DedupSpec keeps the old body as the
    * row-for-row reference). This form runs the same
    * instancing through a sort-merge self-join — UnsafeRow binary sorts,
    * spillable, streamed per-key expansion — and a primitive
    * count/max HashAggregate: Tungsten end to end, no object path.
    *
    * SMALL-SF / ORACLE FORM ONLY: the pair expansion is deliberately
    * uncapped — exactness requires every co-occurrence, so a posting cap
    * would change the answer — which keeps a shingle occurring in n
    * documents an O(n²) expansion (now streamed through the join's
    * bounded group buffer rather than one object sort, but still n²
    * instances). At corpus scale use [[jaccardPairsPrefix]] (exactness-
    * preserving pruning) or [[minhashCandidatesDeterministic]] →
    * [[jaccardVerify]] (probabilistic recall); q90 and q82/q89 exercise
    * those compositions.
    */
  def jaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      threshold: Double = 0.6): DataFrame = {
    // one shingling pass fans out to both join sides: snapshot, or the
    // self-join compiles the tokenize+shingle subtree twice (the 45×
    // minhashSignatures incident)
    val sh = shingleIndex(docs, idCol, textCol, shingleK).transform(Stage.snapshotDF)
    val a = sh.select(col("shingle"), col("__id").as("id_a"), col("sz").as("sz_a"))
    val b = sh.select(col("shingle"), col("__id").as("id_b"), col("sz").as("sz_b"))
    jaccardScore(
      a.join(b, Seq("shingle"))
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(count(lit(1)).as("c"),
          max(col("sz_a")).as("sz_a"), max(col("sz_b")).as("sz_b")),
      threshold)
  }

  /** Exact Jaccard pairs via PREFIX FILTERING — result-identical to
    * [[jaccardPairs]] with a pruned candidate stage (the All-Pairs/PPJoin
    * family, Bayardo et al. WWW'07 / Xiao et al. WWW'08). Shingles get a
    * global canonical order, rarest first (df asc, shingle asc); each
    * document indexes only its first |d| − ⌈t·|d|⌉ + 1 shingles in that
    * order. The prefix lemma guarantees no false negatives: J(a,b) ≥ t
    * forces |a∩b| ≥ ⌈t·|a|⌉, so the first shared shingle in canonical order
    * sits within both prefixes — every qualifying pair still meets in the
    * inverted index. Because prefixes keep the RAREST shingles, boilerplate
    * high-df shingles (the O(n²) hazard in the unfiltered form) are exactly
    * the ones dropped from the index; a length filter
    * (min ≥ t·max) prunes further before verification computes exact
    * Jaccard on candidates only. Exactness-preserving, unlike the
    * LSH-candidate route ([[minhashCandidatesDeterministic]] →
    * [[jaccardVerify]]) whose recall at the threshold is probabilistic.
    */
  def jaccardPairsPrefix(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      threshold: Double = 0.6): DataFrame =
    // the inverted-index rows feed df-count AND prefix ranking — one
    // materialization (the same fan-out rule as tfidf/connectedComponents)
    jaccardPairsPrefixFrom(
      shingleIndex(docs, idCol, textCol, shingleK).transform(Stage.snapshotDF),
      threshold)

  /** [[jaccardPairsPrefix]] over a prebuilt — and ALREADY SNAPSHOTTED —
    * [[shingleIndex]] relation, for callers that hold one (the streaming
    * admission path builds the batch index once and fans it out to the
    * within-batch and history stages). `sh` must be materialized: it feeds
    * the df count, the prefix ranking, and verification.
    */
  def jaccardPairsPrefixFrom(sh: DataFrame, threshold: Double): DataFrame =
    // exact verification straight off the same checkpointed index —
    // no second shingling pass
    jaccardVerify(prefixCandidates(prefixIndex(sh, threshold), threshold), sh, threshold)

  /** The PPJoin prefix index over an (already snapshotted) [[shingleIndex]]:
    * each document's rows restricted to its first |d| − ⌈t·|d|⌉ + 1
    * shingles in global canonical order (df asc, shingle asc), with the
    * canonical 1-based position as `rn`. Shared by the exact pair stage
    * ([[jaccardPairsPrefixFrom]]) and the guarded streaming admission
    * ([[jaccardDropsGuarded]]), whose cost estimate and hot/cold split
    * both read this relation.
    */
  private[operators] def prefixIndex(sh: DataFrame, threshold: Double): DataFrame = {
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    // per-document window: bounded by document length, never corpus-sized
    // (contrast the term-partitioned window retired from Corpus.tfidf)
    val perDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("__id").orderBy(col("df"), col("shingle"))
    // the 1e-9 slack before ceil errs toward a LONGER prefix: for ~1 in 8
    // thresholds the double product sz·t lands just above an integer the
    // true rational sits ON (e.g. t=0.55, sz=100 → 55.000000000000001,
    // ceil 56), which would cut the prefix one short and break the no-
    // false-negative lemma. Extra prefix length only adds candidates.
    sh.join(dfreq, "shingle")
      .withColumn("rn", row_number().over(perDoc))
      .filter(col("rn") <= col("sz") - ceil(col("sz") * threshold - 1e-9) + 1)
  }

  /** Candidate pairs from a [[prefixIndex]] relation (or any subset of its
    * rows — the guarded admission path feeds only the cold shingles).
    *
    * PHYSICAL SHAPE (rewritten r18 after the r17 ×100 audit — this stage
    * owned q90's e=1.64 decade exponent, the family's worst case): the
    * prior form collected per-shingle posting ARRAYS with `collect_list`
    * and expanded pairs in place — an `ObjectHashAggregate` whose
    * sort-based fallback serialized one task in
    * `ShuffleExternalSorter.spill` for tens of minutes at ×100 while 31
    * threads idled. This form emits the same meeting instances through a
    * sort-merge SELF-JOIN on the shingle: UnsafeRow binary sorts
    * (spillable, radix-friendly) and a STREAMED per-key cross product —
    * a fat shingle key still expands quadratically (exactness requires
    * every meeting) but through the join's bounded-memory group buffer,
    * never an object sort. The pruned projection is snapshotted first:
    * it feeds both join sides, and the window pass behind [[prefixIndex]]
    * must execute once, not twice.
    *
    * Pruning semantics (unchanged, per-meeting): positional filter
    * (PPJoin) — meeting on a prefix shingle at 1-based canonical
    * positions (rn_a, rn_b), the intersection can be at most 1 + min
    * (remaining suffix lengths); require that to reach the minimal
    * overlap o_min = ⌈t·(sz_a+sz_b)/(1+t)⌉ (J ≥ t ⇔ o ≥ t(sa+sb)/(1+t)).
    * A pair is kept if ANY of its prefix meetings passes — the earliest
    * meeting gives the loosest bound, so no qualifying pair is lost
    * (keeping per-meeting instead of earliest-only is conservative).
    * The 1e-9 slack makes float rounding err toward keeping candidates:
    * pruning must never exceed the exact rational bound.
    */
  private def prefixCandidates(prefix: DataFrame, threshold: Double): DataFrame = {
    val posFactor = threshold / (1.0 + threshold)
    val p = Stage.snapshotDF(prefix.select("shingle", "__id", "sz", "rn"))
    p.select(col("shingle"), col("__id").as("id_a"),
        col("sz").as("sz_a"), col("rn").as("rn_a"))
      .join(p.select(col("shingle"), col("__id").as("id_b"),
        col("sz").as("sz_b"), col("rn").as("rn_b")), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      // length filter needs the SAME keep-more slack as the two ceil sites:
      // J ≥ t forces min ≥ t·max only as a rational — greatest·t in double
      // can land just above the true bound (t=0.55, max=100 →
      // 55.000000000000007) and drop a boundary pair like sizes 55/100 at
      // J exactly 0.55
      .filter(least(col("sz_a"), col("sz_b")).cast("double") >=
        greatest(col("sz_a"), col("sz_b")).cast("double") * threshold - 1e-9)
      .filter(lit(1) + least(col("sz_a") - col("rn_a"), col("sz_b") - col("rn_b")) >=
        ceil((col("sz_a") + col("sz_b")).cast("double") * posFactor - 1e-9))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Within-batch greedy near-dup DROP list with a COST GUARD — the
    * streaming-admission form of [[jaccardPairsPrefixFrom]]. Returns one
    * `__id` column: the documents a greedy keep-lowest-id policy drops.
    *
    * The exact prefix path is the right default for a micro-batch, but its
    * pair stage is bounded only by the batch's own quadratic truth: a batch
    * that IS one giant near-dup cluster (the skewed-corpus batch-0 shape)
    * produces C(n,2) candidate pairs and a verify fan of pairs × shingles —
    * measured at 8.8 s vs 3.8 s for one 500-doc cluster batch. The guard
    * bounds that worst case WITHOUT touching normal batches:
    *
    *   1. Predict the pair-instance count from the prefix index —
    *      Σ over shingles of C(postings, 2), one aggregate, no explode.
    *   2. Under `pairBudget`: run the exact path, bit-identical to
    *      [[jaccardPairsPrefixFrom]]'s drops.
    *   3. Over budget: split prefix shingles at `hotPostingCap`. COLD
    *      shingles (≤ cap postings) keep exact candidates → verification —
    *      cold-pair semantics unchanged. HOT shingles pair each posting
    *      with the shingle's MIN id only: a doc drops iff some hot prefix
    *      shingle contains a smaller id — linear in postings, no pair
    *      explosion, no verify fan.
    *
    * Guarantees in guarded mode: drops ⊇ the exact greedy drops (every
    * qualifying pair's prefix meeting is either cold — verified, greater
    * id drops — or hot — the greater id sees a smaller posting and drops),
    * so no near-dup that exact admission would reject is ever admitted;
    * and the min id of every hot component always survives (it is the min
    * of whatever hot shingles it appears in). The price is FALSE DROPS
    * limited to docs sharing a hot prefix shingle without verifying — the
    * conservative direction for admission, bounded to the hot population,
    * and observable: the hot stage emits a `graft.admitGuard` observe
    * metric (dropped docs, hot shingles) per the no-silent-caps
    * convention.
    *
    * `sh` must be snapshotted (same contract as [[jaccardPairsPrefixFrom]]).
    * The driver-side `head()` on the one-row estimate is the per-batch
    * orchestration pattern streaming admission already uses (store
    * existence probes); it is not a data collect.
    */
  def jaccardDropsGuarded(
      sh: DataFrame,
      threshold: Double,
      pairBudget: Long = 1000000L,
      hotPostingCap: Int = 64): DataFrame = {
    require(pairBudget > 0, s"need pairBudget > 0, got $pairBudget")
    require(hotPostingCap > 1, s"need hotPostingCap > 1, got $hotPostingCap")
    // feeds the estimate, then either the exact pair stage or both sides
    // of the hot/cold split — snapshot so the window pass runs once
    val prefix = prefixIndex(sh, threshold).transform(Stage.snapshotDF)
    // ONE per-shingle posting-count aggregate serves the estimate and (in
    // guarded mode) the hot/cold split. Σ pdf·(pdf−1) summed as LONG,
    // halved on the driver — Spark's `/` is double division and would
    // silently overflow precision at scale
    val pdf = prefix.groupBy("shingle").agg(count(lit(1)).as("pdf"))
      .transform(Stage.snapshotDF) // tiny; aggregate once, not per consumer
    val predicted = pdf
      .agg(coalesce(sum(col("pdf") * (col("pdf") - 1)), lit(0L)).as("pairs2x"))
      .head().getLong(0) / 2
    if (predicted <= pairBudget)
      jaccardVerify(prefixCandidates(prefix, threshold), sh, threshold)
        .select(col("id_b").as("__id")).distinct()
    else {
      val pfx = prefix.join(pdf, "shingle")
      val coldDrops = jaccardVerify(
        prefixCandidates(pfx.filter(col("pdf") <= hotPostingCap).drop("pdf"), threshold),
        sh, threshold)
        .select(col("id_b").as("__id"))
      val hot = pfx.filter(col("pdf") > hotPostingCap)
      val hotMin = hot.groupBy("shingle").agg(min(col("__id")).as("__min"))
      val hotDrops = hot.join(hotMin, "shingle")
        .filter(col("__id") > col("__min"))
        .select("__id").distinct()
        .observe(s"graft.admitGuard.${capObsId.incrementAndGet()}",
          count(lit(1)).as("hot_dropped_docs"))
      coldDrops.union(hotDrops).distinct()
    }
  }

  /** Exact Jaccard restricted to CANDIDATE pairs — the 100 TB scale path for
    * near-dup detection. [[jaccardPairs]]' corpus-wide inverted index has an
    * unboundable pair-expansion stage (a boilerplate shingle occurring in n
    * docs emits O(n²) pairs through one reducer; capping it would change the
    * answer, so the exact form stays a small-SF oracle query). This verify
    * form instead takes candidates from a bounded generator (banded LSH or
    * the prefix index) and computes exact |A∩B| / |A∪B| only for those
    * pairs, by fanning each candidate over doc a's rows in the flat shingle
    * index and counting the rows doc b shares — linear in corpus size +
    * candidate count, narrow shuffles keyed by shingle or doc id, no
    * quadratic stage anywhere. With the deterministic generator
    * ([[minhashCandidatesDeterministic]]) the whole composition stays
    * SQL-expressible, so candidates→verify is oracle-checked end-to-end.
    *
    * This overload takes a prebuilt [[shingleIndex]] relation so callers
    * composing generation + verification (q82/q89, [[jaccardPairsPrefix]])
    * shingle the corpus ONCE; the caller owns checkpointing it. Candidates
    * are deduplicated internally — duplicate (id_a, id_b) rows would
    * double-count the intersection.
    */
  def jaccardVerify(
      candidates: DataFrame,
      sh: DataFrame,
      threshold: Double): DataFrame = {
    require(threshold > 0.0,
      "jaccardVerify emits only intersecting pairs; threshold must be > 0")
    val a = sh.select(col("__id").as("id_a"), col("sz").as("sz_a"), col("shingle"))
    val b = sh.select(col("__id").as("id_b"), col("sz").as("sz_b"), col("shingle"))
    jaccardScore(
      candidates.select("id_a", "id_b").distinct()
        .join(a, "id_a")
        .join(b, Seq("id_b", "shingle"))
        .groupBy("id_a", "id_b")
        .agg(count(lit(1)).as("c"), max(col("sz_a")).as("sz_a"), max(col("sz_b")).as("sz_b")),
      threshold)
  }

  /** [[jaccardVerify]] building its own single-use shingle index from the
    * documents.
    */
  def jaccardVerify(
      candidates: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int,
      threshold: Double): DataFrame =
    jaccardVerify(candidates,
      shingleIndex(docs, idCol, textCol, shingleK).transform(Stage.snapshotDF), threshold)

  /** Asymmetric CONTAINMENT pairs — C(src→dst) = |src ∩ dst| / |src| over
    * distinct word-k-shingle sets: the "document A sits mostly INSIDE
    * document B" signal (a quoted article inside a digest, a paragraph
    * lifted into a longer page) that symmetric Jaccard structurally misses —
    * a 100-shingle doc fully contained in a 2000-shingle doc scores
    * J ≈ 0.05 but C = 1.0. Directed: (id_src, id_dst, containment) with
    * C(src→dst) ≥ `threshold`, both directions reported when both qualify
    * (near-identical sets are then ordinary near-dups; q42's family already
    * owns that case).
    *
    * Pruning is the PPJoin prefix lemma applied to the ASYMMETRIC overlap
    * bound, and only the src side can be prefix-restricted: C ≥ t forces
    * |src ∩ dst| ≥ ⌈t·|src|⌉, so src's first |src| − ⌈t·|src|⌉ + 1 shingles
    * in global rarest-first canonical order ([[prefixIndex]] — the identical
    * length formula) must intersect dst's FULL set; dst's size is unbounded
    * by t, so dst indexes everything. A size filter (|dst| ≥ t·|src|, since
    * the intersection can't exceed |dst|) prunes before verification
    * computes exact C on survivors from the full index. Exactness-
    * preserving: both filters only discard pairs the bound proves
    * non-qualifying (keep-more 1e-9 slack at the float boundary, the
    * [[prefixIndex]] convention).
    *
    * Scale shape: candidate volume per shingle = (prefix postings) ×
    * (full-index df). Rarest-first prefixes keep high-df boilerplate
    * shingles out of the probe side, which bounds the product for normal
    * corpora; a corpus whose documents are MOSTLY boilerplate re-creates
    * the hot-shingle hazard, and an admission path under that skew should
    * split hot shingles the way [[jaccardDropsGuarded]] does. The oracle is
    * the deliberately-unpruned exhaustive SQL (the q90 convention: an
    * oracle that mirrored the pruning would agree on a pruning bug).
    */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment threshold must be in (0, 1], got $threshold")
    // the index feeds prefix ranking, the dst probe side, AND verification —
    // one materialization (the fan-out rule)
    val sh = shingleIndex(docs, idCol, textCol, shingleK).transform(Stage.snapshotDF)
    val cand = prefixIndex(sh, threshold)
      .select(col("__id").as("id_src"), col("sz").as("sz_src"), col("shingle"))
      .join(sh.select(col("__id").as("id_dst"), col("sz").as("sz_dst"), col("shingle")),
        Seq("shingle"))
      .filter(col("id_src") =!= col("id_dst"))
      .filter(col("sz_dst").cast("double") >=
        col("sz_src").cast("double") * threshold - 1e-9)
      .select("id_src", "id_dst").distinct()
    cand.join(
        sh.select(col("__id").as("id_src"), col("sz").as("sz_src"), col("shingle")),
        "id_src")
      .join(sh.select(col("__id").as("id_dst"), col("shingle")), Seq("id_dst", "shingle"))
      .groupBy("id_src", "id_dst")
      .agg(count(lit(1)).as("c"), max(col("sz_src")).as("sz_src"))
      .withColumn("containment",
        col("c").cast("double") / col("sz_src").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_src"), col("id_dst"), round(col("containment"), 4).as("containment"))
  }

  /** Exact directed-containment DROP list under the greedy CONTAINER-ORDER
    * admission semantics: document `src` drops iff some strictly GREATER
    * document `dst` — greater meaning (sz_dst > sz_src) or (sz_dst = sz_src
    * and id_dst < id_src) — contains it at C(src→dst) = |src ∩ dst| / |src|
    * ≥ `threshold`. The ordering makes the survivor canonical: mutual
    * containment between near-identical docs drops exactly the lower-ranked
    * one, and the corpus-wide maximal document (largest sz, lowest id on
    * ties) can never drop. A doc contained only in a STRICTLY SMALLER doc
    * does not drop here — with t ≤ 1 that pair overlaps near-symmetrically
    * (J ≥ t/(2−t)) and is the Jaccard admission family's case, not the
    * subsumption case this operator removes.
    *
    * Pruning is [[containmentPairs]]' src-side prefix lemma (identical
    * prefix length formula); the container-order candidate filter SUBSUMES
    * its size filter, since sz_dst ≥ sz_src ≥ t·sz_src for t ≤ 1. `sh`
    * must be snapshotted (it feeds df, prefix ranking, and verification).
    */
  def containmentDrops(sh: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment threshold must be in (0, 1], got $threshold")
    containmentDropsVia(prefixIndex(sh, threshold), sh, threshold)
  }

  /** Cold-path core shared by [[containmentDrops]] (full prefix) and
    * [[containmentDropsGuarded]] (cold-shingle subset): candidates from
    * src-prefix × dst-full meetings under container order, exact C on
    * survivors from the full index, one `__id` drop column.
    */
  private def containmentDropsVia(
      pfx: DataFrame, sh: DataFrame, threshold: Double): DataFrame = {
    val strictlyGreater =
      col("sz_dst") > col("sz_src") ||
        (col("sz_dst") === col("sz_src") && col("id_dst") < col("id_src"))
    val cand = pfx
      .select(col("__id").as("id_src"), col("sz").as("sz_src"), col("shingle"))
      .join(sh.select(col("__id").as("id_dst"), col("sz").as("sz_dst"), col("shingle")),
        Seq("shingle"))
      .filter(strictlyGreater)
      .select("id_src", "id_dst").distinct()
    cand
      .join(sh.select(col("__id").as("id_src"), col("sz").as("sz_src"), col("shingle")),
        "id_src")
      .join(sh.select(col("__id").as("id_dst"), col("shingle")), Seq("id_dst", "shingle"))
      .groupBy("id_src", "id_dst")
      .agg(count(lit(1)).as("c"), max(col("sz_src")).as("sz_src"))
      .filter(col("c").cast("double") / col("sz_src").cast("double") >= threshold)
      .select(col("id_src").as("__id")).distinct()
  }

  /** [[containmentDrops]] with a COST GUARD — closes the one hot-shingle
    * exposure [[containmentPairs]]' scaladoc documents: its candidate
    * volume per shingle is (prefix postings) × (full-index df), and a
    * corpus whose documents are MOSTLY boilerplate (a template-dominated
    * crawl) re-creates the quadratic blowup that rarest-first prefixes
    * normally avoid. Mirrors [[jaccardDropsGuarded]]:
    *
    *   1. Predict the candidate-instance count from one tiny aggregate —
    *      Σ over shingles of (prefix postings × full df), an upper bound
    *      (it includes each doc's self-meeting) that costs a pdf⋈df join
    *      of two shingle-keyed counts, no explode.
    *   2. Under `pairBudget`: the exact path, bit-identical to
    *      [[containmentDrops]].
    *   3. Over budget: split shingles at `hotDfCap` on the FULL-index df
    *      (the probe-side explosion driver — contrast the Jaccard guard,
    *      whose pair stage is prefix×prefix and splits on prefix-posting
    *      count). COLD shingles (df ≤ cap) keep exact candidates →
    *      verification. HOT shingles take a LINEAR rule: src drops iff the
    *      container-order maximum over the shingle's full postings —
    *      (sz desc, id asc), one groupBy — is strictly greater than src.
    *
    * Guarantees in guarded mode: drops ⊇ the exact drops (a qualifying
    * pair dst ≻ src must meet on a src-prefix shingle; cold meeting →
    * verified and dropped, hot meeting → dst's presence makes the
    * shingle's maximum ≻ src, so the linear rule drops src), so no doc
    * that exact admission would reject is ever admitted; and the
    * container-order maximum of every hot shingle — hence the corpus-wide
    * maximal document — always survives. The price is FALSE DROPS bounded
    * to docs sharing a hot shingle with a strictly greater doc, the
    * conservative direction for admission, observable via the
    * `graft.containGuard` observe metric (no-silent-caps convention).
    *
    * `sh` must be snapshotted. The driver-side `head()` on the one-row
    * estimate is the same per-batch orchestration pattern as
    * [[jaccardDropsGuarded]]'s.
    */
  def containmentDropsGuarded(
      sh: DataFrame,
      threshold: Double,
      pairBudget: Long = 1000000L,
      hotDfCap: Int = 64): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment threshold must be in (0, 1], got $threshold")
    require(pairBudget > 0, s"need pairBudget > 0, got $pairBudget")
    require(hotDfCap > 1, s"need hotDfCap > 1, got $hotDfCap")
    val prefix = prefixIndex(sh, threshold).transform(Stage.snapshotDF)
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("dfull"))
      .transform(Stage.snapshotDF) // feeds the estimate AND the hot/cold split
    val predicted = prefix.groupBy("shingle").agg(count(lit(1)).as("pdf"))
      .join(dfreq, "shingle")
      .agg(coalesce(sum(col("pdf") * col("dfull")), lit(0L)).as("cand"))
      .head().getLong(0)
    if (predicted <= pairBudget) containmentDropsVia(prefix, sh, threshold)
    else {
      val pfx = prefix.join(dfreq, "shingle")
      val coldDrops = containmentDropsVia(
        pfx.filter(col("dfull") <= hotDfCap).drop("dfull"), sh, threshold)
      // container-order maximum per hot shingle, over the FULL postings
      val hotBest = sh.join(dfreq.filter(col("dfull") > hotDfCap), "shingle")
        .groupBy("shingle")
        .agg(max(struct(col("sz").as("sz"), (-col("__id")).as("nid"))).as("b"))
        .select(col("shingle"), col("b.sz").as("sz_best"), (-col("b.nid")).as("id_best"))
      val hotDrops = pfx.filter(col("dfull") > hotDfCap)
        .join(hotBest, "shingle")
        .filter(col("sz_best") > col("sz") ||
          (col("sz_best") === col("sz") && col("id_best") < col("__id")))
        .select("__id").distinct()
        .observe(s"graft.containGuard.${capObsId.incrementAndGet()}",
          count(lit(1)).as("hot_dropped_docs"))
      coldDrops.union(hotDrops).distinct()
    }
  }

  /** Candidate-index quality audit: measure a candidate pair set against
    * exact ground truth and report recall (exact pairs the index found) and
    * precision (candidates that were real) as ONE relational row —
    * "measure, don't guess" for LSH band/row/cap tuning as a first-class
    * operator instead of a spec-only assertion. Both inputs are pair
    * relations (`id_a`, `id_b`); extra columns are ignored.
    *
    * Shape: ONE full-outer join keyed by the pair, then a single
    * aggregation over membership flags — each input is traversed exactly
    * once (no separate count passes, so callers need not snapshot for the
    * audit's sake), no driver-side collect, no window. At 100 TB both
    * sides are pair sets already bounded by their generators (the exact
    * side by prefix filtering, the candidate side by bucket caps); run the
    * audit over an id-range slice to sample-estimate recall without
    * materializing the full exact graph (q111 does exactly this).
    */
  def candidateRecallAudit(exact: DataFrame, cand: DataFrame): DataFrame = {
    val e = exact.select("id_a", "id_b").withColumn("in_e", lit(1L))
    val c = cand.select("id_a", "id_b").withColumn("in_c", lit(1L))
    c.join(e, Seq("id_a", "id_b"), "full_outer")
      .agg(
        coalesce(sum("in_e"), lit(0L)).as("n_exact"),
        coalesce(sum("in_c"), lit(0L)).as("n_cand"),
        sum(when(col("in_e").isNotNull && col("in_c").isNotNull, 1L)
          .otherwise(0L)).as("n_hit"))
      .select(col("n_exact"), col("n_cand"), col("n_hit"),
        round(col("n_hit") * lit(1.0) / col("n_exact"), 4).as("recall"),
        round(col("n_hit") * lit(1.0) / col("n_cand"), 4).as("cand_precision"))
  }

  /** Exact Jaccard pairs BETWEEN two [[shingleIndex]] relations — the
    * incremental-dedup comparison: `shNew` (a micro-batch / new crawl
    * slice) against `shOld` (the admitted-history index), never history
    * against itself. Inverted-index join on the shingle, so the cost is
    * Σ over shared shingles of (new-postings × old-postings), not
    * |new|×|old|.
    *
    * `maxPostings` caps the HISTORY side per shingle (earliest-admitted —
    * lowest id — postings win, deterministic): a shingle present in more than
    * `maxPostings` admitted documents is non-discriminative boilerplate
    * whose postings grow without bound as history accumulates — the same
    * skew guard as [[minhashCandidates]]' bucket cap and
    * `Corpus.tfidfCosinePairs`' posting cap. Capping can only UNDERCOUNT an
    * intersection (recall loss on boilerplate-heavy pairs), never produce a
    * false pair; set 0 to disable for exact small-scale runs.
    *
    * Returns (`id_new`, `id_old`, `jaccard`), threshold-filtered. Pairs
    * with `id_new === id_old` are excluded so a replayed batch does not
    * match itself in the store (idempotent re-admission).
    */
  /** History-side posting cap shared by the batch×history comparisons
    * ([[jaccardBetween]], [[containmentBetween]]): a shingle present in
    * more than `maxPostings` admitted documents is non-discriminative
    * boilerplate whose postings grow without bound as history accumulates;
    * the earliest-admitted (lowest-id) postings win, deterministically.
    * No-silent-caps: the dropped-posting count rides `graft.postingCap`.
    */
  private def cappedPostings(shOld: DataFrame, maxPostings: Int): DataFrame =
    if (maxPostings <= 0) shOld
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("shingle").orderBy("__id")
      val over = col("__pn") > maxPostings
      shOld.withColumn("__pn", row_number().over(w))
        // no-silent-caps: postings beyond the cap are uncompared history —
        // visible via graft.postingCap (piggybacks on the window pass)
        .observe(s"graft.postingCap.${capObsId.incrementAndGet()}",
          sum(when(over, lit(1L)).otherwise(lit(0L))).as("dropped_postings"))
        .filter(!over)
        .drop("__pn")
    }

  def jaccardBetween(
      shNew: DataFrame,
      shOld: DataFrame,
      threshold: Double,
      maxPostings: Int = 1000): DataFrame = {
    require(threshold > 0.0,
      "jaccardBetween emits only intersecting pairs; threshold must be > 0")
    val oldCapped = cappedPostings(shOld, maxPostings)
    val pairCounts = shNew
      .select(col("__id").as("id_a"), col("sz").as("sz_a"), col("shingle"))
      .join(oldCapped.select(
        col("__id").as("id_b"), col("sz").as("sz_b"), col("shingle")), Seq("shingle"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("c"), max(col("sz_a")).as("sz_a"), max(col("sz_b")).as("sz_b"))
    jaccardScore(pairCounts, threshold)
      .select(col("id_a").as("id_new"), col("id_b").as("id_old"), col("jaccard"))
  }

  /** Directed CONTAINMENT of a micro-batch inside the admitted history —
    * the incremental form of [[containmentPairs]]' subsumption signal:
    * C(new→old) = |new ∩ old| / |new| over distinct word-k-shingle sets,
    * emitted when ≥ `threshold`. The case [[jaccardBetween]] structurally
    * misses: a short new document lifted verbatim from a long admitted one
    * scores J ≈ |new|/|old| (tiny) but C = 1.0. Direction is fixed by the
    * admission semantics — history is final, so only the NEW side can be
    * judged contained and dropped; no container order is needed (contrast
    * [[containmentDrops]], where both sides are candidates).
    *
    * Same inverted-index shape as [[jaccardBetween]]: cost is Σ over
    * shared shingles of (new × capped-old postings), never |new|×|old|;
    * the history side takes the shared [[cappedPostings]] boilerplate
    * guard (capping only UNDERCOUNTS an intersection — a missed
    * containment admits a duplicate, never drops an original; the
    * conservative direction is the cap-free small-scale run, `maxPostings
    * = 0`). Self-pairs are excluded for idempotent replay, like every
    * between-form. Returns (`id_new`, `id_old`, `containment`).
    */
  def containmentBetween(
      shNew: DataFrame,
      shOld: DataFrame,
      threshold: Double,
      maxPostings: Int = 1000): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment threshold must be in (0, 1], got $threshold")
    val oldCapped = cappedPostings(shOld, maxPostings)
    shNew
      .select(col("__id").as("id_new"), col("sz").as("sz_new"), col("shingle"))
      .join(oldCapped.select(col("__id").as("id_old"), col("shingle")), Seq("shingle"))
      .filter(col("id_new") =!= col("id_old"))
      .groupBy("id_new", "id_old")
      .agg(count(lit(1)).as("c"), max(col("sz_new")).as("sz_new"))
      .withColumn("containment",
        col("c").cast("double") / col("sz_new").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_new"), col("id_old"),
        round(col("containment"), 4).as("containment"))
  }

  /** FUSED batch×history admission comparison — the drop list
    * [[graft.streaming.StreamingDedup.admitBatch]] applies per batch: one
    * [[cappedPostings]] window + ONE inverted-index join + ONE pair
    * aggregation score BOTH the symmetric Jaccard and (when
    * `containThreshold` > 0) the directed containment, since the two
    * between-forms need the same (id_new, id_old, |∩|, sz_new, sz_old)
    * relation. Result ≡ `jaccardBetween ∪ containmentBetween` drop ids
    * (StreamingDedupSpec pins the equivalence); cost ≡ ONE between-form —
    * the separate operators stay as the oracle-gate query surface
    * (q105/q132), this is what production admission runs.
    */
  def admissionDropsBetween(
      shNew: DataFrame,
      shOld: DataFrame,
      jaccardThreshold: Double,
      containThreshold: Double,
      maxPostings: Int): DataFrame = {
    require(jaccardThreshold > 0.0, "jaccard threshold must be > 0")
    require(containThreshold <= 1.0,
      s"containment threshold must be <= 1, got $containThreshold")
    val pairs = shNew
      .select(col("__id").as("id_new"), col("sz").as("sz_new"), col("shingle"))
      .join(cappedPostings(shOld, maxPostings)
        .select(col("__id").as("id_old"), col("sz").as("sz_old"), col("shingle")),
        Seq("shingle"))
      .filter(col("id_new") =!= col("id_old"))
      .groupBy("id_new", "id_old")
      .agg(count(lit(1)).as("c"),
        max(col("sz_new")).as("sz_new"), max(col("sz_old")).as("sz_old"))
    val jacc = col("c").cast("double") /
      (col("sz_new") + col("sz_old") - col("c")).cast("double")
    val cont = col("c").cast("double") / col("sz_new").cast("double")
    val hit =
      if (containThreshold > 0.0) jacc >= jaccardThreshold || cont >= containThreshold
      else jacc >= jaccardThreshold
    pairs.filter(hit).select("id_new").distinct()
  }

  /** SimHash: 64-bit locality-sensitive fingerprint. Each token contributes
    * its xxhash64 bit pattern (+1 for set bits, −1 for unset); the
    * fingerprint takes the sign of each accumulated bit position.
    *
    * Computed by the native `SimHash64` Catalyst expression
    * (`graft.functions.VectorExpressions`) — one fused pass over the token
    * array per document, inside whole-stage codegen. (The pure-dataflow
    * alternative explodes 64 bit-rows per token: a 64× row blowup through a
    * shuffle for what is per-row arithmetic.) Near-dup candidate generation
    * buckets fingerprints on 16-bit chunks (pigeonhole: Hamming distance ≤ 3
    * ⇒ at least one of 4 chunks equal).
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    spread(docs).select(
      col(idCol),
      graft.functions.VectorFunctions.simhash64(
        TextFunctions.tokens(col(textCol))).as("simhash"))

  /** SimHash near-dup pairs within a Hamming-distance budget, 16-bit-chunk
    * candidate generation (pigeonhole: distance ≤ 3 ⇒ ≥1 of 4 chunks
    * equal). Pair instancing is a chunk-keyed sort-merge self-join over
    * the snapshotted chunk relation — the same r18 physical rewrite as
    * [[bandBucketPairs]] (the prior `collect_list` member arrays routed
    * the reduce through `ObjectHashAggregate`'s sort fallback, the r17
    * ×100 scale-killer); the fingerprints and their chunks compute once.
    */
  def simhashNearDups(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    // the CHUNKED relation feeds both self-join sides: one checkpoint. Its
    // 4-rows-per-doc blowup is id+fingerprint+two small ints — still
    // signature-sized, never text.
    val chunked = Stage.snapshotDF(
      simhash(docs, idCol, textCol)
        .select(col(idCol).as("__id"), col("simhash"),
          explode(sequence(lit(0), lit(3))).as("chunk"))
        .withColumn("ckey", expr("shiftright(simhash, chunk * 16) & 65535")))
    chunked
      .select(col("chunk"), col("ckey"),
        col("__id").as("id_a"), col("simhash").as("sh_a"))
      .join(chunked.select(col("chunk"), col("ckey"),
        col("__id").as("id_b"), col("simhash").as("sh_b")),
        Seq("chunk", "ckey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairs on FINALIZED-polyhash bit tests — the declared
    * q44 gate form (the q53/q228-beside-q71 convention: the fused 64-bit
    * xxhash kernel [[simhashNearDups]] stays spec-tested; THIS form is
    * SQL-replayable end to end). A 60-bit fingerprint: token hash
    * h = finalized(polyhash(tok)), then four affine variants
    * h_j = (h·(2j+1) + (7j+3)) mod P each contribute 15 bit tests
    * (bits 0..14 — all well inside h_j < P < 2^30), each bit set by the
    * majority vote over the document's tokens, exactly the
    * `simhash16Deterministic` vote rule widened to 60 bits. 60 bits
    * (not 64) keeps the fingerprint strictly positive so both engines
    * fold it in plain BIGINT arithmetic — no sign-bit cases. Candidate
    * generation pigeonholes on the four 15-bit variant words (Hamming
    * ≤ 3 ⇒ at least one of 4 words equal — the production form's chunk
    * argument verbatim), each word a 32k-bucket key; verification is
    * `bit_count(xor)` on candidate pairs only.
    */
  def simhashNearDupsFinalized(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val p = graft.functions.StringKernels.PolyHashMod
    val toks = spread(docs)
      .select(col(idCol).as("__id"),
        explode_outer(TextFunctions.tokens(col(textCol))).as("tok"))
      .filter(col("tok").isNotNull)
      .withColumn("h",
        Kmv.finalized(graft.functions.StringFunctions.polyHash(col("tok"))))
    val votes = for (j <- 0 until 4; b <- 0 until 15) yield
      sum(shiftright((col("h") * (2 * j + 1) + (7 * j + 3)) % p, b)
        .bitwiseAND(1) * 2 - 1).as(s"v${j * 15 + b}")
    val fp = toks.groupBy("__id")
      .agg(votes.head, votes.tail: _*)
      .select(col("__id"),
        (0 until 60).map(i => when(col(s"v$i") > 0, lit(1L << i)).otherwise(0L))
          .reduce(_ + _).as("simhash60"))
    // same r18 join-based pair instancing as [[simhashNearDups]]: the
    // 60-vote fingerprint aggregate runs once behind the snapshot, the
    // chunk-keyed self-join replaces the object-agg member arrays; the
    // snapshot sits on the chunked relation, as in [[simhashNearDups]]
    val chunked = Stage.snapshotDF(
      fp.select(col("__id"), col("simhash60"),
        explode(sequence(lit(0), lit(3))).as("chunk"))
        .withColumn("ckey", expr("shiftright(simhash60, chunk * 15) & 32767")))
    chunked
      .select(col("chunk"), col("ckey"),
        col("__id").as("id_a"), col("simhash60").as("sh_a"))
      .join(chunked.select(col("chunk"), col("ckey"),
        col("__id").as("id_b"), col("simhash60").as("sh_b")),
        Seq("chunk", "ckey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b")))
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over a near-duplicate pair graph (id_a, id_b) —
    * the step that turns pairwise matches into dedup CLUSTERS so one
    * survivor per cluster can be kept. Distributed hash-min label
    * propagation: every node starts labeled with itself; each round, every
    * node adopts the minimum label in its closed neighborhood; converged
    * when no label changes. Rounds = graph diameter (near-dup clusters are
    * tiny and dense, so 2-4 rounds in practice); each round is one shuffle
    * keyed by node — never materializes the transitive closure. The driver
    * loop carries only a changed-count, and `Stage.snapshot` truncates the
    * per-iteration lineage (without it the plan doubles every round).
    *
    * Returns (node, component) with component = min node id in the cluster;
    * isolated nodes absent from `pairs` are not returned.
    */
  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String, maxRounds: Int = 50): DataFrame = {
    // Checkpoint the PAIR INPUT before the symmetrizing union: both union
    // branches reference `pairs`, and Catalyst re-executes the full candidate
    // pipeline (shingle → invert → pair-expand, the expensive part of every
    // dedup job) once per branch. Materializing the tiny pair list first makes
    // the union read 2× a checkpoint instead of running 2× the pipeline.
    val p = pairs.select(col(aCol).as("src"), col(bCol).as("dst")).transform(Stage.snapshotDF)
    val edges = p
      .union(p.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .transform(Stage.snapshotDF)
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .transform(Stage.snapshotDF)
    // State held per round = one (node, label) pair per node APPEARING IN A
    // PAIR — a small fraction of the corpus; prior rounds' checkpoint blocks
    // are released by the ContextCleaner once their DataFrames drop out of
    // scope below.
    //
    // FRONTIER RESTRICTION (r19, guide §2.1/§2.5): round r's neighbor-min
    // joins only the labels that CHANGED in round r−1, not the full label
    // table. Output-identical by induction: the unrestricted update keeps
    // the invariant label_r(n) ≤ label_{r−1}(m) for every neighbor m, so a
    // neighbor whose label did NOT change in round r−1 contributes a value
    // n already holds — omitting it changes no min, no __chg flag, no
    // round count (the digest sweep and the per-round ccConverge totals
    // pin this). The win compounds with scale: settled components stop
    // paying the edge join every remaining round — the per-round shuffle
    // shrinks with the frontier instead of staying edge-sized, and once
    // the frontier is small AQE broadcasts it.
    var frontier = labels
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val neighborMin = edges
        .join(frontier.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"))
        .agg(min("label").as("nbr_label"))
      // Pointer jumping from round 4 on: later rounds also compress
      // label(v) → label(label(v)) (one self-join of the CHECKPOINTED
      // label table — every label value is itself a labeled node, so the
      // lookup always hits), so the remaining path length halves per
      // round (O(log d) total) instead of shrinking by one hop. Plain
      // hash-min needs diameter rounds — the r18 profiler caught q176's
      // linkage chains paying ~35 dispatch-bound rounds — but the
      // near-dup cluster graphs (q80 family) are dense, converge in ≤ 3
      // rounds, and would only pay the extra join, hence the gate: the
      // first 3 rounds run the plain step; any graph still unconverged
      // by then has chains, exactly where the jump pays. Both candidate
      // values are ids of nodes in v's own component and labels only
      // ever decrease, so the fixpoint — every label the component
      // minimum — is unchanged on every path (digest-sweep-pinned).
      val base =
        if (rounds < 3)
          labels.withColumn("__jl",
            lit(null).cast(labels.schema("label").dataType))
        else {
          val jump = labels.select(col("node").as("__jn"), col("label").as("__jl"))
          labels.join(jump, col("label") === col("__jn"), "left")
            .select(col("node"), col("label"), col("__jl"))
        }
      val next = base
        .join(neighborMin, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nbr_label"), col("label")),
            coalesce(col("__jl"), col("label"))).as("label"),
          (col("nbr_label") < col("label") || col("__jl") < col("label"))
            .as("__chg"))
      // The convergence count rides the checkpoint's own materializing job
      // as an observe metric instead of a second count() action — one job
      // per round, not two. CollectMetrics accumulates per task, so the
      // eager localCheckpoint that materializes `next` also fills the
      // metric; a missing entry would mean the barrier never executed the
      // observed plan, which must fail loudly (a silent 0 would return
      // non-converged labels and split components).
      val obsName = s"graft.ccConverge.${capObsId.incrementAndGet()}"
      val obs = next.observe(obsName,
        sum(when(col("__chg"), lit(1L)).otherwise(lit(0L))).as("changed"))
      val nextCk = obs.transform(Stage.snapshotDF)
      val row = obs.queryExecution.observedMetrics.getOrElse(obsName,
        throw new IllegalStateException(
          s"$obsName missing after snapshot — convergence count unavailable"))
      // sum over ZERO rows is null: an empty label table is trivially
      // converged (no pairs ⇒ no components), the same answer count() gave
      changed = Option(row.getAs[java.lang.Long]("changed"))
        .map(_.longValue()).getOrElse(0L)
      labels = nextCk.select("node", "label")
      // next round's frontier = the rows whose label just changed, read
      // straight off the round's checkpoint (the filter keeps only true;
      // a null __chg — no changed neighbor, no jump hit — is unchanged).
      // frontier empty ⟺ changed == 0, so the loop condition needs no
      // second test. (Under spark.graft.checkpoint=reliable the observe
      // count is doubled by the checkpoint's second lineage execution —
      // harmless here: `changed` is only ever zero-tested, and the
      // frontier rides the DATA, not the metric.)
      frontier = nextCk.filter(col("__chg")).select("node", "label")
      rounds += 1
    }
    // a silent non-converged return would split components and let
    // duplicates survive dedup — fail loudly instead
    require(changed == 0,
      s"connectedComponents did not converge in $maxRounds rounds " +
        s"($changed labels still changing) — graph diameter exceeds the cap")
    labels.select(col("node"), col("label").as("component"))
  }

  /** Drop rows whose bucket (`key`) holds more than `maxBucketSize` members
    * — the same skew guard [[minhashCandidates]] applies before ITS pair
    * stage. A per-bucket self-join costs Σ bucket²; nothing else bounds a
    * bucket, and one degenerate bucket (near-zero embeddings all hashing to
    * the same code, a giant near-duplicate cluster, a hot label) turns the
    * stage quadratic on a 1000-executor cluster. A bucket that big is
    * non-discriminative — its key carries no signal — so dropping it loses
    * only pairs a discriminative key would not have produced. The window
    * count shuffles by the same key as the downstream join, so the exchange
    * is reused, not added.
    *
    * A firing cap must be VISIBLE, not silent (the repo's no-silent-caps
    * convention): the pre-filter rows carry an `observe` metric —
    * `dropped_rows` (rows in over-cap buckets) and `dropped_buckets`
    * (Σ 1/size over those rows ≡ the bucket count, to one ulp — `observe`
    * forbids DISTINCT aggregates, so the count is reconstructed without
    * one). Zero extra jobs/shuffles: CollectMetrics piggybacks on the pass
    * that computes `__bsz`. Read after an action via
    * `df.queryExecution.observedMetrics` or fleet-wide with a
    * `QueryExecutionListener`/`SparkListener` (metric name prefix
    * `graft.capBuckets`); asserted in DedupSpec.
    */
  private[operators] val capObsId = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Fresh suffix for observe-metric names (CollectMetrics names must be
    * unique within a plan AND across the loops that re-observe per round). */
  private[operators] def obsId(): Int = capObsId.incrementAndGet()
  private[operators] def capBuckets(df: DataFrame, key: String, maxBucketSize: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(key)
    val over = col("__bsz") > maxBucketSize
    df.withColumn("__bsz", count(lit(1)).over(w))
      // unique suffix: one query may cap several stages, and CollectMetrics
      // names must not collide within a plan
      .observe(s"graft.capBuckets.$key.${capObsId.incrementAndGet()}",
        sum(when(over, lit(1)).otherwise(lit(0))).as("dropped_rows"),
        round(coalesce(sum(when(over, lit(1.0) / col("__bsz"))), lit(0.0)), 0)
          .cast("long").as("dropped_buckets"))
      .filter(!over)
      .drop("__bsz")
  }

  /** Split over-cap buckets into hash-assigned sub-blocks instead of
    * dropping them — the graceful-degradation alternative to [[capBuckets]]
    * for blocks that are hot but NOT meaningless (a giant legitimate
    * near-duplicate cluster, a dominant label). Each bucket of size s
    * becomes ⌈s/maxBucketSize⌉ sub-blocks keyed by
    * `pmod(xxhash64(vec_id), n)`; comparisons happen within a sub-block
    * only, so per-group work stays ~cap² while recall degrades to ~1/n of
    * the hot bucket's pairs instead of zero (under-cap buckets get n = 1
    * and are untouched). Expected sub-block size is s/n; the hash
    * assignment keeps that bound regardless of id distribution. Same
    * zero-extra-job observability contract as [[capBuckets]]
    * (`graft.subBlock.*`: affected rows and split-bucket count).
    */
  private def subBlockBuckets(
      df: DataFrame, key: String, maxBucketSize: Int, idCol: String): DataFrame = {
    require(df.columns.contains(idCol),
      s"subBlockBuckets needs row-id column '$idCol' for sub-block assignment")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(key)
    val over = col("__bsz") > maxBucketSize
    df.withColumn("__bsz", count(lit(1)).over(w))
      .withColumn("__nsub",
        expr(s"(__bsz + ${maxBucketSize - 1}) div $maxBucketSize"))
      .observe(s"graft.subBlock.$key.${capObsId.incrementAndGet()}",
        sum(when(over, lit(1)).otherwise(lit(0))).as("subblocked_rows"),
        round(coalesce(sum(when(over, lit(1.0) / col("__bsz"))), lit(0.0)), 0)
          .cast("long").as("subblocked_buckets"))
      .withColumn(key, concat(col(key).cast("string"), lit("#"),
        pmod(xxhash64(col(idCol)), col("__nsub"))))
      .drop("__bsz", "__nsub")
  }

  /** Bucket-bounding policy dispatch: `"drop"` excludes over-cap buckets
    * entirely (right when an over-cap key is non-discriminative noise —
    * LSH bands, probe keys); `"subblock"` keeps them at partial recall
    * (right when the key is meaningful and its members are real near-dup
    * candidates — labels, IVF cells).
    */
  private def boundBuckets(
      df: DataFrame, key: String, maxBucketSize: Int, oversized: String,
      idCol: String = "vec_id"): DataFrame =
    oversized match {
      case "drop"     => capBuckets(df, key, maxBucketSize)
      case "subblock" => subBlockBuckets(df, key, maxBucketSize, idCol)
      case other => throw new IllegalArgumentException(
        s"oversized must be 'drop' or 'subblock', got '$other'")
    }

  /** Embedding cosine near-duplicates, blocked by a partition key so the
    * pairwise comparison is bounded per block (at 100 TB the block key would
    * be an LSH bucket or IVF centroid — here the dataset's `label` column
    * doubles as the block, and `Similarity.lshBuckets` provides the
    * hash-derived alternative). Blocks larger than `maxBucketSize` are
    * dropped before the self-join ([[capBuckets]]) or split into bounded
    * sub-blocks (`oversized = "subblock"`, [[subBlockBuckets]]) — either
    * way Σ block² can't go quadratic on a degenerate block.
    */
  def embeddingNearDups(
      embeddings: DataFrame,
      blockCol: String,
      threshold: Double,
      maxBucketSize: Int = 1000,
      oversized: String = "drop"): DataFrame = {
    val e = boundBuckets(
      embeddings.select(
        col("vec_id"), col(blockCol).as("__block"),
        Similarity.toDoubleArray(col("embedding")).as("v")),
      "__block", maxBucketSize, oversized)
    val a = e.select(col("__block"), col("vec_id").as("id_a"), col("v").as("va"))
    val b = e.select(col("__block"), col("vec_id").as("id_b"), col("v").as("vb"))
    a.join(b, Seq("__block"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", Similarity.cosine(col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
  }

  /** [[embeddingNearDups]] with the block key the 100 TB design actually
    * prescribes: a deterministic random-hyperplane LSH bucket
    * ([[Similarity.lshBucketsDeterministic]]) instead of a data column.
    * Map-side bucketing (8 fused dot-product kernels per vector), then the
    * same bounded per-block pairwise stage — the shuffle key is the bucket,
    * so comparison volume is Σ bucket², never corpus². Cosine-close vectors
    * land in the same bucket with probability (1 − θ/π)^planes; multi-probe
    * or banded variants raise recall without changing the dataflow.
    */
  def embeddingNearDupsLsh(
      embeddings: DataFrame,
      numPlanes: Int,
      dim: Int,
      threshold: Double,
      maxBucketSize: Int = 1000,
      oversized: String = "drop"): DataFrame =
    embeddingNearDups(
      Similarity.lshBucketsDeterministic(embeddings, numPlanes, dim),
      "lsh_bucket", threshold, maxBucketSize, oversized)

  /** Multi-probe variant of [[embeddingNearDupsLsh]]: each vector is keyed
    * under its own bucket AND the `numPlanes` one-bit-flip neighbors, so a
    * pair meets iff their bucket codes differ in ≤ 2 planes (one flip
    * bridged from each side) — near-dups that straddle up to two hyperplane
    * boundaries are no longer lost. Recall rises from (1−θ/π)^p toward the
    * ≤2-mismatch binomial tail at a bounded (numPlanes+1)× key expansion —
    * the standard multi-probe trade: more candidate volume, same map-side
    * dataflow, no extra planes. Exact cosine still verifies every
    * candidate; duplicate meetings of a pair collapse in the final
    * distinct (same vectors → same rounded sim). Probe-key groups larger
    * than `maxBucketSize` are dropped before the self-join ([[capBuckets]])
    * — multi-probe's (numPlanes+1)× key expansion makes hot buckets hotter,
    * so the cap matters MORE here than in the exact-bucket form.
    */
  def embeddingNearDupsMultiProbe(
      embeddings: DataFrame,
      numPlanes: Int,
      dim: Int,
      threshold: Double,
      maxBucketSize: Int = 1000): DataFrame = {
    val b = Similarity.lshBucketsDeterministic(embeddings, numPlanes, dim)
      .select(col("vec_id"), Similarity.toDoubleArray(col("embedding")).as("v"),
        col("lsh_bucket"))
    // flip = -1 marks the identity probe (the vector's own bucket).
    // Stage.snapshot: the probe relation feeds BOTH self-join sides —
    // without it the scan + 8 dot-product bucket computations + 9× explode
    // execute once per side (the fan-out rule used across this file)
    val probes = capBuckets(
      b.select(col("vec_id"), col("v"), col("lsh_bucket"),
          explode(array((-1 until numPlanes).map(lit(_)): _*)).as("flip"))
        .withColumn("probe",
          when(col("flip") === -1, col("lsh_bucket"))
            .otherwise(expr("lsh_bucket ^ shiftleft(1L, flip)"))),
      "probe", maxBucketSize)
      .transform(Stage.snapshotDF)
    val a = probes.select(col("probe"), col("vec_id").as("id_a"), col("v").as("va"))
    val bb = probes.select(col("probe"), col("vec_id").as("id_b"), col("v").as("vb"))
    a.join(bb, Seq("probe"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", Similarity.cosine(col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
      .distinct()
  }

  /** SemDeDup-style semantic deduplication (Abbas et al., 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): cluster the embedding space, then prune
    * within-cluster cosine near-duplicates, keeping one representative per
    * neighborhood. Unlike the text-hash families (MinHash/SimHash), this
    * removes documents that SAY the same thing in different words — the
    * dedup layer a web-scale training corpus runs after exact/near-dup.
    *
    * Dataflow at 100 TB: centroids ride along as a broadcast literal
    * (map-side argmax assignment, [[Similarity.ivfAssign]] — no shuffle);
    * the only shuffle is the per-cell pairwise stage, which is
    * [[embeddingNearDups]] blocked by `centroid_id` and therefore bounded
    * by the same [[boundBuckets]] policy (`"subblock"` by default — an
    * over-cap cell is a real semantic cluster, so it degrades to partial
    * recall rather than vanishing). Survivor rule: a vector is a duplicate
    * iff a LOWER-id vector sits within `threshold` cosine in its cell —
    * deterministic, and each nonempty cell keeps at least its minimum id
    * (the paper keeps one random member per group; min-id is the
    * reproducible equivalent).
    *
    * Returns the full assignment — (vec_id, label, embedding, centroid_id,
    * is_dup) — so callers can either filter (`!is_dup`) or account.
    */
  def semanticDedup(
      embeddings: DataFrame,
      cents: Array[(Long, Seq[Double])],
      threshold: Double,
      maxBucketSize: Int = 1000,
      oversized: String = "subblock"): DataFrame = {
    // assignment feeds the pair stage's self-join AND the final flag join —
    // snapshot so scan + 16 cosine kernels run once (the fan-out rule)
    val assigned = Similarity.ivfAssign(embeddings, cents)
      .drop("__v")
      .transform(Stage.snapshotDF)
    val pairs = embeddingNearDups(assigned, "centroid_id", threshold,
      maxBucketSize, oversized)
    val dropped = pairs.select(col("id_b").as("vec_id")).distinct()
      .withColumn("__dup", lit(true))
    assigned.join(dropped, Seq("vec_id"), "left")
      .withColumn("is_dup", coalesce(col("__dup"), lit(false)))
      .drop("__dup")
  }

  /** Cosine near-dup pairs BETWEEN two embedding relations, blocked by the
    * broadcast-centroid cell — the semantic twin of [[jaccardBetween]] and
    * the relational core of
    * [[graft.streaming.StreamingSemanticDedup]]'s history comparison: each
    * new vector meets only the history of ITS OWN cell (map-side argmax
    * assignment on both sides, join on `centroid_id`), and the history
    * side of each cell is capped at its `maxPerCell` MOST-CENTRAL members
    * (cosine to the cell centroid, vec_id tie-break) — the same prefix the
    * admission store keeps, so this form puts the admission decision's
    * comparison semantics under a relational (oracle-checkable) surface.
    * Capping only UNDERCOUNTS (pairs against far-from-centroid history go
    * unseen), never invents a pair; set `maxPerCell <= 0` to disable.
    *
    * Returns (`id_new`, `id_old`, `sim`), threshold-filtered; equal-id
    * pairs are excluded so a replayed batch does not match itself
    * (idempotent re-admission, same guard as [[jaccardBetween]]).
    */
  def semanticBetween(
      newEmb: DataFrame,
      oldEmb: DataFrame,
      cents: Array[(Long, Seq[Double])],
      threshold: Double,
      maxPerCell: Int = 10000): DataFrame = {
    val a = Similarity.ivfAssign(newEmb, cents)
      .select(col("vec_id").as("id_new"), col("centroid_id"),
        col("__v").as("__vn"))
    val o0 = Similarity.ivfAssign(oldEmb, cents)
      .select(col("vec_id").as("id_old"), col("centroid_id"),
        col("__v").as("__vo"))
    val o =
      if (maxPerCell <= 0) o0
      else {
        val centMap = map(cents.flatMap { case (cid, v) =>
          Seq(lit(cid), array(v.map(lit): _*))
        }: _*)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("centroid_id")
          .orderBy(
            Similarity.cosine(col("__vo"),
              element_at(centMap, col("centroid_id"))).desc,
            col("id_old"))
        o0.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= maxPerCell)
          .drop("__rn")
      }
    a.join(o, Seq("centroid_id"))
      .filter(col("id_new") =!= col("id_old"))
      .withColumn("sim", Similarity.cosine(col("__vn"), col("__vo")))
      .filter(col("sim") >= threshold)
      .select(col("id_new"), col("id_old"), round(col("sim"), 4).as("sim"))
  }

  /** INCREMENTAL connected components: advance an existing
    * (node, component) labeling by a new batch of pairs WITHOUT the
    * historical edge set. The label STAR (node — component) is
    * connectivity-equivalent to the old graph, so running
    * [[connectedComponents]] over (stars ∪ new pairs) yields exactly the
    * full-recompute labels of (old edges ∪ new pairs) — DedupSpec pins
    * incremental ≡ full, and q243's oracle checks it against the full
    * transitive closure. Nodes untouched by the merged edge set
    * (including label singletons, which carry no star edge) keep their
    * label through the closing outer join.
    *
    * This is the 100 TB dedup-maintenance loop: per ingest batch the
    * work is (labels + batch pairs)-sized — history enters as one
    * node-per-member star relation, never as re-shingled documents.
    * Component ids stay min-node, so ids never churn when a component
    * only grows (a merge of two components adopts the smaller id — the
    * same id the full recompute would pick).
    */
  def incrementalComponents(
      labels: DataFrame, newPairs: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    val lab = Stage.snapshotDF(labels.select(col("node"), col("component")))
    val star = lab.filter(col("node") =!= col("component"))
      .select(col("node").as("__a"), col("component").as("__b"))
    val np = newPairs.select(col(aCol).as("__a"), col(bCol).as("__b"))
    val merged = connectedComponents(star.union(np), "__a", "__b")
      .withColumnRenamed("component", "__mc")
    lab.join(merged, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("__mc"), col("component")).as("component"))
  }

  /** The q80 pair-graph family's shared derivation as a first-class
    * relation: components of a similarity pair graph joined to one
    * carried document attribute — (component, idCol, sizeCol),
    * min-node component ids. Eight gate queries (q80/q82/q237/q242/
    * q245/q246/q248/q256) each re-derive this base independently BY
    * DESIGN (so one query's bug can't hide behind another's cache);
    * the PRODUCTION composition materializes it ONCE here (~3–4×
    * family saving, priced in BENCH_NOTES round 14), versions it
    * through [[writeComponentSnapshot]]/[[readComponentSnapshot]],
    * and maintains it on growth via [[updateComponentSnapshot]]'s
    * [[incrementalComponents]] path — history never re-shingles.
    */
  def componentSnapshot(
      pairs: DataFrame, docs: DataFrame,
      idCol: String = "doc_id", sizeCol: String = "n_chars"): DataFrame = {
    val cc = connectedComponents(pairs, "id_a", "id_b")
    // LEFT join: a pair endpoint absent from the docs dimension keeps
    // its row (null size) — dropping it here would erase its LABEL from
    // the store, and a later batch bridging through it would then build
    // a disjoint component where the one-shot recompute merges
    val dim = docs.select(col(idCol), col(sizeCol))
    cc.join(dim, cc("node") === dim(idCol), "left")
      .select(col("component"), cc("node").as(idCol), dim(sizeCol))
  }

  /** Grow a snapshot with new pairs (new docs arrived, or a lower
    * threshold admitted new edges): [[incrementalComponents]] over the
    * prior labels + the new-edge relation — (labels + batch pairs)-sized
    * work, never a re-shingle of history — rejoined to the carried
    * attribute. Growth-only contract: memberships are never removed
    * (components can only merge, and merged ids stay min-node), which is
    * what makes the delta store's last-writer-wins read exact.
    */
  def updateComponentSnapshot(
      prior: DataFrame, newPairs: DataFrame, docs: DataFrame,
      idCol: String = "doc_id", sizeCol: String = "n_chars"): DataFrame = {
    val labels = prior.select(col(idCol).as("node"), col("component"))
    val grown = incrementalComponents(labels, newPairs, "id_a", "id_b")
    // same LEFT join as [[componentSnapshot]]: labels of nodes outside
    // the docs dimension must survive into the store (they carry
    // connectivity for future batches)
    val dim = docs.select(col(idCol), col(sizeCol))
    grown.join(dim, grown("node") === dim(idCol), "left")
      .select(col("component"), grown("node").as(idCol), dim(sizeCol))
  }

  /** The delta between two snapshot versions: rows of `current` that are
    * new or changed vs `prior` (NULL-SAFE anti-join on every column —
    * a row with a null carried attribute must still anti-out against
    * its identical prior self, or it would ride every delta forever and
    * grow the store linearly in batches; exact under the growth-only
    * contract, where rows never disappear). THIS is what a version
    * write stores: at 100 TB the changed-membership set is tiny against
    * the full snapshot, so versioning costs delta-sized writes, not
    * snapshot-sized ones.
    */
  def snapshotDelta(prior: Option[DataFrame], current: DataFrame): DataFrame =
    prior match {
      case None => current
      case Some(p) =>
        val cond = current.columns.map(c => current(c) <=> p(c)).reduce(_ && _)
        current.join(p, cond, "left_anti")
    }

  /** Write one snapshot version's DELTA as the batch-store partition
    * `batch=<batchId>` ([[graft.sources.Sinks.appendBatchPartition]]
    * semantics: idempotent overwrite per id, crash-consistent
    * compaction), stamping each row with `snap_batch` so reconstruction
    * survives compaction (the column rides in the rows, not the
    * directory name).
    */
  def writeComponentSnapshot(
      spark: org.apache.spark.sql.SparkSession, delta: DataFrame,
      path: String, batchId: Long): Unit =
    graft.sources.Sinks.appendBatchPartition(
      spark, delta.withColumn("snap_batch", lit(batchId)), path, batchId)

  /** Reconstruct snapshot version `upToBatch` from the delta store:
    * union of partitions ≤ upToBatch ([[graft.sources.Sinks
    * .readBatchStoreAsOf]] — inherits its compaction-horizon contract),
    * then last-writer-wins PER ID (`max snap_batch` keyed on `idCol`
    * alone — a delta that re-labels a doc's component or revises its
    * carried attribute must fully supersede the older row, never
    * coexist with it). Reads only COMMITTED partitions (the
    * graft-owned `_graft_committed` marker, or `_SUCCESS` for
    * pre-marker stores — the graft marker makes commit visibility
    * independent of the cluster's job-committer config): a torn
    * mid-crash delta is internally inconsistent for a LWW store, so
    * reconstruction falls back to the previous committed version until
    * the replay rewrites it. None when the store is empty; several
    * data partitions with NO marker anywhere throws rather than
    * presenting live history as an empty store.
    */
  def readComponentSnapshot(
      spark: org.apache.spark.sql.SparkSession, path: String,
      upToBatch: Long = Long.MaxValue,
      idCol: String = "doc_id"): Option[DataFrame] = {
    graft.sources.Sinks.readBatchStoreAsOf(spark, path, upToBatch,
        requireCommitted = true).map { df =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(idCol)).orderBy(col("snap_batch").desc)
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn", "snap_batch")
    }
  }

  /** Transitivity (chaining-risk) audit of a similarity pair graph: of
    * all wedge pairs (x, z) connected through a shared neighbor, how
    * many are NOT themselves a similar pair — the open wedges that
    * [[connectedComponents]] will nonetheless merge. A high open share
    * means CC clusters chain dissimilar documents end-to-end (the
    * classic dedup over-merge), and the survivor policy / threshold
    * needs revisiting BEFORE the destructive keep-one step runs.
    *
    * Cost: one self-join of the adjacency through the wedge center —
    * Σ deg², the triangle-enumeration profile, on the PAIR graph (pairs,
    * not corpus, bound it). One audit row: pair/wedge/open counts and
    * the open share.
    */
  def chainAudit(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = Stage.snapshotDF(pairs
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") < col("b")).distinct())
    val adj = Stage.snapshotDF(
      e.select(col("a").as("x"), col("b").as("c"))
        .union(e.select(col("b").as("x"), col("a").as("c"))))
    val wedges = Stage.snapshotDF(adj.as("l")
      .join(adj.as("r"), col("l.c") === col("r.c") && col("l.x") < col("r.x"))
      .select(col("l.x").as("a"), col("r.x").as("b")).distinct())
    val open = wedges.join(e, Seq("a", "b"), "left_anti")
    e.agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(wedges.agg(count(lit(1)).as("n_wedge_pairs"))))
      .crossJoin(broadcast(open.agg(count(lit(1)).as("n_open_wedges"))))
      .select(col("n_pairs"), col("n_wedge_pairs"), col("n_open_wedges"),
        when(col("n_wedge_pairs") > 0,
          round(col("n_open_wedges").cast("double") /
            col("n_wedge_pairs").cast("double"), 6) + lit(0.0))
          .as("open_share"))
  }
}
