package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.TextFunctions

/** The reference's core dataflow, re-expressed as composable DataFrame
  * transformations (reference: `ingester/annotations_indexer.py:235-297`):
  *
  * {{{
  *   scan → F1 length filter → [F2 anti-join] → U1 annotate
  *        → X1 explode entities → P1/P2 meta./nlp. projection → sink
  * }}}
  *
  * Where the reference drives a per-document Python loop over a thread pool
  * (`annotations_indexer.py:307-312`), this engine declares the whole
  * pipeline as a logical plan: Catalyst pushes the filters into the parquet
  * scan, the annotator is either a codegen'd expression (dictionary tagger)
  * or a `mapPartitions` stage (HTTP NLP), and parallelism comes from data
  * partitioning, not threads.
  */
object AnnotationPipeline {

  /** F1 — minimum text length (reference MIN_TEXT_LEN=5,
    * `ingester/annotations_indexer.py:66,244-248`). Null, missing, or
    * shorter-than-5 texts are dropped.
    */
  val MinTextLen = 5

  def filterValidText(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.filter(col(textCol).isNotNull && length(col(textCol)) >= MinTextLen)

  /** F2 — already-processed filter as a distributed left-anti join
    * (reference does one ES count RPC per document,
    * `ingester/annotations_indexer.py:80-101`; at 100 TB that is O(N) round
    * trips — the anti-join is the scalable form).
    *
    * `sink` is the existing annotation store; `docIdCol` / `sinkDocIdCol`
    * name the document-id columns on each side.
    */
  def filterAlreadyProcessed(
      docs: DataFrame,
      sink: DataFrame,
      docIdCol: String = "doc_id",
      sinkDocIdCol: String = "meta_doc_id"): DataFrame = {
    val processedIds = sink.select(col(sinkDocIdCol).as("__processed_id")).distinct()
    docs.join(processedIds, docs(docIdCol) === col("__processed_id"), "left_anti")
  }

  /** F2 at 100 TB — bloom-REROUTED already-processed anti-join.
    *
    * AQE's runtime bloom filters cannot prune an anti-join: a probe row that
    * fails the build side's bloom filter is exactly the row the anti-join
    * must KEEP, so `InjectRuntimeFilter` has nothing to drop and both sides
    * shuffle in full. The scalable form is explicit rerouting: build one
    * bloom filter over the processed-id side (one partial-aggregable
    * `bloom_filter_agg`, the sketch merges associatively map-side), collect
    * the bounded sketch (`numBits/8` bytes — a driver literal like the
    * Similarity LUTs, NOT a data-sized collect), then split the probe side
    * map-side with codegen `might_contain`:
    *
    *   - bloom-NEGATIVE docs are definitely unprocessed → straight to the
    *     output, touching no shuffle at all;
    *   - bloom-POSITIVE docs (true positives + the ~fpp false positives)
    *     are the only rows that enter the exact anti-join.
    *
    * Result is EXACTLY `filterAlreadyProcessed` (blooms have no false
    * negatives), but the anti-join shuffle carries |processed| + fpp·|new|
    * rows instead of |processed| + |new|. The reference's shape is one ES
    * count RPC per document (`ingester/annotations_indexer.py:80-101`);
    * the plain anti-join distributes it, and this form un-bottlenecks the
    * distribution at the 100 TB re-ingest where almost everything was
    * already processed. Both bloom sides hash with `xxhash64` (seed 42) so
    * any key type reduces to the long domain `bloom_filter_agg` fills.
    */
  def filterAlreadyProcessedBloom(
      docs: DataFrame,
      sink: DataFrame,
      docIdCol: String = "doc_id",
      sinkDocIdCol: String = "meta_doc_id",
      expectedItems: Long = 1000000L,
      fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val numBits = optimalNumBits(expectedItems, fpp)
    val processedIds = sink.select(col(sinkDocIdCol).as("__processed_id")).distinct()
    val bfAgg = new BloomFilterAggregate(
      new XxHash64(Seq(GraftBridge.expression(col("__processed_id")))),
      Literal(expectedItems), Literal(numBits))
    val bfBytes = processedIds
      .select(GraftBridge.column(bfAgg.toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    // empty processed side → bloom_filter_agg yields null → nothing processed
    if (bfBytes == null) return docs
    val mightContain = GraftBridge.column(BloomFilterMightContain(
      Literal(bfBytes),
      new XxHash64(Seq(GraftBridge.expression(docs(docIdCol))))))
    val fresh = docs.filter(!mightContain)
    val maybe = docs.filter(mightContain)
      .join(processedIds, docs(docIdCol) === col("__processed_id"), "left_anti")
    fresh.unionByName(maybe)
  }

  /** Optimal bloom bit count for `expectedItems` at false-positive rate
    * `fpp`: ceil(−n·ln p / ln²2), floored at 64 so degenerate inputs
    * still build a valid sketch.
    */
  private def optimalNumBits(expectedItems: Long, fpp: Double): Long = {
    require(expectedItems > 0, s"expectedItems must be positive: $expectedItems")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1): $fpp")
    math.max(64L,
      math.ceil(-expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
  }

  /** U1 (mock) — deterministic dictionary tagger. For every term in `terms`
    * found in the text (case-sensitive `instr`, first occurrence), emits one
    * annotation struct {term, start, end, source_value}. 0-based [start, end)
    * offsets, matching the reference's Python slice semantics
    * (`source_value = text[start:end]`, `ingester/nlp_service.py:120-121`).
    *
    * Pure built-in expressions (posexplode + instr + substring) → whole-stage
    * codegen, no UDF, and exactly expressible as DuckDB oracle SQL.
    */
  val DefaultTerms: Seq[String] =
    Seq("join", "filter", "window", "hash", "merge", "scan", "sort", "stream")

  def annotateDictionary(
      docs: DataFrame,
      terms: Seq[String] = DefaultTerms,
      textCol: String = "text"): DataFrame = {
    val termArr = array(terms.sorted.map(lit): _*)
    docs
      .withColumn("term", explode(termArr))
      .withColumn("pos0", instr(col(textCol), col("term")) - 1) // 0-based
      .filter(col("pos0") >= 0)
      .withColumn("ann_start", col("pos0").cast("long"))
      .withColumn("ann_end", (col("pos0") + length(col("term"))).cast("long"))
      .withColumn("source_value", expr(s"substring($textCol, pos0 + 1, length(term))"))
      .drop("pos0")
  }

  /** P4-style deterministic running annotation id per document: the reference
    * assigns a global mutable counter (`ingester/nlp_service.py:113-125`,
    * order-dependent); the engine defines it deterministically as row_number
    * over (doc, term-order) so results are stable under any partitioning.
    */
  def withAnnId(anns: DataFrame, docIdCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col(docIdCol)).orderBy(col("term"), col("ann_start"))
    anns.withColumn("ann_id", row_number().over(w).cast("long") - 1)
  }

  /** P2 — composite sink key `doc-<docid>-ann-<annid>`
    * (reference `ingester/annotations_indexer.py:221`).
    */
  def annotationKey(docIdCol: String = "doc_id", annIdCol: String = "ann_id"): Column =
    concat(lit("doc-"), col(docIdCol).cast("string"), lit("-ann-"), col(annIdCol).cast("string"))

  /** Nested-mode key `doc_<docid>_annotations`
    * (reference `ingester/annotations_indexer.py:167`).
    */
  def nestedDocKey(docIdCol: String = "doc_id"): Column =
    concat(lit("doc_"), col(docIdCol).cast("string"), lit("_annotations"))

  /** P1 — flat separate-index projection: `meta.<f>` for persist-fields,
    * `nlp.<f>` for annotation fields (reference
    * `ingester/annotations_indexer.py:202-212`; prefix constants at `:62-63`).
    * Column names contain literal dots, exactly like the reference's sink
    * records (FIXTURES.md B4).
    */
  def projectFlat(
      anns: DataFrame,
      persistFields: Seq[String],
      annFields: Seq[String],
      docIdCol: String = "doc_id"): DataFrame = {
    val metaCols = persistFields.map(f => col(f).as(s"meta.$f"))
    val nlpCols  = annFields.map(f => col(f).as(s"nlp.$f"))
    anns.select(annotationKey(docIdCol).as("_id") +: (metaCols ++ nlpCols): _*)
  }

  /** Nested-object mode — rebuild the per-document `annotations` array
    * (reference `ingester/annotations_indexer.py:166-200`): one record per
    * document with `annotations: [ {...} ]`, deterministically sorted by
    * ann_id inside the array.
    */
  def projectNested(
      anns: DataFrame,
      persistFields: Seq[String],
      annFields: Seq[String],
      docIdCol: String = "doc_id"): DataFrame = {
    val annStruct = struct(annFields.map(col): _*)
    anns
      .groupBy(col(docIdCol) +: persistFields.map(col): _*)
      .agg(sort_array(collect_list(struct(col("ann_id"), annStruct.as("ann")))).as("__sorted"))
      .select(
        nestedDocKey(docIdCol).as("_id") +:
          persistFields.map(f => col(f).as(s"meta.$f")) :+
          transform(col("__sorted"), e => e("ann")).as("annotations"): _*)
  }

  /** K4 — split-by-field partition key with P5 name normalization
    * (reference `ingester/annotations_indexer.py:214-218` +
    * `ingester/es_common.py:116-151`).
    */
  def withPartitionKey(anns: DataFrame, splitField: String, base: String): DataFrame =
    anns.withColumn(
      "sink_index",
      concat(lit(base + "-"), TextFunctions.normalizeIndexName(col(splitField))))

  /** P6 — wall-clock ingest timestamping (reference stamps `"%H:%M:%S"` per
    * annotation, `ingester/nlp_service.py:98`). Deterministically ONE
    * timestamp per batch (evaluated at plan time via current_timestamp),
    * not per row — the reference's per-row clock reads make re-runs
    * unhashable.
    */
  def withIngestTime(df: DataFrame): DataFrame =
    df.withColumn("ingest_time", date_format(current_timestamp(), "HH:mm:ss"))
      .withColumn("ingest_date", current_date())

  /** D1 — canonical-JSON distinct key (reference `remove_duplicate_records`,
    * `ingester/utils.py:16-19`: `json.dumps(d, sort_keys=True)` → set).
    * For struct columns, field order is fixed by the schema, so plain
    * `to_json` is already canonical; map-typed fields are the one place key
    * order can differ, so this re-keys a map through sorted `map_entries`
    * first. Used as a dropDuplicates key, it reproduces the reference's
    * whole-record dedup without its order destruction.
    */
  def canonicalMapJson(m: Column): Column =
    to_json(map_from_entries(array_sort(map_entries(m))))

  /** X2/K5 — nested-array merge: existing `annotations` array ⊕ new entries,
    * deduplicated (the reference's Painless script-update +
    * `remove_duplicate_records`, `ingester/annotations_indexer.py:148-175`).
    * `array_distinct` struct equality IS canonical-JSON equality for a fixed
    * schema (the reference needed `sort_keys` only because Python dicts have
    * no schema); map-typed entry fields must be pre-normalized with
    * [[canonicalMapJson]]. Unlike the reference's set(), output order is
    * deterministic: sorted by the struct's natural field order.
    */
  def mergeAnnotationArrays(existing: Column, incoming: Column): Column =
    array_sort(array_distinct(concat(
      coalesce(existing, array()),
      coalesce(incoming, array()))))
}
