package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, Stage}
import graft.sources.Sinks

/** Incremental SEMANTIC dedup admission — the embedding twin of
  * [[StreamingDedup]]: each micro-batch is SemDeDup'd within itself
  * ([[Dedup.semanticDedup]]) and its survivors compared against everything
  * previously admitted, cell by cell; only new survivors extend the store.
  * The online form of q97, for a pipeline that embeds documents as they
  * arrive and must never admit something semantically equivalent to what
  * it already holds.
  *
  * Dataflow per batch: centroids are a broadcast literal (assignment
  * map-side, identical to the batch form); the history comparison joins
  * batch survivors to the store ON THE CELL KEY, so a batch never meets
  * more history than its own cells hold, and history×history is never
  * recomputed. State = admitted (vec_id, centroid_id, cent_sim, embedding)
  * rows, one store partition per batch — idempotent under micro-batch
  * replay; at cluster scale the store is a mergeable table bucketed by
  * `centroid_id` so this join never shuffles history.
  *
  * The store side of each cell is capped at `maxStorePerCell` — the
  * admission-time analogue of [[Dedup.jaccardBetween]]'s posting cap. The
  * compared prefix is the cap MOST-CENTRAL members of the cell (highest
  * persisted `cent_sim` = cosine to the cell centroid, vec_id tie-break):
  * duplicates concentrate where the cell is densest, so a centrality
  * prefix keeps catching them after the cap fires, and — unlike a
  * lowest-id prefix, which freezes at the first cap winners forever — a
  * newly admitted central vector ENTERS the compared set and screens its
  * own future twins. Bounded work per batch at documented partial recall
  * (far-from-centroid arrivals beyond the cap go uncompared), surfaced
  * via an `observe` metric per the no-silent-caps convention.
  *
  * State layout matches [[StreamingDedup]]: an append-only
  * batch-partitioned store ([[Sinks.appendBatchPartition]]) — each batch
  * appends O(batch) vectors instead of rewriting O(store), replay
  * overwrites its own partition, re-ingested vec_ids append nothing, and
  * [[Sinks.compactBatchStore]] bounds partition count on a cadence.
  */
object StreamingSemanticDedup {

  /** Admit one batch of (vec_id, embedding[, …]) rows: returns the
    * surviving rows (with their `centroid_id`) and appends them to the
    * store at `storePath` as partition `batch=<batchId>` (the replay-
    * idempotence key — pass the Structured Streaming batch id).
    */
  def admitBatch(
      spark: SparkSession,
      batch: DataFrame,
      cents: Array[(Long, Seq[Double])],
      storePath: String,
      batchId: Long,
      threshold: Double = 0.35,
      maxBucketSize: Int = 1000,
      maxStorePerCell: Int = 10000): DataFrame = {
    // centroid_id → centroid vector, for the persisted centrality score
    val centMap = map(cents.flatMap { case (cid, v) =>
      Seq(lit(cid), array(v.map(lit): _*))
    }: _*)
    val flagged = Dedup.semanticDedup(batch, cents, threshold, maxBucketSize)
    val within = flagged.filter(!col("is_dup")).drop("is_dup")
      // cent_sim is computed ONCE at admission and persisted with the row:
      // the cap window orders the store by a stored column instead of
      // re-running |store| cosine kernels every batch
      .withColumn("cent_sim", Similarity.cosine(Similarity.toDoubleArray(col("embedding")),
        element_at(centMap, col("centroid_id"))))
      // feeds the history comparison AND the survivor anti-join AND the
      // store update — snapshot so assignment + within-batch pairing run once
      .transform(Stage.snapshotDF)
    // ONE store HANDLE serves the comparison and the re-ingestion guard —
    // this saves the second listing, NOT the data scan: the handle is
    // lazy, so each consumer still scans the store once (deliberately not
    // snapshotted — materializing a 100 TB store into block storage per
    // batch would cost more than the scan). Sinks.readBatchStore: only
    // absence means "no history"; any other failure propagates — admission
    // decisions are final.
    // history = batches strictly before this one (same crashed-replay rule
    // as StreamingDedup: a prior attempt's own partition is not history)
    val history = Sinks.readBatchStore(spark, storePath, upToBatch = batchId - 1)
    val survivors = history match {
      case Some(store) =>
        // per-cell prefix rank, unconditional: a pre-check "fast path" was
        // tried and reverted — it costs a full-store aggregation job EVERY
        // batch and, once any cell is permanently over cap (the store only
        // grows), the check is forever true and the window runs anyway. The
        // always-on form is one shuffle+sort of the store per batch — the
        // admission cost; at cluster scale the store is a table bucketed by
        // centroid_id, which feeds this window with no exchange. The
        // observe metric fires every batch (uncompared_rows = 0 when
        // nothing is capped), so the listener heartbeat distinguishes
        // "instrumented, nothing dropped" from "instrumentation gone".
        val w = Window.partitionBy("centroid_id")
          .orderBy(col("cent_sim").desc, col("vec_id"))
        val over = col("__rn") > maxStorePerCell
        val bounded = store.withColumn("__rn", row_number().over(w))
          .observe("graft.semStoreCap",
            sum(when(over, lit(1)).otherwise(lit(0))).as("uncompared_rows"))
          .filter(!over)
          .drop("__rn")
        val capped = bounded.select(col("vec_id").as("__old_id"),
          col("centroid_id"), Similarity.toDoubleArray(col("embedding")).as("__vo"))
        val drops = within
          .select(col("vec_id"), col("centroid_id"),
            Similarity.toDoubleArray(col("embedding")).as("__vn"))
          .join(capped, Seq("centroid_id"))
          // self-pair guard (same as jaccardBetween's): an identical-id
          // replay compares only against OTHER history and is re-admitted
          // idempotently
          .filter(col("vec_id") =!= col("__old_id") &&
            Similarity.cosine(col("__vn"), col("__vo")) >= threshold)
          .select("vec_id").distinct()
        within.join(drops, Seq("vec_id"), "left_anti")
      case None => within
    }
    val out = survivors.transform(Stage.snapshotDF)
    val rows = out.select(
      col("vec_id"), col("centroid_id"), col("cent_sim"), col("embedding"))
    // re-ingestion guard (same as the text store): an identical-id replay
    // is re-admitted by the self-pair rule but must not append its vector
    // twice — duplicate store rows would double-compare forever after
    val fresh = history match {
      case Some(store) =>
        rows.join(store.select("vec_id").distinct(), Seq("vec_id"), "left_anti")
      case None => rows
    }
    Sinks.appendBatchPartition(spark, fresh, storePath, batchId)
    out
  }
}
