package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{Dedup, Stage}
import graft.sources.Sinks

/** Incremental near-duplicate admission — the streaming form of the dedup
  * stack: each micro-batch is deduplicated WITHIN itself and then AGAINST
  * everything previously admitted, and only the survivors extend the
  * history. The shape a continuously-ingesting training pipeline needs: a
  * new crawl slice must not be compared crawl×crawl (that re-runs corpus
  * dedup per batch), only batch×batch + batch×history through the
  * inverted-index store.
  *
  * State = the admitted documents' shingle index, persisted between batches
  * as an APPEND-ONLY batch-partitioned parquet store
  * ([[Sinks.appendBatchPartition]]): admission decisions are final, so each
  * batch appends O(batch) postings instead of rewriting O(store) — the
  * read-merge-rewrite upsert layout was the one per-batch cost that grew
  * with history (measured 2.8→4.6 s/batch over 10 batches). Replay safety
  * comes from the Structured Streaming batchId keying the partition
  * (a replayed batch overwrites its own partition with identical content),
  * and a same-doc-id re-ingestion appends nothing (its postings are
  * anti-joined against history ids). Compaction on a cadence
  * ([[Sinks.compactBatchStore]]) bounds file count; the store's posting
  * lists get the [[Dedup.jaccardBetween]] cap; at cluster scale the same
  * layout is bucketed by shingle so the per-batch join never shuffles
  * history.
  *
  * Within-batch survivor policy is greedy keep-lowest-id: for every
  * verified near-dup pair the greater id drops. On a chain a→b→c where
  * only adjacent pairs match, c drops even though its anchor b also
  * dropped — the standard streaming-dedup posture (admission decisions are
  * final and cheap, not globally optimal; exact cluster-survivor semantics
  * are the batch pipeline's job, q82).
  */
object StreamingDedup {

  /** Admit one batch: returns the surviving rows of `batch` and appends
    * their shingles to the store at `storePath` as partition
    * `batch=<batchId>`. `batchId` must be the Structured Streaming batch id
    * (or any monotonically increasing sequence for direct callers) — it is
    * the replay-idempotence key.
    */
  def admitBatch(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      storePath: String,
      batchId: Long,
      shingleK: Int = 3,
      threshold: Double = 0.6,
      maxPostings: Int = 1000,
      pairBudget: Long = 1000000L,
      hotPostingCap: Int = 64,
      containThreshold: Double = 0.0): DataFrame = {
    // one checkpointed shingle index feeds the within-batch pair stage AND
    // the history comparison
    val sh = Dedup.shingleIndex(batch, idCol, textCol, shingleK)
      .transform(Stage.snapshotDF)
    // within-batch stage is the EXACT prefix-filtered form (under a cost
    // guard), not LSH candidates→verify: a micro-batch is small by
    // construction (batch sizing is the B1 knob), so exactness is
    // affordable — and the LSH route has a failure mode the skewed-corpus
    // driver exposed: a batch that IS one giant near-dup cluster overflows
    // every band bucket, the bucket cap (drop policy) swallows all
    // candidates, and the whole cluster gets admitted in one batch-width.
    // The prefix path has no bucket cap to fire — but its pair stage is
    // bounded only by the batch's own quadratic truth, and a cluster-shaped
    // batch pays C(n,2) pairs plus the verify fan (measured 8.8 s vs 3.8 s
    // at 500 docs). [[Dedup.jaccardDropsGuarded]] keeps the exact path for
    // every batch under `pairBudget` predicted pair instances and degrades
    // the over-budget hot shingles to per-shingle min-id pairing — same
    // greedy survivors on normal batches, ~linear work on the mega-cluster
    // shape, firings observable via the graft.admitGuard metric.
    val withinDrops = Dedup
      .jaccardDropsGuarded(sh, threshold, pairBudget, hotPostingCap)
      .select(col("__id").as(idCol))
      // snapshot the (tiny) drop list: afterWithin fans out to the history
      // comparison AND the survivor anti-join — without the barrier the
      // candidates→verify lineage would compile into the plan once per
      // branch
      .transform(Stage.snapshotDF)
    val afterWithin = batch.join(withinDrops, Seq(idCol), "left_anti")
    val shAfterWithin = sh.join(
      afterWithin.select(col(idCol).as("__id")), Seq("__id"), "left_semi")
    // ONE store HANDLE serves the comparison and the re-ingestion guard.
    // Sinks.readBatchStore: only absence means "no history yet"; any
    // other failure (transient FS error, corrupt footer) propagates —
    // silently treating it as empty would skip the batch-vs-history
    // comparison and permanently admit duplicates (admission is final).
    // history = batches STRICTLY BEFORE this one: a crashed previous
    // attempt at THIS batch id may have appended a partition that the
    // rewrite below replaces — reading it as history would make the
    // re-ingestion guard drop exactly the rows being rewritten
    val history = Sinks.readBatchStore(spark, storePath, upToBatch = batchId - 1)
    val survivors = history match {
      case Some(store) =>
        // FUSED cross-history comparison ([[Dedup.admissionDropsBetween]]):
        // one posting-cap window + one inverted-index join + one pair
        // aggregation score Jaccard AND (when `containThreshold` > 0) the
        // directed containment — the subsumed-new-doc case Jaccard scores
        // near |new|/|old| — at the cost of a single between-form. History
        // is final, so only the new side is judged.
        val crossDrops = Dedup.admissionDropsBetween(
            shAfterWithin, store, threshold, containThreshold, maxPostings)
          .select(col("id_new").as(idCol))
        afterWithin.join(crossDrops, Seq(idCol), "left_anti")
      case None => afterWithin
    }
    // two consumers below (store append + caller's sink) — snapshot so the
    // whole admission pipeline runs once
    val out = survivors.transform(Stage.snapshotDF)
    val shSurvivors = sh.join(
      out.select(col(idCol).as("__id")), Seq("__id"), "left_semi")
    // re-ingestion guard: a doc id that is ALREADY in the store (identical-
    // id replay admitted idempotently by the self-pair rule) must not
    // append its postings a second time — duplicate postings would inflate
    // jaccardBetween intersections for every future batch. One column-
    // pruned scan of store ids; the comparison above already paid a full
    // posting scan, so this does not change the per-batch asymptotics.
    val freshPostings = history match {
      case Some(store) =>
        shSurvivors.join(store.select("__id").distinct(), Seq("__id"), "left_anti")
      case None => shSurvivors
    }
    Sinks.appendBatchPartition(spark, freshPostings, storePath, batchId)
    out
  }

  /** The streaming driver: docs stream → per-micro-batch admission →
    * survivors upserted to `sinkPath` (idempotent under replay).
    * `Trigger.AvailableNow` drains the backlog and stops. Every
    * `compactEvery` batches the shingle store's committed partitions are
    * merged ([[Sinks.compactBatchStore]]), bounding file count as history
    * grows; the current batch's partition is never touched, so replay
    * safety is preserved.
    */
  def start(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      storePath: String,
      sinkPath: String,
      checkpointDir: String,
      shingleK: Int = 3,
      threshold: Double = 0.6,
      pairBudget: Long = 1000000L,
      hotPostingCap: Int = 64,
      compactEvery: Int = 16,
      containThreshold: Double = 0.0): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // compact BEFORE this batch reads history: partitions < batchId are
        // committed (Structured Streaming replays at most the current id)
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          Sinks.compactBatchStore(spark, storePath, upToBatch = batchId)
        val survivors = admitBatch(
          spark, batch, idCol, textCol, storePath, batchId, shingleK, threshold,
          pairBudget = pairBudget, hotPostingCap = hotPostingCap,
          containThreshold = containThreshold)
        Sinks.upsert(spark, survivors, sinkPath, idCol)
      }
      .start()
}
