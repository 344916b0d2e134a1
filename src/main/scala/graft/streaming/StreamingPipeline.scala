package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured-Streaming building blocks beside the ingest job itself
  * ([[IngestJob]]): stream–static enrichment, windowed and session
  * aggregation with watermarks, a stream–stream interval join, and keyed
  * state gates. Event-time windows are half-open `[start, end)`, so every
  * event is assigned exactly once (the reference's inclusive segment
  * boundaries double-process boundary dates,
  * `ingester/es_common.py:316-319`).
  */
object StreamingPipeline {

  /** Stream–static enrichment: join each micro-batch against a STATIC
    * dimension relation — the stateless streaming-join form (no watermark,
    * no state store; contrast the stream-stream interval join, which buffers
    * both sides). Semantics worth pinning: Spark re-plans the static side
    * EVERY micro-batch, so a parquet-backed dimension picks up new files
    * between batches — refresh-on-read for slowly-changing dims, and the
    * reason the static side should be broadcast-sized or bucketed (a
    * shuffling static side re-shuffles per batch). The P1/P3 enrichment
    * shape (`ingester/annotations_indexer.py:169-190`, meta fields carried
    * onto every annotation) as a stream.
    */
  def enrichStream(
      stream: DataFrame,
      dim: DataFrame,
      keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  /** Windowed event aggregation with watermarked late-data handling — the
    * streaming twin of StreamQueries.q60 (the reference's late-data story is
    * "reprocess at next check", `ingester/nlp_service.py:91`; here late rows
    * within the watermark merge into their window, and older ones drop).
    */
  def windowedCounts(
      events: DataFrame,
      tsCol: String = "ts",
      window_ : String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))

  /** Session windows per user (30-min gap) — the streaming form of
    * StreamQueries.q62.
    */
  def sessionCounts(
      events: DataFrame,
      tsCol: String = "ts",
      gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  /** Stream-stream interval join: annotations arriving on one stream joined
    * to their documents on another, matched per doc within a bounded
    * event-time interval. Watermarks on BOTH sides + the interval condition
    * bound the join state (Spark evicts rows older than watermark +
    * interval) — unbounded-state stream joins don't survive at 100 TB/day.
    * Columns: docs(doc_id, ts), anns(a_doc_id, a_ts, term).
    */
  def docAnnotationJoin(
      docs: DataFrame,
      anns: DataFrame,
      watermark: String = "1 hour",
      maxDelay: String = "30 minutes"): DataFrame =
    docs.withWatermark("ts", watermark)
      .join(
        anns.withWatermark("a_ts", watermark),
        expr(s"doc_id = a_doc_id AND a_ts BETWEEN ts AND ts + interval $maxDelay"))

  /** First-seen gate on the Spark 4 `transformWithState` API (the
    * successor to flatMapGroupsWithState: named state variables, TTL,
    * timers): emits a document only the FIRST micro-batch its id appears —
    * the reference's already-processed check (F2) as an explicit
    * state-store gate. `TTLConfig` bounds state lifetime at 100 TB/day
    * (an id unseen for the TTL is forgotten and would re-emit, which is the
    * reference's own "reprocess at next check" posture).
    */
  class FirstSeenGate(ttl: java.time.Duration)
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, String), (Long, String)] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var seen: ValueState[Boolean] = _
    override def init(outputMode: OM, timeMode: TimeMode): Unit = {
      val cfg = if (ttl == null) TTLConfig.NONE else TTLConfig(ttl)
      seen = getHandle.getValueState[Boolean](
        "seen", org.apache.spark.sql.Encoders.scalaBoolean, cfg)
    }
    override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
        timerValues: TimerValues): Iterator[(Long, String)] = {
      if (seen.exists()) Iterator.empty
      else { seen.update(true); rows.take(1) }
    }
  }

  def firstSeen(docs: org.apache.spark.sql.Dataset[(Long, String)],
      ttl: java.time.Duration = null): org.apache.spark.sql.Dataset[(Long, String)] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = docs.sparkSession
    import spark.implicits._
    // TTL state requires processing-time semantics: Spark rejects a
    // TTLConfig under TimeMode.None at query start
    val mode = if (ttl == null) TimeMode.None() else TimeMode.ProcessingTime()
    docs.groupByKey(_._1)
      .transformWithState(new FirstSeenGate(ttl), mode, OutputMode.Append())
  }
}
