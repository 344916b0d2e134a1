package graft.streaming

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.PipelineConfig
import graft.operators.{AnnotationPipeline, NlpService}
import graft.sources.{EsRest, Sinks}

/** The reference's one job (`ingester/__main__.py:128`: source indexer →
  * NLP service → annotations indexer → sink indexer, driven by
  * `index_range`) as one Structured Streaming query built from a
  * [[PipelineConfig]]:
  *
  *   parquet file source (S1/S2)
  *   → F1 short-text filter
  *   → `[dateStart, dateEnd)` filter on the date field (B1's segment,
  *     half-open so a boundary day is processed once)
  *   → F2 already-processed gate: the checkpoint's file log skips consumed
  *     files, `dropDuplicatesWithinWatermark` drops re-delivered ids
  *   → U1 [[NlpService.annotateRows]] (B4: a failing document, or one
  *     without a numeric id, is dropped, the batch goes on)
  *   → nested (`_id`, `meta.*`, `annotations`) or flat (`_id`, `meta.*`,
  *     `nlp.*`) projection
  *   → K5 upsert: [[EsUpsertSink]] or the parquet face.
  *
  * `Trigger.AvailableNow` drains the backlog and stops: one `start` is one
  * catch-up run of the reference's `index_range`, and a later run on the
  * same checkpoint picks up only new files. The date range belongs to the
  * checkpoint: the file log never revisits a file, so a run with another
  * range fails at start instead of skipping the old files' docs in it.
  */
object IngestJob {

  private val EventTime = "__event_time"

  private val AnnFields: Seq[String] = Encoders.product[NlpService.Annotation].schema.fieldNames.toSeq

  /** `http(s)://host:port/<index>` names an Elasticsearch index. */
  private val EsIndexUrl = """(https?://[^/]+)/([^/]+)/?""".r

  /** The job's transform on a streaming or batch frame of documents
    * carrying `cfg.docIdField`, `cfg.textField` and the persist fields.
    */
  def annotated(docs: DataFrame, cfg: PipelineConfig, tagger: NlpService.Tagger): DataFrame = {
    val id = cfg.docIdField
    val valid = AnnotationPipeline.filterValidText(docs, cfg.textField)
    val ranged = (cfg.dateStart, cfg.dateEnd) match {
      case (Some(s), Some(e)) =>
        valid.filter(col(cfg.dateField) >= lit(s) && col(cfg.dateField) < lit(e))
      case _ => valid
    }
    // F2's event time is the arrival time (the micro-batch's timestamp, kept
    // in the offset log, so a replayed batch sees its own), never a value of
    // the doc: rows whose event time is behind the previous batch's
    // watermark are dropped as late, and arrival time never goes back, so
    // only an id re-delivered within the hour is dropped. A later one passes
    // and the upsert converges on it. A batch frame has one arrival.
    val deduped =
      if (!ranged.isStreaming) ranged.dropDuplicates(id)
      else ranged.withColumn(EventTime, current_timestamp())
        .withWatermark(EventTime, "1 hour")
        .dropDuplicatesWithinWatermark(id)
    val inputs = (Seq(id, cfg.textField) ++ cfg.persistFields).distinct
      .map(f => if (f == id) col(f).try_cast("long").as(f) else col(f))
    val tagged = NlpService.annotateRows(deduped.select(inputs: _*), tagger, id, cfg.textField)
      .filter(col("error").isNull)
    val meta = cfg.persistFields.map(f => col(f).as(s"meta.$f"))
    if (cfg.useNestedObjects)
      tagged.select(AnnotationPipeline.nestedDocKey(id).as("_id") +: meta :+ col("annotations"): _*)
    else
      tagged.withColumn("ann", explode(col("annotations")))
        .select(AnnotationPipeline.annotationKey(id, "ann.id").as("_id") +:
          (meta ++ AnnFields.map(f => col(s"ann.$f").as(s"nlp.$f"))): _*)
  }

  /** `path` as a parquet file stream. The file source reads directories
    * and globs only, so a single file streams as its parent directory
    * filtered to that file.
    */
  def source(spark: SparkSession, path: String): DataFrame = {
    val reader = spark.readStream.schema(spark.read.parquet(path).schema)
    val f = new File(path)
    if (f.isFile) reader.option("pathGlobFilter", f.getName).parquet(f.getParent)
    else reader.parquet(path)
  }

  /** Start one run over `cfg.sourcePath`. `cfg.sinkPath` picks the sink:
    * an `http(s)://host:port/<index>` value is an Elasticsearch index
    * (nested mode, no split), anything else a parquet upsert store keyed by
    * `_id`.
    */
  def start(spark: SparkSession, cfg: PipelineConfig, tagger: NlpService.Tagger,
      checkpoint: String): StreamingQuery = {
    val es = EsIndexUrl.unapplySeq(cfg.sinkPath)
    require(es.isEmpty || (cfg.useNestedObjects && cfg.splitIndexByField.isEmpty),
      s"the Elasticsearch sink ${cfg.sinkPath} takes nested documents and no index split")
    pinRange(spark, cfg, checkpoint)
    val out = annotated(source(spark, cfg.sourcePath), cfg, tagger)
    es match {
      case Some(List(base, index)) =>
        new EsUpsertSink(EsRest.EsConf(base), index, "_id", "annotations")
          .start(out, checkpoint, Trigger.AvailableNow())
      case _ =>
        out.writeStream
          .outputMode("append")
          .option("checkpointLocation", checkpoint)
          .trigger(Trigger.AvailableNow())
          .foreachBatch((batch: DataFrame, _: Long) => upsert(batch, cfg.sinkPath, cfg.splitIndexByField))
          .start()
    }
  }

  /** Record the run's date range in `checkpoint` on its first run, and fail
    * a later run whose range differs: the files the checkpoint has consumed
    * were filtered by the first range, and no run reads them again.
    */
  private def pinRange(spark: SparkSession, cfg: PipelineConfig, checkpoint: String): Unit = {
    val range = (cfg.dateStart, cfg.dateEnd) match {
      case (Some(s), Some(e)) => s"${cfg.dateField} in [$s, $e)"
      case _ => "no date range"
    }
    val p = new Path(checkpoint, "graft_date_range")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val in = fs.open(p)
      val pinned = try new String(in.readAllBytes(), UTF_8) finally in.close()
      require(pinned == range,
        s"checkpoint $checkpoint was started with $pinned, this run asks for $range: " +
          "a new date range needs a fresh checkpoint")
    } else {
      val out = fs.create(p, false)
      try out.write(range.getBytes(UTF_8)) finally out.close()
    }
  }

  /** K5 on parquet: merge the batch into the store by `_id`, so a replayed
    * batch converges; with K4 `split` set, into its `__part=<value>`
    * partitions alone. The batch is cached because the merge reads it more
    * than once and each read would re-run the tagger; an empty batch (the
    * watermark's no-data trigger) leaves the store alone instead of
    * rewriting it.
    */
  private def upsert(batch: DataFrame, path: String, split: Option[String]): Unit = {
    val spark = batch.sparkSession
    batch.persist()
    try if (!batch.isEmpty) split match {
      case None => Sinks.upsert(spark, batch, path, "_id")
      case Some(f) => Sinks.upsertPartitioned(spark, batch, path, "_id", f)
    } finally batch.unpersist()
  }

  /** Drain `<corpusDir>/documents.parquet` into a flat parquet sink with
    * the dictionary tagger and print the record count. Run again with the
    * same sink and checkpoint to see a catch-up run find nothing new.
    */
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: IngestJob <corpusDir> [sinkDir] [checkpointDir]")
    val sink = args.lift(1).getOrElse(
      Files.createTempDirectory("graft-ingest-sink").toString + "/annotations")
    val ckpt = args.lift(2).getOrElse(Files.createTempDirectory("graft-ingest-ckpt").toString)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val cfg = PipelineConfig(sourcePath = s"${args(0)}/documents.parquet", sinkPath = sink,
      persistFields = Seq("doc_id", "lang", "source"))
    start(spark, cfg, new NlpService.MockTagger(AnnotationPipeline.DefaultTerms), ckpt)
      .awaitTermination()
    val n = spark.read.parquet(sink).count()
    println(s"[ingest] $n annotation records in $sink (checkpoint $ckpt)")
    spark.stop()
  }
}
