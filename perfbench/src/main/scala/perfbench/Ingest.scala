package perfbench

import java.nio.file.Files

import scala.collection.mutable
import scala.util.Random

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.operators.{AnnotationPipeline, NlpService}
import graft.sources.EsRest.EsConf
import graft.streaming.EsUpsertSink

/** Shape of one ingest corpus: `docs` source documents (plus seeded
  * duplicates) spread over `files` parquet files, drained
  * `filesPerTrigger` files per micro-batch.
  */
final case class CorpusShape(docs: Int, files: Int, filesPerTrigger: Int)

/** The paper's job — source → F1 short-text filter → F2 watermark dedup →
  * NLP over HTTP → scripted ES bulk upsert (nested mode) — built from the
  * program's public pieces and drained with `Trigger.AvailableNow`, one
  * fresh checkpoint and index per drain.
  */
final class Ingest(ctx: Ctx, shape: CorpusShape, nominalPassS: Double) extends Workload {
  import Ingest._

  private val spark = ctx.spark
  private val corpusDir = ctx.work.resolve("corpus")
  private var expected: Map[String, Seq[NlpService.Annotation]] = Map.empty
  private var drains = 0
  private var attempted = 0L
  private var failed = 0L
  private var sinkFailedTraced = 0L
  private val problems = mutable.ArrayBuffer.empty[String]

  private def readSource() = spark.read.parquet(s"${ctx.sfDir("sf0.1")}/documents.parquet")
    .select(col("doc_id").cast("long"), col("text"), col("lang"), col("source"))
    .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    .sortBy(_._1)

  /** Seeded corpus: `shape.docs` documents drawn from the sf0.1 corpus, an
    * exact share of them cut below F1's 5-character minimum, an exact
    * share re-delivered as duplicates (same id, text and event time, so
    * whichever copy F2 keeps, the result is the same), all shuffled over
    * `shape.files` files. Returns the ES contents a drain must produce.
    */
  private def writeCorpus(source: Array[(Long, String, String, String)],
      rnd: Random): Map[String, Seq[NlpService.Annotation]] = {
    val picked = rnd.shuffle(source.toSeq).take(shape.docs)
    val nShort = math.round(shape.docs * ShortShare).toInt
    val shortIds = rnd.shuffle(picked.map(_._1)).take(nShort).toSet
    val docs = picked.map { case d @ (id, _, lang, src) =>
      if (!shortIds(id)) d
      else (id, if (rnd.nextInt(4) == 0) null else rnd.alphanumeric.take(rnd.nextInt(5)).mkString, lang, src)
    }
    val dups = rnd.shuffle(docs).take(math.round(shape.docs * DupShare).toInt)
    val rows = rnd.shuffle(docs ++ dups).map { case (id, text, lang, src) =>
      Row(id, text, lang, src, new java.sql.Timestamp(EventTimeBaseMs + id))
    }
    Files.createDirectories(corpusDir.getParent)
    Ctx.deleteTree(corpusDir)
    // parallelize slices the sequence into `files` contiguous runs, and
    // each non-empty partition writes exactly one file
    spark.createDataFrame(spark.sparkContext.parallelize(rows, shape.files), CorpusSchema)
      .write.parquet(corpusDir.toString)
    val tagger = new NlpService.MockTagger(AnnotationPipeline.DefaultTerms)
    docs.filter { case (_, t, _, _) => t != null && t.length >= AnnotationPipeline.MinTextLen }
      .map { case (id, t, _, _) => s"doc_${id}_annotations" -> tagger.annotate(NlpService.Doc(id, t)) }
      .toMap
  }

  private def tagger(traced: Boolean): NlpService.Tagger = {
    val http = new NlpService.HttpTagger(ctx.nlp.url, maxRetries = 1, parse = Medcat.parse)
    if (traced) new TimedTagger(http) else http
  }

  /** One AvailableNow drain of the corpus into a fresh index; returns its
    * wall time, the process CPU it took and the streaming run id, and
    * checks the index afterwards.
    */
  private def drain(traced: Boolean, counted: Boolean): (Long, Long, String) = {
    drains += 1
    val index = s"annotations_$drains"
    val ckpt = ctx.work.resolve(s"ckpt-$drains")
    import spark.implicits._
    val src = spark.readStream.schema(CorpusSchema)
      .option("maxFilesPerTrigger", shape.filesPerTrigger.toString)
      .parquet(corpusDir.toString)
    val docs = AnnotationPipeline.filterValidText(src)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("doc_id")
      .select(col("doc_id"), col("text"))
      .as[NlpService.Doc]
    val annotated = NlpService.annotate(docs, tagger(traced))
      .filter(col("error").isNull)
      .select(AnnotationPipeline.nestedDocKey("doc_id").as("_id"),
        col("doc_id").as("meta.doc_id"), col("annotations"))
    val sink = new EsUpsertSink(EsConf(ctx.es.url), index, "_id", "annotations")
    val (start, cpu0) = (Clock.now, Clock.cpuNs)
    val q = sink.start(annotated, ckpt.toString, Trigger.AvailableNow())
    q.awaitTermination()
    val (end, cpu) = (Clock.now, Clock.cpuNs - cpu0)
    ctx.progress.awaitTerminated(q.runId.toString)
    Trace.record(0, 0, "streaming", s"drain $drains", start, end)
    if (traced) sinkFailedTraced += sink.failedTotal
    check(index, counted, sink.failedTotal)
    ctx.es.indices.remove(index)
    Ctx.deleteTree(ckpt)
    (end - start, cpu, q.runId.toString)
  }

  private def check(index: String, counted: Boolean, sinkFailed: Long): Unit = {
    val got = ctx.es.docs(index)
    val missing = expected.keySet -- got.keySet
    val extra = got.keySet -- expected.keySet
    val wrong = expected.count { case (id, anns) => got.get(id).exists(d => !same(d.path("annotations"), anns)) }
    if (missing.nonEmpty || extra.nonEmpty || wrong > 0)
      problems += s"$index: ${missing.size} missing (e.g. ${missing.take(3).mkString(",")}), " +
        s"${extra.size} unexpected (e.g. ${extra.take(3).mkString(",")}), $wrong with wrong annotations"
    if (counted) {
      attempted += expected.size
      failed += math.max(missing.size + wrong, sinkFailed)
    }
  }

  private def same(stored: JsonNode, anns: Seq[NlpService.Annotation]): Boolean =
    stored.isArray && stored.size == anns.size && anns.zipWithIndex.forall { case (a, i) =>
      val e = stored.get(i)
      e.path("id").asLong(-1) == a.id && e.path("cui").asText() == a.cui &&
        e.path("detected_name").asText() == a.detected_name &&
        e.path("source_value").asText() == a.source_value &&
        e.path("acc").asDouble() == a.acc && e.path("start").asLong(-1) == a.start &&
        e.path("end").asLong(-1) == a.end
    }

  /** Writes the corpus and drains it `WarmDrains` times, untimed, exactly
    * as `measure` does, so the measured drains start warm.
    */
  override def warmup(): Unit = {
    expected = writeCorpus(readSource(), new Random(ctx.seed))
    (0 until WarmDrains).foreach { _ =>
      drain(traced = false, counted = false)
      Ctx.postGcHeapMb()
    }
  }

  override def measure(seconds: Int, traced: Boolean): Phase = {
    val from = Clock.now
    val timeline = new CpuTimeline
    val walls = mutable.ArrayBuffer.empty[Long]
    val cpus = mutable.ArrayBuffer.empty[Long]
    val runs = mutable.ArrayBuffer.empty[String]
    var heap = 0.0
    if (ctx.inject == "drop-es-doc") ctx.es.dropOne = true
    (0 until Workload.passes(seconds, nominalPassS)).foreach { _ =>
      val (w, c, run) = drain(traced, counted = true)
      walls += w; cpus += c; runs += run
      heap = math.max(heap, Ctx.postGcHeapMb())
    }
    val to = Clock.now
    timeline.stop()
    val triggers = runs.flatMap(ctx.progress.forRun)
    val data = triggers.filter(_.inputRows > 0)
    val triggerCpuMs = data.map(t => timeline.cpuBetween(t.startNs, t.endNs) / 1e6)
    if (traced) triggers.foreach(t =>
      Trace.record(0, 1, "streaming", s"trigger ${t.batchId}", t.startNs, t.endNs))
    val passS = Stats.median(walls.map(_ / 1e9).toSeq)
    System.err.println(f"[perfbench] phase ${(to - from) / 1e9}%.3f s, drains (wall/cpu s): " +
      walls.zip(cpus).map { case (w, c) => f"${w / 1e9}%.3f/${c / 1e9}%.3f" }.mkString(" ") +
      s"; triggers (wall/cpu ms): " +
      data.zip(triggerCpuMs).map { case (t, c) => f"${t.triggerMs}/$c%.0f" }.mkString(" "))
    // A drain is summed from its micro-batches, each (first, second, …)
    // at its median over the drains, as the mix sums its queries. The CPU
    // between micro-batches (query start and stop) is left out: CPU of
    // other threads lands there at random, and it moved a whole drain's
    // CPU by up to a fifth.
    def perBatch(f: Int => Double): Double =
      data.indices.groupBy(i => data(i).batchId).values.map(is => Stats.median(is.map(f))).sum
    val e2e = Map(
      "pass_cpu_s" -> (perBatch(triggerCpuMs(_)) / 1e3, "s"),
      "step_cpu_ms" -> (Stats.median(triggerCpuMs.toSeq), "ms"),
      "heap_peak_mb" -> (heap, "MB"))
    val wall = Map(
      "wall.pass_s" -> (perBatch(data(_).triggerMs.toDouble) / 1e3, "s"),
      "wall.step_ms" -> (Stats.median(data.map(_.triggerMs.toDouble).toSeq), "ms"))
    Phase(from, to, walls.size, e2e, wall, if (traced) layerMetrics(triggers.toSeq, passS) else Map.empty)
  }

  private def layerMetrics(triggers: Seq[ProgressCollector.Trigger],
      passS: Double): Map[String, (Double, String)] = {
    val data = triggers.filter(_.inputRows > 0)
    def phase(k: String): Seq[Double] = triggers.map(_.durations.getOrElse(k, 0L).toDouble)
    val trig = phase("triggerExecution")
    val phases = Phases.map { p =>
      Seq(s"streaming.${p}_sum_ms" -> (phase(p).sum, "ms"),
        s"streaming.${p}_p50_ms" -> (Stats.median(phase(p)), "ms"))
    }.flatten.toMap
    val addBatch = phase("addBatch").sum
    val nlp = ctx.nlp
    val es = ctx.es
    val nlpReq = nlp.requests.get.toDouble
    val calls = TimedTagger.calls.get.toDouble
    val clientMs = if (calls > 0) TimedTagger.clientNs.get / 1e6 / calls else 0.0
    val serverMs = if (nlpReq > 0) nlp.serverNs.get / 1e6 / nlpReq else 0.0
    val bulks = es.bulkRequests.get.toDouble
    val items = es.bulkItems.get.toDouble
    val delivered = (expected.size * triggers.map(_.runId).distinct.size).toDouble
    phases ++ Map(
      "streaming.batches" -> (triggers.size.toDouble, "count"),
      "streaming.triggerExecution_sum_ms" -> (trig.sum, "ms"),
      "streaming.triggerExecution_p50_ms" -> (Stats.median(data.map(_.triggerMs.toDouble)), "ms"),
      "streaming.trigger_p90_ms" -> (Stats.quantile(data.map(_.triggerMs.toDouble), 0.9), "ms"),
      "streaming.phase_cover_frac" -> (if (trig.sum > 0) Phases.map(p => phase(p).sum).sum / trig.sum else 0.0, "ratio"),
      "streaming.overhead_frac" -> (if (trig.sum > 0) (trig.sum - addBatch) / trig.sum else 0.0, "ratio"),
      "streaming.state_rows" -> (if (triggers.isEmpty) 0.0 else triggers.map(_.stateRows).max.toDouble, "count"),
      "streaming.state_commit_ms" -> (triggers.map(_.stateCommitMs).sum.toDouble, "ms"),
      "streaming.docs_per_s" -> (if (passS > 0) expected.size / passS else 0.0, "docs/s"),
      "nlp.requests" -> (nlpReq, "count"),
      "nlp.errors" -> ((nlp.errors.get + TimedTagger.errors.get).toDouble, "count"),
      "nlp.useful_frac" -> (if (nlpReq > 0) delivered / nlpReq else 0.0, "ratio"),
      "nlp.client_ms" -> (clientMs, "ms"),
      "nlp.server_ms" -> (serverMs, "ms"),
      "nlp.wait_ms" -> (math.max(0.0, clientMs - serverMs), "ms"),
      "nlp.inflight_max" -> (TimedTagger.inflightMax.get.toDouble, "count"),
      "es.bulk_requests" -> (bulks, "count"),
      "es.bulk_items" -> (items, "count"),
      "es.items_per_request" -> (if (bulks > 0) items / bulks else 0.0, "count"),
      "es.bulk_mb" -> (es.bulkBytes.get / 1048576.0, "MB"),
      "es.server_ms" -> (if (bulks > 0) es.bulkNs.get / 1e6 / bulks else 0.0, "ms"),
      "es.items_failed" -> (sinkFailedTraced.toDouble, "count"),
      "es.retries" -> (es.errors.get.toDouble, "count"),
      "es.useful_frac" -> (if (items > 0) es.inserted.get / items else 0.0, "ratio"))
  }

  override def outcome: Outcome = Outcome(problems.isEmpty, attempted, failed, problems.toSeq)
}

object Ingest {
  // Assumed shares, not measured: the repository's documents hold no text
  // under 5 characters and no repeated doc_id, and nothing else in it gives
  // such shares. They only have to be non-zero so that F1 and F2 drop rows.
  val ShortShare = 0.03
  val DupShare = 0.05
  // The JVM keeps speeding up over the first ten or so drains; the second
  // warm drain skips the steepest part of that curve, where one run's
  // drain times differ most from another's.
  val WarmDrains = 2
  // one day past the epoch: an event time equal to the initial watermark
  // would be dropped as late by dropDuplicatesWithinWatermark
  val EventTimeBaseMs = 86400000L
  val Phases: Seq[String] =
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
  val CorpusSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("ts", TimestampType)))
}
