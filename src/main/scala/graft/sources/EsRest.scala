package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.Base64

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.functions.JsonUtil

/** Live Elasticsearch REST protocol layer — the cluster half of the
  * connector surface, speaking the SAME endpoints the reference's
  * elasticsearch-py client drives (`ingester/es_common.py:60-85` connect +
  * ping, `:162-167` drop, `:98-103` bulk chunking,
  * `ingester/annotations_indexer.py:155-163` script update,
  * `:835-840` put-mapping): ping `GET /`, `HEAD /{index}`, `PUT /{index}`
  * with a mapping body, NDJSON `POST /_bulk`, `GET /{index}/_count`,
  * sliced `POST /{index}/_search?scroll` + `POST /_search/scroll`,
  * `DELETE /{index}`.
  *
  * Distribution is the es-hadoop shape, not the reference's driver-side
  * loop: bulk writes run per PARTITION (`foreachPartition` posting
  * `chunkSize`-doc NDJSON bodies — reference BULK_CHUNK_SIZE = 10000), and
  * reads run one SLICED SCROLL per task, so a 1000-executor cluster fans
  * both directions without the driver touching a row. Failed bulk items
  * are counted per partition into an accumulator and surfaced, mirroring
  * the reference's failed-docs accounting (`es_common.py:201-210`) —
  * per-doc error isolation (B4), not job abort.
  *
  * Hermetic testing: EsStubSpec runs this layer against an in-JVM HTTP
  * stub speaking these endpoints; against a real cluster the same calls
  * carry unchanged ([[Connectors.esOptions]] documents the equivalent
  * es-spark option map for the connector-jar route).
  */
object EsRest {

  /** Connection settings ≙ the reference `ElasticConnectorConfig`
    * (`es_common.py:14-43`): base URL, basic auth or api key, bulk chunk
    * size, timeout.
    */
  case class EsConf(
      url: String,
      user: Option[String] = None,
      pass: Option[String] = None,
      apiKey: Option[String] = None,
      chunkSize: Int = 10000,
      timeoutSec: Long = 30,
      maxRetries: Int = 4,
      retryBackoffMs: Long = 50)

  // one client per JVM (driver or executor) — HttpClient is thread-safe.
  // Not HttpURLConnection (as NlpService.HttpTagger uses): that re-sends a
  // buffered POST once on a stale pooled connection, and a repeated
  // `_search/scroll` continuation would skip a page.
  @transient private lazy val client: HttpClient =
    HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(10)).build()
  private val mapper = new ObjectMapper()

  private def authHeader(conf: EsConf): Option[(String, String)] =
    conf.apiKey.map(k => "Authorization" -> s"ApiKey $k")
      .orElse(for (u <- conf.user; p <- conf.pass) yield
        "Authorization" -> ("Basic " + Base64.getEncoder
          .encodeToString(s"$u:$p".getBytes("UTF-8"))))

  private[graft] def request(
      conf: EsConf, method: String, path: String,
      body: Option[String] = None,
      contentType: String = "application/json"): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(conf.url + path))
      .timeout(Duration.ofSeconds(conf.timeoutSec))
      .method(method, body.fold(HttpRequest.BodyPublishers.noBody())(
        HttpRequest.BodyPublishers.ofString(_)))
    body.foreach(_ => b.header("Content-Type", contentType))
    authHeader(conf).foreach { case (k, v) => b.header(k, v) }
    val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  /** Transient-overload statuses a client must retry, never fail on:
    * 429 (es rejected-execution backpressure) and 503 (cluster block).
    */
  private val Retryable = Set(429, 503)

  /** [[request]] with bounded exponential backoff on retryable statuses —
    * the client-side half of ES backpressure (the reference inherits the
    * same policy from elasticsearch-py's `streaming_bulk` retry knobs,
    * `es_common.py:199-203`; NLP-side twin: `NlpService` B3 retry).
    * Non-retryable statuses and the final attempt's status return as-is —
    * the CALLER decides between count-and-continue (bulk) and fail-fast
    * (reads).
    */
  private[graft] def requestRetrying(
      conf: EsConf, method: String, path: String,
      body: Option[String] = None,
      contentType: String = "application/json"): (Int, String) = {
    var attempt = 0
    var resp = request(conf, method, path, body, contentType)
    while (Retryable(resp._1) && attempt < conf.maxRetries) {
      Thread.sleep(conf.retryBackoffMs << attempt) // 50,100,200,400…
      attempt += 1
      resp = request(conf, method, path, body, contentType)
    }
    resp
  }

  /** S6/S7 — liveness ping (`es_common.py:81-82`: ping or refuse to
    * construct).
    */
  def ping(conf: EsConf): Boolean =
    try request(conf, "GET", "/")._1 == 200 catch { case _: Exception => false }

  def indexExists(conf: EsConf, index: String): Boolean =
    request(conf, "HEAD", s"/$index")._1 == 200

  /** K7 — create the index with its mapping (reference put-mapping,
    * `annotations_indexer.py:835-840`; the mapping JSONs live in
    * [[graft.schemas.Schemas]] with their trailing-space field quirks).
    */
  def createIndex(conf: EsConf, index: String, mappingJson: String): Unit = {
    val (code, resp) = request(conf, "PUT", s"/$index", Some(mappingJson))
    require(code == 200, s"create index $index failed: HTTP $code $resp")
  }

  /** K8 — drop index (`es_common.py:162-167`). */
  def dropIndex(conf: EsConf, index: String): Boolean =
    request(conf, "DELETE", s"/$index")._1 == 200

  def count(conf: EsConf, index: String): Long = {
    val (code, resp) = request(conf, "GET", s"/$index/_count")
    require(code == 200, s"count $index failed: HTTP $code $resp")
    mapper.readTree(resp).path("count").asLong()
  }

  /** One `_bulk` POST with the reference's counts-and-continues error
    * model (`es_common.py:198-210`: streaming_bulk counts per-item
    * failures; an exception logs and returns — the job never aborts):
    * retryable statuses back off and retry ([[requestRetrying]]); a chunk
    * still failing after retries counts ALL `nDocs` docs failed and moves
    * on; a 200 with partial item rejects counts exactly the rejected
    * items. B4 per-doc isolation either way.
    */
  private def postChunk(
      conf: EsConf, lines: Seq[String], nDocs: Int, failed: LongAccumulator): Unit = {
    val body = lines.mkString("", "\n", "\n")
    val (code, resp) =
      requestRetrying(conf, "POST", "/_bulk", Some(body), "application/x-ndjson")
    if (code != 200) {
      // keep (a truncated) response body: "HTTP 400" alone is undiagnosable
      // when ES rejects a mapping or parse, and the job deliberately
      // continues rather than aborting
      System.err.println(
        s"[es-bulk] chunk of $nDocs docs failed after retries: HTTP $code ${resp.take(500)}")
      failed.add(nDocs.toLong)
      return
    }
    val tree = mapper.readTree(resp)
    if (tree.path("errors").asBoolean(false)) {
      val items = tree.path("items")
      var i = 0
      while (i < items.size()) {
        val it = items.get(i).elements()
        while (it.hasNext) if (it.next().has("error")) failed.add(1L)
        i += 1
      }
    }
  }

  private def foreachBulk(
      df: DataFrame, conf: EsConf,
      mkLines: org.apache.spark.sql.Row => Seq[String]): LongAccumulator = {
    val failed = df.sparkSession.sparkContext.longAccumulator("es.bulk.failed")
    val chunk = conf.chunkSize
    df.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      rows.grouped(chunk).foreach { g =>
        // null ids (column 0 by both callers' construction) can't address
        // a document — count them failed instead of NPEing the partition
        // (B4 per-doc isolation, same as the reference's failed-docs log)
        val (bad, good) = g.partition(_.isNullAt(0))
        if (bad.nonEmpty) failed.add(bad.size.toLong)
        if (good.nonEmpty) postChunk(conf, good.flatMap(mkLines).toSeq, good.size, failed)
      }
    }
    failed
  }

  /** K1/K2/K3 — distributed bulk index: every row becomes an `index` op
    * (`_id` from `idCol`, source = the full row as JSON), posted in
    * per-partition NDJSON chunks of `conf.chunkSize`
    * (`es_common.py:186-199`). Returns the failed-item count.
    */
  def bulkIndex(df: DataFrame, conf: EsConf, index: String, idCol: String): Long = {
    val rows = df.select(col(idCol).cast("string").as("__id"),
      to_json(struct(df.columns.map(c => col(s"`$c`")): _*)).as("__doc"))
    val action = s"""{"index":{"_index":${JsonUtil.quote(index)},"_id":"""
    val failed = foreachBulk(rows, conf, r => Seq(
      s"""$action${JsonUtil.quote(r.getString(0))}}}""",
      r.getString(1)))
    failed.value
  }

  /** The reference's EXACT painless script for the annotations upsert
    * (`annotations_indexer.py:158-162`) — replace the stored annotations
    * array wholesale with the freshly computed one.
    */
  val AnnotationsScript: String =
    "ctx._source.annotations = new ArrayList(); ctx._source.annotations = params.annotations"

  /** K5 — scripted annotations upsert: each row becomes an `update` op
    * carrying the reference's painless script with the fresh annotations
    * array as `params.annotations`, plus an `upsert` document so absent
    * ids insert instead of 404ing. The reference decides insert-vs-update
    * with a per-doc exists GET (`annotations_indexer.py:168-201`) — a
    * round-trip per document; `update`+`upsert` is the same semantics in
    * ONE bulk item, which is the shape that survives a 1000-executor
    * fan-out. `annCol` must be an array column; the rest of the row rides
    * in the upsert document.
    */
  def bulkUpsertAnnotations(
      df: DataFrame, conf: EsConf, index: String,
      idCol: String, annCol: String): Long = {
    val rows = df.select(
      col(idCol).cast("string").as("__id"),
      to_json(col(annCol)).as("__anns"),
      to_json(struct(df.columns.map(c => col(s"`$c`")): _*)).as("__doc"))
    val action = s"""{"update":{"_index":${JsonUtil.quote(index)},"_id":"""
    val script = s"""{"script":{"lang":"painless","source":${JsonUtil.quote(AnnotationsScript)},""" +
      """"params":{"annotations":"""
    val failed = foreachBulk(rows, conf, r => Seq(
      s"""$action${JsonUtil.quote(r.getString(0))}}}""",
      s"""$script${r.getString(1)}}},"upsert":${r.getString(2)}}"""))
    failed.value
  }

  /** S1/S2 — distributed read via SLICED scroll: one slice per task
    * (`slice.id`/`slice.max` in the search body), each task paging its
    * slice with the scroll API until exhausted (`es_common.py:272-291`
    * uses a single driver-side scan; slicing is how that scan fans out
    * across a cluster). Returns (`_id`, `_source` JSON string) rows —
    * `spark.read.json` or `from_json` with a [[graft.schemas.Schemas]]
    * schema turns `_source` columnar.
    */
  def readSliced(
      spark: SparkSession, conf: EsConf, index: String,
      slices: Int, pageSize: Int = 1000,
      scrollKeepAlive: String = "5m"): DataFrame = {
    require(slices > 0 && pageSize > 0, "need slices > 0 and pageSize > 0")
    // keep-alive is per PAGE GAP, not per scan: pages are pulled lazily by
    // the downstream plan, so a heavy stage that stalls the iterator longer
    // than this between pulls expires the server-side context and fails the
    // task deterministically on every retry. 5m default (not ES's 1m
    // convention) buys slack for shuffle/sink stalls; size it to the
    // slowest consumer stage, not the scan itself.
    import spark.implicits._
    spark.range(0, slices, 1, numPartitions = slices)
      .mapPartitions { sliceIds =>
        val m = new ObjectMapper()
        sliceIds.flatMap { sliceId =>
          val sliceClause =
            if (slices == 1) "" else s""""slice":{"id":$sliceId,"max":$slices},"""
          val first = requestRetrying(conf, "POST",
            s"/$index/_search?scroll=$scrollKeepAlive",
            Some(s"""{$sliceClause"size":$pageSize,"query":{"match_all":{}}}"""))
          require(first._1 == 200, s"search slice $sliceId failed: ${first._2}")
          Iterator.unfold(Option(first._2)) {
            case None => None
            case Some(body) =>
              val tree = m.readTree(body)
              val hits = tree.path("hits").path("hits")
              if (hits.size() == 0) {
                // slice exhausted: clear the server-side scroll context
                // (best effort — a real cluster would otherwise hold it
                // until the keep-alive lapses)
                val sid = tree.path("_scroll_id").asText("")
                if (sid.nonEmpty)
                  try request(conf, "DELETE", "/_search/scroll",
                    Some(s"""{"scroll_id":${JsonUtil.quote(sid)}}"""))
                  catch { case scala.util.control.NonFatal(_) => () }
                None
              } else {
                val page = (0 until hits.size()).map { i =>
                  (hits.get(i).path("_id").asText(),
                    hits.get(i).path("_source").toString)
                }
                val sid = tree.path("_scroll_id").asText("")
                val next =
                  if (sid.isEmpty) None
                  else {
                    // transient overload retries; a 404 here means the
                    // server-side search context EXPIRED mid-read — a
                    // retry of the same scroll_id can never succeed, and
                    // silently stopping would truncate the slice. Fail the
                    // task descriptively: Spark's task retry restarts the
                    // slice from a fresh search, the correct recovery (the
                    // reference's driver-side scan likewise raises on a
                    // lost scroll rather than returning partial data).
                    val r = requestRetrying(conf, "POST", "/_search/scroll",
                      Some(s"""{"scroll":"$scrollKeepAlive","scroll_id":${JsonUtil.quote(sid)}}"""))
                    if (r._1 == 404)
                      throw new IllegalStateException(
                        s"scroll context expired mid-read on slice $sliceId " +
                          s"(scroll_id $sid): task retry restarts the slice")
                    require(r._1 == 200, s"scroll continuation failed: ${r._2}")
                    Some(r._2)
                  }
                Some((page, next))
              }
          }.flatten
        }
      }.toDF("_id", "_source")
  }
}
