package graft.operators

import java.net.{HttpURLConnection, Proxy, URI, URL}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.JsonUtil

/** U1 — the reference's single external-effect operator: POST document text
  * to an NLP REST service and parse the returned annotations
  * (reference `ingester/nlp_service.py:40-137`).
  *
  * Design for Spark's execution model:
  *  - the effect lives in `mapPartitions`, NOT a Catalyst expression (it is
  *    side-effecting and non-deterministic — exactly what Catalyst must not
  *    reorder or re-execute freely);
  *  - keep-alive connections pooled JVM-wide (the reference opens a session
  *    per request; at 100 TB that is millions of TCP handshakes): see
  *    [[HttpTagger]];
  *  - bounded retries per document (reference `max-retries-on-failure`,
  *    `ingester/nlp_service.py:75-92`) with failures captured in an error
  *    column (`Either`-style) instead of aborting the task — the reference's
  *    B4 per-doc isolation, without swallowing exceptions;
  *  - a deterministic mock (`MockTagger`) implements the same interface so
  *    the full pipeline is oracle-testable with zero network.
  */
object NlpService {

  /** One input document. */
  case class Doc(doc_id: Long, text: String)

  /** One annotation entity, MedCAT-flavored field set
    * (reference mapping `ingester/annotations_indexer.py:588-688`).
    */
  case class Annotation(
      id: Long,
      cui: String,
      detected_name: String,
      source_value: String,
      acc: Double,
      start: Long,
      end: Long)

  /** Annotated document: the doc plus its entities and an error side-channel
    * (null on success). The reference returns `None` and lets a secondary
    * exception be swallowed (`ingester/nlp_service.py:135-136`); here failure
    * is a value.
    */
  case class Annotated(doc_id: Long, text: String, annotations: Seq[Annotation], error: String)

  /** The service abstraction: one doc in, entities out. Implementations must
    * be Serializable — they are shipped to executors.
    */
  trait Tagger extends Serializable {
    def annotate(doc: Doc): Seq[Annotation]
  }

  /** Deterministic dictionary tagger — same semantics as
    * `AnnotationPipeline.annotateDictionary`, but on the `mapPartitions`
    * path so tests can cover both implementations against each other.
    */
  final class MockTagger(terms: Seq[String]) extends Tagger {
    private val sorted = terms.sorted
    override def annotate(doc: Doc): Seq[Annotation] = {
      if (doc.text == null) Seq.empty
      else
        sorted.zipWithIndex.flatMap { case (term, _) =>
          val pos = doc.text.indexOf(term)
          if (pos < 0) None
          else
            Some(Annotation(
              id = -1, // assigned below, deterministically per doc
              cui = s"TERM:$term",
              detected_name = term,
              source_value = doc.text.substring(pos, pos + term.length),
              acc = 1.0,
              start = pos.toLong,
              end = (pos + term.length).toLong))
        }.zipWithIndex.map { case (a, i) => a.copy(id = i.toLong) }
    }
  }

  /** Real HTTP tagger: POSTs `{"content": {"text": ...}}` (MedCAT shape,
    * reference `ingester/nlp_service.py:57-65`) and retries on non-200 up to
    * `maxRetries` (reference `:75-92`). The JSON parsing is left minimal on
    * purpose — hermetic tests use [[MockTagger]]; this class carries the
    * production plumbing (pooling, timeout, retry).
    *
    * Each request is one blocking HTTP/1.1 POST through `HttpURLConnection`,
    * whose keep-alive cache is JVM-wide: every task on an executor reuses
    * the same idle connections to the endpoint (the JDK keeps up to
    * `http.maxConnections` per destination, default 5). A client held in a
    * field would instead be rebuilt, with new connections, by every task
    * that deserializes the tagger. The body is buffered, so headers and
    * body leave in one write; fixed-length or chunked streaming mode writes
    * them separately and costs about a millisecond per request on loopback.
    * A connection returns to the cache only when its response body, or
    * error body, is read to the end and closed, so the tagger always does
    * both and never calls `disconnect()`. When a pooled connection turns
    * out to be stale, the JDK re-sends the POST once on a fresh one without
    * counting it as an attempt; an annotate call is idempotent, so that is
    * harmless here. `EsRest` keeps `java.net.http` for this reason: a
    * re-sent `_search/scroll` continuation could skip a page.
    */
  final class HttpTagger(
      endpoint: String,
      maxRetries: Int = 1,
      timeoutSec: Long = 30,
      applicationParams: Map[String, String] = Map.empty,
      parse: String => Seq[Annotation]) extends Tagger {

    private val url: URL = URI.create(endpoint).toURL
    // MedCAT request shape (`nlp_service.py:57-65`): content + app params
    private val paramsJson: String = applicationParams
      .map { case (k, v) => s"${JsonUtil.quote(k)}:${JsonUtil.quote(v)}" }
      .mkString("{", ",", "}")

    override def annotate(doc: Doc): Seq[Annotation] = {
      val sb = new StringBuilder(doc.text.length + paramsJson.length + 64)
      sb.append("""{"content":{"text":""")
      JsonUtil.quoteInto(sb, doc.text)
      sb.append("""},"application_params":""").append(paramsJson).append('}')
      val body = sb.result().getBytes(StandardCharsets.UTF_8)
      var attempt = 0
      var result: Option[Seq[Annotation]] = None
      var lastError: String = "non-200 response"
      while (result.isEmpty && attempt <= maxRetries) {
        attempt += 1
        // network failures (connect refused, timeout) count against the
        // retry budget like non-200s — the reference retries on any failure
        // (`nlp_service.py:75-92`)
        try {
          val (code, resp) = post(body)
          if (code == 200) result = Some(parse(resp))
          else lastError = s"HTTP $code"
        } catch { case e: java.io.IOException => lastError = e.toString }
      }
      result.getOrElse(throw new RuntimeException(
        s"NLP service failed after $attempt attempts for doc ${doc.doc_id}: $lastError"))
    }

    private def post(body: Array[Byte]): (Int, String) = {
      val conn = url.openConnection(Proxy.NO_PROXY).asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setInstanceFollowRedirects(false)
      conn.setConnectTimeout(10000)
      conn.setReadTimeout(Math.toIntExact(timeoutSec * 1000))
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/json")
      val out = conn.getOutputStream
      try out.write(body) finally out.close()
      val code = conn.getResponseCode
      val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val resp =
        if (in == null) ""
        else try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
      (code, resp)
    }
  }

  /** The operator: Dataset[Doc] → Dataset[Annotated] via mapPartitions.
    * Per-document failures become `error` values (B4 isolation); the task
    * never aborts for a data error.
    */
  def annotate(docs: Dataset[Doc], tagger: Tagger): Dataset[Annotated] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.mapPartitions { it =>
      it.map { doc =>
        try Annotated(doc.doc_id, doc.text, tagger.annotate(doc), null)
        catch { case e: Exception => Annotated(doc.doc_id, doc.text, Seq.empty, e.toString) }
      }
    }
  }

  /** Convenience: documents DataFrame → exploded flat annotation records via
    * the mapPartitions tagger path (the X1 explode applied to the typed
    * result).
    */
  def annotateAndExplode(spark: SparkSession, docs: DataFrame, tagger: Tagger): DataFrame = {
    import spark.implicits._
    val typed = docs.select(col("doc_id").cast("long"), col("text")).as[Doc]
    annotate(typed, tagger)
      .filter(col("error").isNull)
      .select(col("doc_id"), explode(col("annotations")).as("ann"))
      .select(col("doc_id"), col("ann.*"))
  }

  /** MedCAT response unwrap (reference `annotations_indexer.py:266-277` +
    * enrichment `nlp_service.py:105-108`): parse the JSON envelope, explode
    * the index-keyed entities MAP, merge in the response timestamp and
    * model info. Input: (docIdCol, jsonCol raw response string).
    */
  def parseMedcatResponses(df: DataFrame, docIdCol: String, jsonCol: String): DataFrame = {
    // P7 result-string coercion (`nlp_service.py:102-103`): `result` may be
    // a nested object OR a JSON-encoded string of one. get_json_object
    // returns the object's JSON text either way, so parsing ITS output
    // handles both shapes with one expression.
    val resultSchema = graft.schemas.Schemas.medcatResponse("result")
      .dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    val infoSchema = graft.schemas.Schemas.medcatResponse("medcat_info").dataType
    val parsed = df.select(
      col(docIdCol).as("doc_id"),
      from_json(get_json_object(col(jsonCol), "$.result"), resultSchema).as("result"),
      from_json(get_json_object(col(jsonCol), "$.medcat_info"), infoSchema).as("medcat_info"))
    parsed
      .filter(col("result.annotations.entities").isNotNull) // F4 shape guard
      .select(
        col("doc_id"),
        col("result.timestamp").as("resp_timestamp"),
        col("medcat_info"),
        explode(map_entries(col("result.annotations.entities"))).as("e"))
      .select(col("doc_id"), col("resp_timestamp"), col("medcat_info"),
        col("e.key").cast("long").as("entity_idx"), col("e.value.*"))
  }

  /** D2 — multi-endpoint fan-out (reference `nlp_service.py:71-132`): the
    * reference loops over endpoint URLs per document and merges responses
    * (last-result-wins for MedCAT, per-key dict update for GATE). The
    * distributed form is a union of per-endpoint annotation streams tagged
    * with their endpoint — downstream consumers pick a merge policy
    * (`latest wins` ≙ max(endpoint priority) per (doc, ann id)).
    */
  def annotateMultiEndpoint(
      spark: SparkSession,
      docs: DataFrame,
      taggers: Seq[(String, Tagger)]): DataFrame = {
    require(taggers.nonEmpty, "annotateMultiEndpoint needs at least one endpoint")
    taggers.map { case (name, tagger) =>
      annotateAndExplode(spark, docs, tagger).withColumn("endpoint", lit(name))
    }.reduce(_ unionByName _)
  }

  /** U2 — BioYodie preset (reference `nlp_service.py:143-161`, a broken
    * subclass there): a config preset, not a class — the GATE application
    * parameters pinned to the Bio annotation set.
    */
  val BioYodieParams: Map[String, String] = Map("annotationSets" -> "Bio:*")

  /** GATE response normalization (P4, reference `nlp_service.py:112-125`):
    * type-keyed entity LISTS become flat rows with `type`, a deterministic
    * running `id` per document (row_number over type+position — the
    * reference uses a global mutable counter), parsed integer `indices`,
    * and `source_value = text[start:end)`.
    */
  def parseGateResponses(df: DataFrame, docIdCol: String, jsonCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parsed = df.select(
      col(docIdCol).as("doc_id"),
      from_json(col(jsonCol), graft.schemas.Schemas.gateResponse).as("r"))
    val w = Window.partitionBy("doc_id").orderBy(col("type"), col("pos"))
    parsed
      .filter(col("r.entities").isNotNull)
      .select(col("doc_id"), col("r.text").as("text"),
        explode(map_entries(col("r.entities"))).as("te"))
      .select(col("doc_id"), col("text"), col("te.key").as("type"),
        posexplode(col("te.value")).as(Seq("pos", "ent")))
      .withColumn("start", element_at(col("ent.indices"), 1).cast("long"))
      .withColumn("end", element_at(col("ent.indices"), 2).cast("long"))
      .withColumn("source_value",
        expr("substring(text, cast(start as int) + 1, cast(end - start as int))"))
      .withColumn("id", row_number().over(w).cast("long") - 1)
      .select(col("doc_id"), col("id"), col("type"), col("start"), col("end"),
        col("source_value"), col("ent.*"))
  }
}
