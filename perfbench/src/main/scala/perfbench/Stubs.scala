package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.operators.{AnnotationPipeline, NlpService}
import graft.sources.EsRest

/** Base for the benchmark's in-process HTTP services: a JDK `HttpServer`
  * on loopback with a bounded worker pool. `sun.net.httpserver.nodelay`
  * must be set before the first server is created (Main does it): without
  * it every response waits out the client's delayed ACK, a stall of tens
  * of milliseconds that belongs to the stub, not to the program.
  */
abstract class Stub(threads: Int) {
  protected val mapper = new ObjectMapper()
  private val pool = Executors.newFixedThreadPool(threads)
  val server: HttpServer = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", (ex: HttpExchange) => serve(ex))
  server.setExecutor(pool)
  server.start()

  val requests = new AtomicLong(0)
  val errors = new AtomicLong(0)
  val serverNs = new AtomicLong(0)

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def stop(): Unit = { server.stop(0); pool.shutdownNow() }

  def resetCounters(): Unit = { requests.set(0); errors.set(0); serverNs.set(0) }

  protected def handle(method: String, path: String, body: String): (Int, String)

  private def serve(ex: HttpExchange): Unit = {
    val s = Clock.now
    try {
      val raw = ex.getRequestBody.readAllBytes()
      val (code, out) =
        try handle(ex.getRequestMethod, ex.getRequestURI.getPath, new String(raw, StandardCharsets.UTF_8))
        catch { case e: Exception => (500, s"""{"error":${Json.str(e.toString)}}""") }
      if (code != 200) errors.incrementAndGet()
      val bytes = out.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.add("Content-Type", "application/json")
      if (ex.getRequestMethod == "HEAD" || bytes.isEmpty) ex.sendResponseHeaders(code, -1)
      else {
        ex.sendResponseHeaders(code, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
      }
    } finally {
      ex.close()
      requests.incrementAndGet()
      serverNs.addAndGet(Clock.now - s)
    }
  }
}

/** MedCAT-shaped NLP service: `POST {"content":{"text":…}}` answers
  * `{"result":{"text":…,"annotations":{"entities":{"0":{…},…}}},…}`, the
  * entities being what [[NlpService.MockTagger]] finds in the text.
  */
final class NlpStub(threads: Int) extends Stub(threads) {
  private val tagger = new NlpService.MockTagger(AnnotationPipeline.DefaultTerms)

  override protected def handle(method: String, path: String, body: String): (Int, String) = {
    val text = mapper.readTree(body).path("content").path("text").asText(null)
    val anns = tagger.annotate(NlpService.Doc(0L, text))
    val root = mapper.createObjectNode()
    val result = root.putObject("result")
    result.put("text", text)
    val ents = result.putObject("annotations").putObject("entities")
    anns.foreach { a =>
      ents.putObject(a.id.toString)
        .put("id", a.id).put("cui", a.cui).put("detected_name", a.detected_name)
        .put("source_value", a.source_value).put("acc", a.acc)
        .put("start", a.start).put("end", a.end)
    }
    result.put("timestamp", "1970-01-01T00:00:00+00:00")
    root.putObject("medcat_info").put("name", "perfbench-stub")
    (200, mapper.writeValueAsString(root))
  }
}

/** Parses the NLP stub's MedCAT response into the program's annotations. */
object Medcat {
  private val mapper = new ObjectMapper()

  def parse(body: String): Seq[NlpService.Annotation] = {
    val ents = mapper.readTree(body).path("result").path("annotations").path("entities")
    val b = Seq.newBuilder[NlpService.Annotation]
    val it = ents.fields()
    while (it.hasNext) {
      val e = it.next().getValue
      b += NlpService.Annotation(e.path("id").asLong(), e.path("cui").asText(),
        e.path("detected_name").asText(), e.path("source_value").asText(),
        e.path("acc").asDouble(), e.path("start").asLong(), e.path("end").asLong())
    }
    b.result().sortBy(_.id)
  }
}

/** Elasticsearch `_bulk` stub: executes the program's scripted upsert
  * (replace `annotations` on an existing document, insert the `upsert`
  * document otherwise) and keeps each index's documents in memory for the
  * correctness check. `dropOne` silently loses one acknowledged document,
  * which the check must catch.
  */
final class EsBulkStub(threads: Int) extends Stub(threads) {
  val indices = new ConcurrentHashMap[String, ConcurrentHashMap[String, JsonNode]]()
  val bulkRequests = new AtomicLong(0)
  val bulkItems = new AtomicLong(0)
  val bulkBytes = new AtomicLong(0)
  val bulkNs = new AtomicLong(0)
  val inserted = new AtomicLong(0)
  @volatile var dropOne = false

  override def resetCounters(): Unit = {
    super.resetCounters()
    Seq(bulkRequests, bulkItems, bulkBytes, bulkNs, inserted).foreach(_.set(0))
  }

  def docs(index: String): Map[String, JsonNode] = {
    val m = indices.get(index)
    if (m == null) Map.empty
    else { val b = Map.newBuilder[String, JsonNode]; m.forEach((k, v) => b += k -> v); b.result() }
  }

  override protected def handle(method: String, path: String, body: String): (Int, String) =
    (method, path.stripPrefix("/").split("/").filter(_.nonEmpty).toList) match {
      case ("GET", Nil) => (200, """{"name":"perfbench-stub","version":{"number":"8.0.0"}}""")
      case ("PUT", idx :: Nil) =>
        indices.putIfAbsent(idx, new ConcurrentHashMap()); (200, """{"acknowledged":true}""")
      case ("DELETE", idx :: Nil) => indices.remove(idx); (200, """{"acknowledged":true}""")
      case ("GET", idx :: "_count" :: Nil) =>
        (200, s"""{"count":${Option(indices.get(idx)).map(_.size).getOrElse(0)}}""")
      case ("POST", "_bulk" :: Nil) => bulk(body)
      case _ => (404, """{"error":"unsupported"}""")
    }

  private def bulk(body: String): (Int, String) = {
    val s = Clock.now
    val lines = body.split("\n").filter(_.nonEmpty)
    val items = new StringBuilder
    var i = 0
    while (i + 1 < lines.length) {
      val action = mapper.readTree(lines(i)).path("update")
      val idx = action.path("_index").asText()
      val id = action.path("_id").asText()
      val payload = mapper.readTree(lines(i + 1))
      val script = payload.path("script")
      require(script.path("source").asText() == EsRest.AnnotationsScript,
        s"unexpected script: ${script.path("source").asText()}")
      val docs = indices.computeIfAbsent(idx, _ => new ConcurrentHashMap())
      val status =
        if (dropOne) { dropOne = false; 201 }
        else docs.get(id) match {
          case null =>
            docs.put(id, payload.path("upsert"))
            inserted.incrementAndGet()
            201
          case existing =>
            val updated = existing.deepCopy[ObjectNode]()
            updated.set[JsonNode]("annotations", script.path("params").path("annotations"))
            docs.put(id, updated)
            200
        }
      if (items.nonEmpty) items.append(',')
      items.append(s"""{"update":{"_index":${Json.str(idx)},"_id":${Json.str(id)},"status":$status}}""")
      bulkItems.incrementAndGet()
      i += 2
    }
    bulkRequests.incrementAndGet()
    bulkBytes.addAndGet(body.length.toLong)
    bulkNs.addAndGet(Clock.now - s)
    Trace.record(0, 3, "es", "es.bulk", s, Clock.now)
    (200, s"""{"took":0,"errors":false,"items":[$items]}""")
  }
}
