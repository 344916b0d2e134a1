package graft

import java.net.{InetAddress, InetSocketAddress, ServerSocket}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.operators.NlpService
import graft.operators.NlpService.{Annotation, Doc}

/** Integration test of the production HTTP path (U1): a real local HTTP
  * server, keep-alive connection reuse, retry-on-non-200 and on network
  * failure, error-column isolation, request encoding — everything except
  * the actual NLP model.
  */
object HttpTaggerSpec {
  /** Top-level so the tagger closure doesn't capture the (non-serializable)
    * suite instance. Fixture server returns "term:start:end" lines.
    */
  def parse(body: String): Seq[Annotation] =
    body.linesIterator.filter(_.nonEmpty).zipWithIndex.map { case (l, i) =>
      val Array(t, s, e) = l.split(":")
      Annotation(i.toLong, s"TERM:$t", t, t, 1.0, s.toLong, e.toLong)
    }.toSeq
}

class HttpTaggerSpec extends SparkSuite {
  import spark.implicits._
  import HttpTaggerSpec.parse

  private def withServer(handler: HttpExchange => Unit)(f: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/annotate", (ex: HttpExchange) => handler(ex))
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/annotate")
    finally server.stop(0)
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  test("HTTP tagger POSTs documents and parses annotations end to end") {
    withServer(ex => respond(ex, 200, "join:0:4\nmerge:5:10")) { url =>
      val tagger = new NlpService.HttpTagger(url, maxRetries = 1, parse = parse)
      val docs = Seq(Doc(1L, "join merge here"), Doc(2L, "more text")).toDS()
      val out = NlpService.annotate(docs, tagger).collect().sortBy(_.doc_id)
      assert(out.forall(_.error == null))
      assert(out(0).annotations.map(_.detected_name) == Seq("join", "merge"))
    }
  }

  test("retry on non-200: first attempt 500, second 200 (B3 retry semantics)") {
    val calls = new AtomicInteger(0)
    withServer { ex =>
      if (calls.incrementAndGet() % 2 == 1) respond(ex, 500, "boom")
      else respond(ex, 200, "scan:1:5")
    } { url =>
      val tagger = new NlpService.HttpTagger(url, maxRetries = 1, parse = parse)
      val out = NlpService.annotate(Seq(Doc(7L, "scan me")).toDS(), tagger).collect()
      assert(out.head.error == null)
      assert(out.head.annotations.map(_.detected_name) == Seq("scan"))
      assert(calls.get() == 2)
    }
  }

  test("exhausted retries become an error row, not a task failure (B4)") {
    withServer(ex => respond(ex, 503, "down")) { url =>
      val tagger = new NlpService.HttpTagger(url, maxRetries = 2, parse = parse)
      val out = NlpService.annotate(
        Seq(Doc(1L, "text one"), Doc(2L, "text two")).toDS(), tagger).collect()
      assert(out.length == 2)
      assert(out.forall(_.error != null))
      assert(out.forall(_.annotations.isEmpty))
    }
  }

  test("a refused connection becomes an error row after exactly maxRetries + 1 attempts") {
    val closed = new ServerSocket(0, 0, InetAddress.getLoopbackAddress)
    val port = closed.getLocalPort
    closed.close()
    val tagger = new NlpService.HttpTagger(
      s"http://127.0.0.1:$port/annotate", maxRetries = 2, parse = parse)
    val out = NlpService.annotate(Seq(Doc(3L, "no one listens")).toDS(), tagger).collect()
    assert(out.length == 1 && out.head.annotations.isEmpty)
    assert(out.head.error.contains("failed after 3 attempts for doc 3"), out.head.error)
    assert(out.head.error.contains("ConnectException"), out.head.error)
  }

  test("the posted JSON carries the exact text and application_params") {
    val posted = new AtomicReference[JsonNode]()
    withServer { ex =>
      posted.set(new ObjectMapper().readTree(ex.getRequestBody.readAllBytes()))
      respond(ex, 200, "")
    } { url =>
      val text = "say \"hi\" \\ back\nline\ttab\u0001 café Ω 日本 \ud83d\ude00"
      val params = Map("annotationSets" -> "Bio:*", "q\"k\\" -> "v\n\u001f")
      val tagger = new NlpService.HttpTagger(url, applicationParams = params, parse = parse)
      val out = NlpService.annotate(Seq(Doc(5L, text)).toDS(), tagger).collect()
      assert(out.head.error == null)
      val body = posted.get()
      assert(body.path("content").path("text").asText() == text)
      val gotParams = body.path("application_params").fields().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap
      assert(gotParams == params)
    }
  }

  test("one partition of 200 documents reuses keep-alive connections (at most 2 client ports)") {
    val ports = ConcurrentHashMap.newKeySet[Integer]()
    val calls = new AtomicInteger(0)
    withServer { ex =>
      ports.add(ex.getRemoteAddress.getPort)
      calls.incrementAndGet()
      respond(ex, 200, "join:0:4")
    } { url =>
      val tagger = new NlpService.HttpTagger(url, parse = parse)
      val docs = (1 to 200).map(i => Doc(i.toLong, s"join doc $i")).toDS().coalesce(1)
      val out = NlpService.annotate(docs, tagger).collect()
      assert(out.length == 200 && out.forall(_.error == null))
      assert(calls.get() == 200)
      assert(ports.size <= 2, s"client ports: $ports")
    }
  }

  test("a 500 with a body, then a 200, reuses the same connection") {
    val ports = new ConcurrentLinkedQueue[Integer]()
    withServer { ex =>
      ports.add(ex.getRemoteAddress.getPort)
      if (ports.size == 1) respond(ex, 500, "model not loaded")
      else respond(ex, 200, "scan:1:5")
    } { url =>
      val tagger = new NlpService.HttpTagger(url, maxRetries = 1, parse = parse)
      val out = NlpService.annotate(Seq(Doc(8L, "scan me")).toDS(), tagger).collect()
      assert(out.head.error == null)
      assert(out.head.annotations.map(_.detected_name) == Seq("scan"))
      val seen = ports.asScala.toSeq
      assert(seen.size == 2 && seen.distinct.size == 1, s"client ports: $seen")
    }
  }
}
