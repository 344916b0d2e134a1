package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}

/** Source/sink connector option plumbing (reference S6/K1,
  * `ingester/es_common.py:14-85`): maps the engine's config onto Spark
  * connector options.
  *
  * The Elasticsearch path emits the standard `elasticsearch-spark`
  * (`org.elasticsearch.spark.sql` / format "es") option set — the 1:1
  * images of the reference's `ElasticConnectorConfig` fields. The connector
  * jar is not on this hermetic classpath, so [[read]] falls back to parquet
  * when the URI is a filesystem path; against a real cluster the same
  * option map drives `format("es")` unchanged.
  */
object Connectors {

  /** ES auth/SSL option map ≙ `ElasticConnectorConfig`
    * (`ingester/es_common.py:14-43`): hosts (`:17`), http auth (`:21-22`),
    * api key (`:25`), SSL verification toggles (`:30-40`).
    */
  def esOptions(
      hosts: Seq[String],
      httpAuthUser: Option[String] = None,
      httpAuthPass: Option[String] = None,
      apiKey: Option[String] = None,
      sslVerify: Boolean = true): Map[String, String] = {
    val base = Map(
      "es.nodes" -> hosts.mkString(","),
      "es.nodes.wan.only" -> "true",
      "es.net.ssl" -> hosts.headOption.exists(_.startsWith("https")).toString,
      "es.net.ssl.cert.allow.self.signed" -> (!sslVerify).toString,
      // the reference's scan/bulk tuning (es_common.py:97-99)
      "es.batch.size.entries" -> "10000",
      "es.http.timeout" -> "30s",
      "es.scroll.size" -> "1000")
    base ++
      httpAuthUser.map("es.net.http.auth.user" -> _) ++
      httpAuthPass.map("es.net.http.auth.pass" -> _) ++
      apiKey.map(k => "es.net.http.header.Authorization" -> s"ApiKey $k")
  }

  /** Reader with connector options applied; `resource` is an ES index name
    * or a filesystem path (parquet fallback, used hermetically).
    */
  def read(spark: SparkSession, resource: String,
           options: Map[String, String] = Map.empty): DataFrame = {
    val reader: DataFrameReader = spark.read.options(options)
    if (resource.startsWith("es://"))
      reader.format("es").load(resource.stripPrefix("es://"))
    else
      reader.parquet(resource)
  }

  /** S7 — fail-fast liveness probe (reference `check_url_available`,
    * `ingester/utils.py:7-14`: HTTP GET each endpoint, 10 s timeout, all
    * must answer). Run at pipeline construction, mirroring the reference's
    * probe-on-construct (`ingester/nlp_service.py:37-38`).
    *
    * Fidelity note: the reference's `requests.get` does NOT raise on HTTP
    * error statuses (only `ConnectionError` is caught) — a 404/500/503
    * answer counts as "available" there, so it does here by default too.
    * That makes the default probe a CONNECTIVITY check, not a health
    * check: a dead backend behind a live proxy passes. `strictStatus`
    * opts into also requiring a non-5xx status (4xx stays "alive": many
    * services 404 on their root path while healthy).
    */
  def checkUrlsAvailable(
      urls: Seq[String], timeoutSec: Long = 10,
      strictStatus: Boolean = false): Boolean = {
    val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(timeoutSec)).build()
    urls.forall { u =>
      try {
        val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(u))
          .timeout(java.time.Duration.ofSeconds(timeoutSec)).GET().build()
        val resp =
          client.send(req, java.net.http.HttpResponse.BodyHandlers.discarding())
        !strictStatus || resp.statusCode() < 500
      } catch { case _: Exception => false }
    }
  }
}
