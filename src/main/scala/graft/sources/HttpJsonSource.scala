package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Bearer-token supplier for [[HttpJsonSource]]. `invalidate()` drops any
  * cached credential so the next `token()` re-authenticates — the source
  * calls it once on a 401 before retrying.
  */
trait TokenProvider {
  def token(): String
  def invalidate(): Unit = ()
}

object TokenProvider {

  /** Fixed token (the reference's `IntegrationItem.Token`, populated once
    * at startup — reference `main.go:260-266`). */
  def static(t: String): TokenProvider = new TokenProvider {
    override def token(): String = t
  }

  /** OAuth2 client-credentials grant (reference `main.go:84-119`): POST
    * url-encoded `grant_type=client_credentials` + client id/secret
    * (+ optional `audience`) to `tokenUrl`, read `access_token` from the
    * JSON response. Improvements over the reference, which fetched once at
    * process start and ignored both errors and expiry:
    *  - non-2xx or a missing `access_token` raises instead of returning
    *    `""` (the reference's `json.Unmarshal` cast would panic);
    *  - the token is cached until `expires_in − slack` and then refreshed,
    *    so long-running syncs (or streaming micro-batches) never send a
    *    stale credential;
    *  - `invalidate()` forces refresh, which [[HttpJsonSource]] uses to
    *    recover from server-side revocation (401 mid-lifetime).
    *
    * `clock` is injectable for deterministic expiry tests. Thread-safe:
    * refresh is synchronized (concurrent node functions share a provider).
    */
  def oauth2ClientCredentials(
      tokenUrl: String,
      clientId: String,
      clientSecret: String,
      audience: Option[String] = None,
      expirySlackSeconds: Long = 60,
      client: HttpClient = defaultClient,
      clock: () => Long = () => System.currentTimeMillis() / 1000L,
      requestTimeout: Duration = defaultRequestTimeout)
    : TokenProvider = new TokenProvider {

    private var cached: Option[(String, Long)] = None // (token, expiresAtSec)

    override def token(): String = synchronized {
      val now = clock()
      cached match {
        case Some((t, exp)) if now < exp => t
        case _ =>
          val form = (Seq(
            "grant_type" -> "client_credentials",
            "client_id" -> clientId,
            "client_secret" -> clientSecret) ++
            audience.map("audience" -> _))
            .map { case (k, v) =>
              s"${URLEncoder.encode(k, UTF_8)}=${URLEncoder.encode(v, UTF_8)}"
            }.mkString("&")
          // per-request deadline: token refresh is synchronized, so a
          // stalled token endpoint without one would hang every thread
          // queued behind this monitor, not just the caller
          val req = HttpRequest.newBuilder(URI.create(tokenUrl))
            .timeout(requestTimeout)
            .header("Content-Type", "application/x-www-form-urlencoded")
            .header("Accept", "application/json")
            .POST(HttpRequest.BodyPublishers.ofString(form)).build()
          val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
          if (resp.statusCode() / 100 != 2)
            throw new java.io.IOException(
              s"token endpoint $tokenUrl returned ${resp.statusCode()}: " +
                resp.body().take(200))
          val root = mapper.readTree(resp.body())
          val tok = root.path("access_token")
          if (!tok.isTextual || tok.asText().isEmpty)
            throw new java.io.IOException(
              s"token endpoint $tokenUrl returned no access_token: " +
                resp.body().take(200))
          val ttl = root.path("expires_in")
          val exp =
            if (ttl.isNumber) clock() + math.max(ttl.asLong() - expirySlackSeconds, 1L)
            else Long.MaxValue // no expiry advertised → cache forever
          cached = Some((tok.asText(), exp))
          tok.asText()
      }
    }

    override def invalidate(): Unit = synchronized { cached = None }
  }

  /** Jackson ships on the Spark classpath; reuse it rather than regex-parse
    * the token JSON. */
  private[sources] val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private[sources] def defaultClient: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(20)).build()

  /** `HttpClient.connectTimeout` only bounds the TCP handshake — a server
    * that accepts and then stalls hangs the request forever without a
    * per-request deadline. */
  private[sources] val defaultRequestTimeout: Duration = Duration.ofSeconds(60)
}

/** Non-2xx response — definitive, never retried as transport noise. */
class HttpStatusException(val status: Int, msg: String)
  extends java.io.IOException(msg)

/** Live HTTP JSON document source — the shipped implementation of the
  * reference's `Type == "http"` fetch (reference `main.go:121-145`:
  * GET `integrationItem.Url` with `Authorization: Bearer <token>`,
  * unmarshal the body as one JSON document).
  *
  * The fetch happens ONCE per sync pass on the driver: the reference's
  * workload is a single API response document (O(10-100) entities) that
  * every function then explodes — driver-side fetch + `spark.read.json`
  * over a one-element Dataset is the honest shape for it, and the
  * `IntegrationSpec.load` contract keeps it swappable for a distributed
  * scan when the upstream is a bulk export (parquet/JSON files) rather
  * than an API. This class is deliberately NOT the 100 TB ingest path —
  * that path reads object-store files via `spark.read` (`scan_parquet` /
  * `scan_json`); an API connector at that scale would paginate into many
  * driver fetches or a custom DataSourceV2, both out of proportion to the
  * reference's single-document semantics.
  *
  * Hardening the reference lacks:
  *  - non-2xx responses raise with status + body snippet (the reference
  *    ignored the status and unmarshalled whatever came back);
  *  - one 401 triggers `tokenProvider.invalidate()` + a single retry with
  *    a fresh token (revoked/expired credential mid-lifetime);
  *  - transient I/O failures retry up to `maxRetries` with linear backoff;
  *  - an explicit `schema` keeps the document's Spark schema stable even
  *    when optional fields are absent from a particular response (schema
  *    inference would silently drop them).
  */
class HttpJsonSource(
    url: String,
    tokenProvider: Option[TokenProvider] = None,
    schema: Option[StructType] = None,
    maxRetries: Int = 2,
    backoffMillis: Long = 200,
    client: HttpClient = TokenProvider.defaultClient,
    requestTimeout: java.time.Duration = TokenProvider.defaultRequestTimeout) {

  /** GET the document body, with auth/retry semantics as documented.
    * Every request carries a deadline (`requestTimeout`): a server that
    * accepts the connection and then stalls mid-response would otherwise
    * hang the sync pass forever (connectTimeout only bounds the
    * handshake). A timeout surfaces as `HttpTimeoutException ⊂
    * IOException`, i.e. transient — it retries like any transport fault. */
  def fetchBody(): String = {
    var attempt = 0
    var retriedAuth = false
    while (true) {
      val req = {
        val b = HttpRequest.newBuilder(URI.create(url))
          .timeout(requestTimeout)
          .header("Accept", "application/json").GET()
        tokenProvider.foreach(tp =>
          b.header("Authorization", s"Bearer ${tp.token()}"))
        b.build()
      }
      try {
        val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
        resp.statusCode() match {
          case ok if ok / 100 == 2 => return resp.body()
          case 401 if tokenProvider.isDefined && !retriedAuth =>
            // credential revoked/expired server-side: force re-auth once
            retriedAuth = true
            tokenProvider.foreach(_.invalidate())
          case bad =>
            throw new HttpStatusException(bad,
              s"GET $url returned $bad: ${resp.body().take(200)}")
        }
      } catch {
        // transient transport failures retry; definitive HTTP statuses
        // (already classified above) do not
        case e: HttpStatusException => throw e
        case _: java.io.IOException if attempt < maxRetries =>
          attempt += 1
          Thread.sleep(backoffMillis * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Fetch + parse into a one-row DataFrame of the document. Parsing is
    * FAILFAST: a body that is not one well-formed JSON document (an HTML
    * error page served as 200, a truncated response) fails the pass at
    * the document's first read, before any state or sink write. The
    * default PERMISSIVE mode would turn it into an all-null row whose
    * empty batches make the next diff delete every node. */
  def load(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val body = fetchBody()
    val reader = schema.fold(spark.read)(spark.read.schema(_))
    reader.option("mode", "FAILFAST").json(Seq(body).toDS)
  }
}

object HttpJsonSource {
  /** `IntegrationSpec.load` adapter:
    * `HcpIntegration.spec(name, HttpJsonSource.loader(url, tp, schema))`. */
  def loader(url: String, tokenProvider: Option[TokenProvider] = None,
      schema: Option[StructType] = None): SparkSession => DataFrame =
    s => new HttpJsonSource(url, tokenProvider, schema).load(s)
}
