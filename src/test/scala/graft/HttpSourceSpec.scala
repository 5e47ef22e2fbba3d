package graft

import java.io.OutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Schemas
import graft.pipeline.{CreateNode, CreateRelation, HcpIntegration, SyncDriver}
import graft.sink.GraphSink
import graft.sources.{HttpJsonSource, HttpStatusException, TokenProvider}
import graft.state.SnapshotStore

/** [[HttpJsonSource]] / [[TokenProvider]] against a local stub HTTP server
  * (reference `main.go:84-145`): bearer header, OAuth2 client-credentials
  * form, token caching + expiry + 401-invalidate refresh, non-200 paths,
  * the golden HCP pipeline end-to-end from the live endpoint, and a
  * malformed 200 body failing the pass before state or sink change. */
class HttpSourceSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = SparkTestBase.spark

  // ---- stub server state ----
  private var server: HttpServer = _
  private var base: String = _
  private val tokenCalls = new AtomicInteger(0)
  private val docCalls = new AtomicInteger(0)
  @volatile private var validToken = "tok-1"
  @volatile private var lastTokenForm = ""
  @volatile private var docBody: String = HcpFixture.json

  private def respond(x: HttpExchange, status: Int, body: String): Unit = {
    val b = body.getBytes(UTF_8)
    x.sendResponseHeaders(status, b.length)
    val os: OutputStream = x.getResponseBody
    os.write(b); os.close()
  }

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/oauth/token", (x: HttpExchange) => {
      tokenCalls.incrementAndGet()
      lastTokenForm = new String(x.getRequestBody.readAllBytes(), UTF_8)
      if (x.getRequestMethod != "POST" ||
        !lastTokenForm.contains("grant_type=client_credentials"))
        respond(x, 400, """{"error":"invalid_request"}""")
      else if (!lastTokenForm.contains("client_secret=s3cret"))
        respond(x, 401, """{"error":"invalid_client"}""")
      else
        respond(x, 200,
          s"""{"access_token":"$validToken","expires_in":3600,"token_type":"bearer"}""")
    })
    server.createContext("/api/doc", (x: HttpExchange) => {
      docCalls.incrementAndGet()
      val auth = Option(x.getRequestHeaders.getFirst("Authorization"))
      if (!auth.contains(s"Bearer $validToken"))
        respond(x, 401, """{"error":"unauthenticated"}""")
      else respond(x, 200, docBody)
    })
    server.createContext("/api/broken", (x: HttpExchange) =>
      respond(x, 500, """{"error":"boom"}"""))
    server.createContext("/api/slow", (x: HttpExchange) => {
      Thread.sleep(2000)
      respond(x, 200, "{}")
    })
    // handlers run concurrently so a stalled /api/slow exchange can't
    // serialize the rest of the suite behind its sleep
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.start()
    base = s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  override def afterAll(): Unit = if (server != null) server.stop(0)

  private def oauth(clock: () => Long = () => 0L) =
    TokenProvider.oauth2ClientCredentials(
      s"$base/oauth/token", "cid-1", "s3cret",
      audience = Some("https://api.example.test"), clock = clock)

  test("static bearer token reaches the endpoint; document parses") {
    validToken = "tok-1"
    val src = new HttpJsonSource(s"$base/api/doc",
      Some(TokenProvider.static("tok-1")), Some(Schemas.hcpDocument))
    val df = src.load(spark)
    assert(df.count() === 1)
    assert(df.selectExpr("size(buckets)").head().getInt(0) === 2)
  }

  test("oauth2: sends url-encoded client-credentials form, caches the token") {
    validToken = "tok-1"
    tokenCalls.set(0)
    val tp = oauth()
    assert(tp.token() === "tok-1")
    assert(lastTokenForm.contains("grant_type=client_credentials"))
    assert(lastTokenForm.contains("client_id=cid-1"))
    assert(lastTokenForm.contains(
      "audience=https%3A%2F%2Fapi.example.test"))
    tp.token(); tp.token()
    assert(tokenCalls.get() === 1) // cached, not re-fetched
  }

  test("oauth2: expiry honored — refreshes after expires_in - slack") {
    validToken = "tok-1"
    tokenCalls.set(0)
    var now = 0L
    val tp = oauth(() => now)
    tp.token()
    assert(tokenCalls.get() === 1)
    now = 3600 - 61 // still inside expiry - 60s slack
    tp.token()
    assert(tokenCalls.get() === 1)
    now = 3600 - 59 // past the slack boundary
    tp.token()
    assert(tokenCalls.get() === 2)
  }

  test("401 mid-lifetime: source invalidates, re-authenticates, retries once") {
    validToken = "tok-1"
    val tp = oauth()
    assert(tp.token() === "tok-1") // prime the cache
    validToken = "tok-2" // server-side revocation: tok-1 now rejected
    val src = new HttpJsonSource(s"$base/api/doc", Some(tp),
      Some(Schemas.hcpDocument))
    val df = src.load(spark) // 401 → invalidate → fresh token → 200
    assert(df.selectExpr("size(buckets)").head().getInt(0) === 2)
    assert(tp.token() === "tok-2")
  }

  test("non-200 raises with status; wrong client secret raises at token fetch") {
    val src = new HttpJsonSource(s"$base/api/broken")
    val e = intercept[HttpStatusException](src.fetchBody())
    assert(e.status === 500 && e.getMessage.contains("boom"))

    val bad = TokenProvider.oauth2ClientCredentials(
      s"$base/oauth/token", "cid-1", "wrong")
    val te = intercept[java.io.IOException](bad.token())
    assert(te.getMessage.contains("401"))

    // unauthenticated GET against the protected doc: 401 surfaces when no
    // token provider exists to refresh
    val noauth = new HttpJsonSource(s"$base/api/doc")
    val ne = intercept[HttpStatusException](noauth.fetchBody())
    assert(ne.status === 401)
  }

  test("request timeout: a stalled server fails the fetch instead of hanging") {
    // document fetch: deadline fires while the server sleeps
    val src = new HttpJsonSource(s"$base/api/slow", maxRetries = 0,
      requestTimeout = java.time.Duration.ofMillis(300))
    val t0 = System.nanoTime()
    intercept[java.net.http.HttpTimeoutException](src.fetchBody())
    assert((System.nanoTime() - t0) / 1e9 < 1.5,
      "timeout did not bound the stalled request")

    // token fetch: same deadline on the (synchronized) token endpoint call,
    // so a stalled auth server can't wedge every thread behind the monitor
    val tp = TokenProvider.oauth2ClientCredentials(
      s"$base/api/slow", "cid-1", "s3cret",
      requestTimeout = java.time.Duration.ofMillis(300))
    intercept[java.net.http.HttpTimeoutException](tp.token())
  }

  test("EnvConfig: .env parse, env override, missing-key error, token wiring") {
    import graft.sources.EnvConfig
    val f = java.nio.file.Files.createTempFile("graft-env", ".env")
    java.nio.file.Files.writeString(f,
      """# credentials
        |HCP_CLIENT_ID=cid-1
        |HCP_CLIENT_SECRET="s3cret"
        |EXTRA='quoted value'
        |BROKEN LINE WITHOUT EQUALS IS IGNORED
        |""".stripMargin)
    val cfg = EnvConfig.load(f.toString, env = Map("EXTRA" -> "from-env"))
    assert(cfg("HCP_CLIENT_ID") === "cid-1")
    assert(cfg("HCP_CLIENT_SECRET") === "s3cret") // quotes stripped
    assert(cfg("EXTRA") === "from-env") // real environment wins
    assert(!cfg.contains("BROKEN LINE WITHOUT EQUALS IS IGNORED"))
    val e = intercept[IllegalArgumentException](
      EnvConfig.required(cfg, "NOPE"))
    assert(e.getMessage.contains("NOPE"))
    // wired against the stub token endpoint: full credential round-trip
    validToken = "tok-1"
    val tp = EnvConfig.hcpTokenProvider(cfg,
      tokenUrl = s"$base/oauth/token", audience = "https://api.example.test")
    assert(tp.token() === "tok-1")
    // missing file: env only
    assert(EnvConfig.load("/nonexistent/.env",
      env = Map("K" -> "v"))("K") === "v")
  }

  test("golden e2e from the live stub endpoint: full HCP pipeline") {
    validToken = "tok-1"
    docBody = HcpFixture.json
    val root = java.nio.file.Files.createTempDirectory("graft-http-e2e").toString
    val store = new SnapshotStore(spark, s"$root/state")
    val sink = new GraphSink(spark, s"$root/graph")
    val driver = new SyncDriver(spark, store, sink)
    val spec = HcpIntegration.spec("hcp-live",
      HttpJsonSource.loader(s"$base/api/doc", Some(oauth()),
        Some(Schemas.hcpDocument)))

    val r1 = driver.run(spec)
    assert(r1("buckets") === ((2L, 0L)))
    assert(r1("packer_build") === ((3L, 0L)))
    assert(sink.readEdges("creates__version__packer_build").count() === 3)

    // second pass re-fetches from the endpoint; identical doc → no-op
    val r2 = driver.run(spec)
    assert(r2("buckets") === ((0L, 0L)))

    // upstream change lands on the next sync: b1 renamed, and its
    // updated-at token bumped (the change-detection key — a rename alone
    // is invisible by design, same as the reference's hash-on-updated_at)
    docBody = HcpFixture.json
      .replace("\"updated-at\": \"2024-06-01T00:00:00Z\"",
        "\"updated-at\": \"2024-09-01T00:00:00Z\"")
      .replace("\"name\": \"base-img\"", "\"name\": \"base-img-live\"")
    val r3 = driver.run(spec)
    assert(r3("buckets") === ((1L, 0L)))
    assert(sink.readNodes("bucket")
      .filter(org.apache.spark.sql.functions.col("external_id") === "b1")
      .collect().head.getAs[String]("name") === "base-img-live")
  }

  test("unparseable document fails the pass; store and sink stay unchanged") {
    validToken = "tok-1"
    docBody = HcpFixture.json
    val root = java.nio.file.Files.createTempDirectory("graft-http-bad").toString
    val store = new SnapshotStore(spark, s"$root/state")
    val sink = new GraphSink(spark, s"$root/graph")
    val driver = new SyncDriver(spark, store, sink)
    val spec = HcpIntegration.spec("hcp-bad",
      HttpJsonSource.loader(s"$base/api/doc", Some(oauth()),
        Some(Schemas.hcpDocument)))
    assert(driver.run(spec)("buckets") === ((2L, 0L)))

    // every function's committed state plus its node or edge table
    def image(): Seq[Seq[String]] = spec.functions.flatMap { fn =>
      val out = fn.kind match {
        case CreateNode(label) => sink.readNodes(label)
        case CreateRelation(rt, a, b, _) => sink.readEdges(s"${rt}__${a}__$b")
      }
      Seq(store.read(spec.key, fn.name), out)
        .map(_.collect().map(_.toString).sorted.toSeq)
    }
    val before = image()
    assert(before.exists(_.nonEmpty))

    // served with status 200: an HTML error page and a truncated document
    // would parse PERMISSIVE as an all-null row and delete every node
    for (bad <- Seq("<html>502 Bad Gateway</html>",
        HcpFixture.json.take(HcpFixture.json.length / 2))) {
      docBody = bad
      intercept[Exception](driver.run(spec))
      assert(image() === before, s"state or sink changed on body: $bad")
    }
    docBody = HcpFixture.json
  }
}
