package graft.http

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.model.{BatchNotification, Status}
import graft.streaming.MgmtApiSink
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.net.InetSocketAddress
import scala.collection.mutable.ArrayBuffer

/** MgmtClient / Retry / MgmtApiSink against a real in-process HTTP server —
  * the analog of the reference's mocked-CloseableHttpClient tests
  * (MgmtClientTest.scala): request method/URI/header/body assertions for token,
  * GET batch, PUT processingComplete / fail; 404/409/4xx/5xx policies. */
class HttpSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {

  case class Req(method: String, path: String, auth: String, body: String)
  private val reqs = ArrayBuffer.empty[Req]
  @volatile private var failuresBeforeSuccess = 0
  private var server: HttpServer = _
  private var base: String = _

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      val req = Req(ex.getRequestMethod, ex.getRequestURI.getPath,
        Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse(""), body)
      reqs.synchronized { reqs += req }
      val (code, resp) = route(req)
      val bytes = resp.getBytes("UTF-8")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes); ex.close()
    })
    server.start()
    base = s"http://localhost:${server.getAddress.getPort}"
  }

  override def afterAll(): Unit = server.stop(0)

  private def route(req: Req): (Int, String) = req.path match {
    case "/oauth/token" => (200, """{"access_token":"tok-123","token_type":"Bearer"}""")
    case "/mgmt/tenants/t1/batches/b-found" =>
      (200, """{"id":"b-found","name":"n1","topic":"ingest.t1.di.in","status":"STARTED",
               "dataType":"claims","startDate":"2020-12-08T03:02:23Z",
               "metadata":{"compression":"gzip","nested":{"a":[1,2]},"note":"x}y"},
               "expectedRecordCount":7,"invalidThreshold":-1,"ignoredNewField":true}""")
    case "/badoauth/token" => (200, "<html>sign in</html>")
    case "/mgmt/tenants/t1/batches/b-html" => (200, "<html>proxy error</html>")
    case "/mgmt/tenants/t1/batches/b-missing" => (404, """{"error":"not found"}""")
    case "/mgmt/tenants/t1/batches/b-flaky" =>
      if (failuresBeforeSuccess > 0) { failuresBeforeSuccess -= 1; (503, "busy") }
      else (200, """{"id":"b-flaky","topic":"ingest.t1.di.in","status":"STARTED"}""")
    case p if p.endsWith("/action/processingComplete") => (200, "{}")
    case p if p.endsWith("b-conflict/action/fail") => (409, """{"error":"already terminal"}""")
    case p if p.endsWith("/action/fail") => (200, "{}")
    case _ => (400, """{"error":"bad request"}""")
  }

  private def client = new MgmtClient(s"$base/mgmt", s"$base/oauth", "cid", "csecret", "aud")
  private def noSleepRetry = new Retry(sleep = _ => ())

  test("getBatchId: token + bearer GET, open-world JSON parse") {
    reqs.clear()
    val n = client.getBatchId("t1", "b-found").get
    n.id shouldBe "b-found"
    n.status shouldBe Status.Started
    n.expectedRecordCount shouldBe 7
    n.startDate.toInstant.toString shouldBe "2020-12-08T03:02:23Z"
    val Seq(tok, get) = reqs.toSeq
    tok.method shouldBe "POST"
    tok.auth should startWith("Basic ")
    tok.body should include("grant_type=client_credentials")
    tok.body should include("scope=hri_internal+hri_consumer+tenant_t1")
    get.method shouldBe "GET"
    get.auth shouldBe "Bearer tok-123"
  }

  test("getBatchId: opaque metadata passes through as compact JSON text") {
    val n = client.getBatchId("t1", "b-found").get
    n.metadata shouldBe """{"compression":"gzip","nested":{"a":[1,2]},"note":"x}y"}"""
  }

  test("metadata: key text earlier as a string VALUE does not hide the field") {
    def metadata(body: String) = MgmtClient.parseNotification(body).metadata
    metadata("""{"name":"metadata", "note":"the \"metadata\" field", "metadata":{"x":1}}""") shouldBe
      """{"x":1}"""
    metadata("""{"metadata":"plain"}""") shouldBe "plain"
    metadata("""{"metadata":null}""") shouldBe null
    metadata("""{"other":1}""") shouldBe null
  }

  test("user-controlled metadata keys cannot shadow top-level notification fields") {
    // metadata is an opaque user passthrough and server field order is not
    // guaranteed: nested keys named like notification fields, appearing
    // FIRST, must not win — a whole-document scan would read the batch as
    // COMPLETED (routing every live record invalid) and corrupt
    // expectedRecordCount in the tracker
    val n = MgmtClient.parseNotification(
      """{"metadata":{"status":"COMPLETED","expectedRecordCount":0,
         "id":"evil","deeper":{"invalidThreshold":99}},
         "id":"b9","status":"STARTED","expectedRecordCount":500000,
         "invalidThreshold":-1}""")
    n.status shouldBe "STARTED"
    n.id shouldBe "b9"
    n.expectedRecordCount shouldBe 500000
    n.invalidThreshold shouldBe -1
    // a top-level NUMBER followed by a deeper same-named STRING key: the
    // number is the status (as its JSON text, like from_json), never the
    // nested string
    MgmtClient.parseNotification("""{"status":5,"nested":{"status":"COMPLETED"}}""")
      .status shouldBe "5"
  }

  test("retry policy: 3xx and 4xx fail fast; only 5xx/transport retry") {
    Retry.serverSideOnly(RequestException(301, "moved")) shouldBe false
    Retry.serverSideOnly(RequestException(404, "nf")) shouldBe false
    Retry.serverSideOnly(RequestException(503, "busy")) shouldBe true
    Retry.serverSideOnly(new java.io.IOException("conn reset")) shouldBe true
    // a body that is not JSON will not parse on a retry either
    Retry.serverSideOnly(new com.fasterxml.jackson.core.JsonParseException(
      null, "<html>")) shouldBe false
  }

  test("token form URL-encodes credentials and audience (reserved chars survive)") {
    reqs.clear()
    val tricky = new MgmtClient(s"$base/mgmt", s"$base/oauth",
      "cid", "c&s=ecret+", "aud&x=1 +2")
    tricky.getBatchId("t1", "b-found").get
    val tok = reqs.head
    tok.body should include("audience=aud%26x%3D1+%2B2")
    tok.body should include("scope=hri_internal+hri_consumer+tenant_t1")
    // Basic auth carries the raw secret via Base64, not the form body
    val decoded = new String(java.util.Base64.getDecoder.decode(
      tok.auth.stripPrefix("Basic ")), "UTF-8")
    decoded shouldBe "cid:c&s=ecret+"
  }

  test("createHttpClient: truststore env matrix (reference MgmtClientTest:369-422)") {
    def env(m: Map[String, String]): String => Option[String] = m.get
    // both unset -> default client
    noException should be thrownBy MgmtClient.createHttpClient(env(Map.empty))
    // password alone -> default client too (the reference checks the path first)
    noException should be thrownBy MgmtClient.createHttpClient(env(Map(
      "HRI_TRUSTSTORE_PASSWORD" -> "pw")))
    // path set, password missing -> IllegalArgumentException naming both vars
    val e = intercept[IllegalArgumentException] {
      MgmtClient.createHttpClient(env(Map("HRI_TRUSTSTORE" -> "/tmp/x.p12")))
    }
    e.getMessage should include("HRI_TRUSTSTORE_PASSWORD")
    // nonexistent file -> FileNotFoundException
    intercept[java.io.FileNotFoundException] {
      MgmtClient.createHttpClient(env(Map(
        "HRI_TRUSTSTORE" -> "/tmp/definitely-missing.p12",
        "HRI_TRUSTSTORE_PASSWORD" -> "pw")))
    }
    // real PKCS12 store -> client built on a custom SSLContext
    val ks = java.security.KeyStore.getInstance("PKCS12")
    ks.load(null, null)
    val f = java.io.File.createTempFile("graft-trust", ".p12")
    val os = new java.io.FileOutputStream(f)
    try ks.store(os, "pw".toCharArray) finally os.close()
    val c = MgmtClient.createHttpClient(env(Map(
      "HRI_TRUSTSTORE" -> f.getAbsolutePath, "HRI_TRUSTSTORE_PASSWORD" -> "pw")))
    c.sslContext() should not be javax.net.ssl.SSLContext.getDefault
    f.delete()
  }

  test("a body that is not JSON: no token is a 500; a batch body fails without a retry") {
    new MgmtClient(s"$base/mgmt", s"$base/badoauth", "cid", "csecret", "aud")
      .getBatchId("t1", "b-found").failed.get shouldBe RequestException(500,
        "no access_token in token response")
    val f = client.getBatchId("t1", "b-html").failed.get
    f shouldBe a[com.fasterxml.jackson.core.JsonProcessingException]
    Retry.serverSideOnly(f) shouldBe false
  }

  test("getBatchId: 404 surfaces as RequestException(404) in the Try") {
    val f = client.getBatchId("t1", "b-missing").failed.get
    f shouldBe a[RequestException]
    f.asInstanceOf[RequestException].status shouldBe 404
  }

  test("Retry: 5xx retries until success; 4xx fails fast; backoff doubles capped") {
    failuresBeforeSuccess = 2
    val n = noSleepRetry.run(client.getBatchId("t1", "b-flaky").get)
    n.id shouldBe "b-flaky"

    val sleeps = ArrayBuffer.empty[Long]
    val r = new Retry(initialBackoffMs = 1000, maxBackoffMs = 4000,
      giveUpAfterMs = Long.MaxValue, sleep = sleeps += _)
    var calls = 0
    intercept[RequestException] {
      r.run({ calls += 1
        if (calls < 5) throw RequestException(500, "x") else throw RequestException(400, "y") })
    }.status shouldBe 400
    sleeps.toSeq shouldBe Seq(1000L, 2000L, 4000L, 4000L)

    var t = 0L
    val giveUp = new Retry(initialBackoffMs = 1, giveUpAfterMs = 100,
      now = () => t, sleep = d => t += 60)
    intercept[RequestException] {
      giveUp.run(throw RequestException(503, "down"))
    }.status shouldBe 503
  }

  private def terminal(id: String, status: String, fail: String = null) =
    BatchNotification(id, "n", "ingest.t1.di.in", "claims", status,
      null, null, 10, 9, 2, -1, fail, null)

  test("MgmtApiSink: COMPLETED → processingComplete PUT with final counts") {
    reqs.clear()
    new MgmtApiSink(client, noSleepRetry).send(terminal("b-done", Status.Completed))
    val put = reqs.last
    put.method shouldBe "PUT"
    put.path shouldBe "/mgmt/tenants/t1/batches/b-done/action/processingComplete"
    put.body shouldBe """{"actualRecordCount":9,"invalidRecordCount":2}"""
  }

  test("MgmtApiSink: FAILED → fail PUT incl. message; 409 tolerated; others throw") {
    reqs.clear()
    // a quote, a control character and non-ASCII text, escaped by JSON's rules
    val message = "too many \"bad\" records" + 1.toChar + " in b-中"
    new MgmtApiSink(client, noSleepRetry).send(terminal("b-bad", Status.Failed, message))
    reqs.last.path should endWith("/b-bad/action/fail")
    reqs.last.body shouldBe "{\"actualRecordCount\":9,\"invalidRecordCount\":2," +
      "\"failureMessage\":\"too many \\\"bad\\\" records\\u0001 in b-中\"}"

    noException should be thrownBy
      new MgmtApiSink(client, noSleepRetry).send(terminal("b-conflict", Status.Failed))

    intercept[IllegalArgumentException] {
      new MgmtApiSink(client, noSleepRetry).send(terminal("b-x", Status.Started))
    }
  }

  test("MgmtApiSink: a malformed topic skips the PUT instead of crash-looping") {
    reqs.clear()
    // topic arrives from externally-supplied notification JSON; no derivable
    // tenant means no URL, and a throw would make foreachBatch replay the
    // same poison row forever. The sink must skip it (loudly) and stay
    // usable for the next notification
    val sink = new MgmtApiSink(client, noSleepRetry)
    noException should be thrownBy sink.send(
      BatchNotification("b-junk", "n", "not-a-valid-topic", "claims",
        Status.Completed, null, null, 1, 1, 0, -1, null, null))
    reqs shouldBe empty // nothing was PUT for the junk topic
    sink.send(terminal("b-done", Status.Completed)) // still works after
    reqs.last.path should endWith("/b-done/action/processingComplete")
  }
}
