package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** A terminal PUT as the stub received it. */
final case class TerminalPut(batchId: String, action: String, body: String, atUs: Long)

/** Loopback stand-in for the batch-management REST API, served by one thread:
  * `POST /oauth/token`, `GET /tenants/{t}/batches/{b}` (200 with the
  * registered notification JSON, else 404) and
  * `PUT /tenants/{t}/batches/{b}/action/{processingComplete|fail}` (a second
  * terminal PUT for a batch gets 409, as the real API answers). */
final class StubMgmtApi {
  private val batches = new ConcurrentHashMap[String, String]()
  private val terminal = new ConcurrentHashMap[String, TerminalPut]()
  val puts = new ConcurrentLinkedQueue[TerminalPut]()
  val requests = new AtomicLong

  private val pool = Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "stub-mgmt-api"); t.setDaemon(true); t
  }
  // without TCP_NODELAY the server's split header/body writes meet the
  // client's delayed ACK and every request stalls ~40 ms on loopback
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server =
    HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 64)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  val base: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** Serve `json` for GETs of `id` from now on. */
  def register(id: String, json: String): Unit = batches.put(id, json)

  def terminalFor(id: String): Option[TerminalPut] = Option(terminal.get(id))

  def allPuts: Seq[TerminalPut] = puts.asScala.toSeq

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(5, java.util.concurrent.TimeUnit.SECONDS)
  }

  private def reply(ex: HttpExchange, status: Int, body: String): Unit = {
    val b = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, if (b.isEmpty) -1 else b.length.toLong)
    if (b.nonEmpty) ex.getResponseBody.write(b)
    ex.close()
  }

  private def handle(ex: HttpExchange): Unit = {
    requests.incrementAndGet()
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    val parts = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).toSeq
    (ex.getRequestMethod, parts) match {
      case ("POST", Seq("oauth", "token")) =>
        reply(ex, 200, """{"access_token":"bench-token","token_type":"bearer"}""")
      case ("GET", Seq("tenants", _, "batches", id)) =>
        Option(batches.get(id)) match {
          case Some(json) => reply(ex, 200, json)
          case None => reply(ex, 404, s"""{"errorDescription":"batch $id not found"}""")
        }
      case ("PUT", Seq("tenants", _, "batches", id, "action", action)) =>
        val put = TerminalPut(id, action, body, Clock.us())
        puts.add(put)
        if (terminal.putIfAbsent(id, put) == null) reply(ex, 200, "{}")
        else reply(ex, 409, s"""{"errorDescription":"batch $id already terminal"}""")
      case _ => reply(ex, 400, """{"errorDescription":"unexpected request"}""")
    }
  }
}
