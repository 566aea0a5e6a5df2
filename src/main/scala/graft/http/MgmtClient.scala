package graft.http

import com.fasterxml.jackson.core.{JsonEncoding, JsonParseException, JsonParser, JsonToken}
import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.model.{BatchNotification, Schemas}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.ZoneOffset
import java.util.Base64
import scala.util.{Failure, Success, Try}

/** U3/V3 SPI — synchronous batch-metadata lookup
  * (reference BatchLookup.scala:11-13): `getBatchId(tenantId, batchId)`;
  * a `Failure(RequestException(404, _))` means "unknown batch" to the caller. */
trait BatchLookup extends Serializable {
  def getBatchId(tenantId: String, batchId: String): Try[BatchNotification]
}

/** Map-backed test lookup (reference MapBatchLookup.scala:13-30). */
class MapBatchLookup(batches: Map[String, BatchNotification]) extends BatchLookup {
  def getBatchId(tenantId: String, batchId: String): Try[BatchNotification] =
    batches.get(batchId) match {
      case Some(n) => Success(n)
      case None    => Failure(RequestException(404, s"batch $batchId not found"))
    }
}

/** U3 — REST client for the batch-management API
  * (reference MgmtClient.scala:30-205): OAuth2 client-credentials token
  * (`POST {oauthBase}/token` with Basic auth, scopes
  * `hri_internal hri_consumer tenant_<id>`, audience = clientId), then
  * `GET /tenants/{t}/batches/{b}` and
  * `PUT /tenants/{t}/batches/{b}/action/{processingComplete|fail}` with Bearer.
  * Any non-2xx response surfaces as [[RequestException]] — retry/404 policy is the
  * caller's (Retry / MgmtApiSink), exactly as in the reference.
  *
  * Plain `java.net.http`; instances live driver-side. Bodies go through one
  * Jackson mapper per JVM: a batch body is read by the notification topic's
  * rules ([[MgmtClient.parseNotification]]), and the PUT bodies are
  * `{"actualRecordCount":N,"invalidRecordCount":M}`, plus `"failureMessage"`
  * for `fail`, in that key order.
  */
class MgmtClient(
    baseUri: String,
    oauthBase: String,
    clientId: String,
    clientSecret: String,
    audience: String,
    http: HttpClient = MgmtClient.createHttpClient()) extends BatchLookup {

  private def send(req: HttpRequest): String = {
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() < 200 || resp.statusCode() > 299)
      throw RequestException(resp.statusCode(), resp.body())
    resp.body()
  }

  /** OAuth client-credentials grant; one token per call-site invocation — the
    * reference likewise fetches per request batch (MgmtClient.scala:95-128).
    * Every form value is URL-encoded — a clientSecret or audience containing
    * `&`, `+`, `=` or non-ASCII must not corrupt the grant body (the Basic
    * header needs no encoding beyond Base64). */
  private[http] def token(tenantId: String): String = {
    val basic = Base64.getEncoder.encodeToString(
      s"$clientId:$clientSecret".getBytes(StandardCharsets.UTF_8))
    def enc(v: String) = URLEncoder.encode(v, StandardCharsets.UTF_8)
    val form = s"grant_type=client_credentials" +
      s"&scope=${enc(s"hri_internal hri_consumer tenant_$tenantId")}" +
      s"&audience=${enc(audience)}"
    val body = send(HttpRequest.newBuilder(URI.create(s"$oauthBase/token"))
      .header("Authorization", s"Basic $basic")
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(HttpRequest.BodyPublishers.ofString(form)).build())
    Try(MgmtClient.Mapper.readTree(body).get("access_token")).toOption
      .collect { case t if t != null && t.isTextual => t.asText }
      .getOrElse(throw RequestException(500, "no access_token in token response"))
  }

  def getBatchId(tenantId: String, batchId: String): Try[BatchNotification] = Try {
    val body = send(HttpRequest.newBuilder(
      URI.create(s"$baseUri/tenants/$tenantId/batches/$batchId"))
      .header("Authorization", s"Bearer ${token(tenantId)}")
      .GET().build())
    MgmtClient.parseNotification(body)
  }

  /** PUT …/action/processingComplete (reference MgmtClient.scala:44-63). */
  def processingComplete(tenantId: String, batchId: String,
      actualRecordCount: Int, invalidRecordCount: Int): Unit =
    put(tenantId, batchId, "processingComplete", counts(actualRecordCount, invalidRecordCount))

  /** PUT …/action/fail (reference MgmtClient.scala:65-85). */
  def fail(tenantId: String, batchId: String, actualRecordCount: Int,
      invalidRecordCount: Int, failureMessage: String): Unit =
    put(tenantId, batchId, "fail",
      counts(actualRecordCount, invalidRecordCount).put("failureMessage", failureMessage))

  private def counts(actual: Int, invalid: Int): ObjectNode =
    MgmtClient.Mapper.createObjectNode()
      .put("actualRecordCount", actual).put("invalidRecordCount", invalid)

  private def put(tenantId: String, batchId: String, action: String, body: ObjectNode): Unit =
    send(HttpRequest.newBuilder(
      URI.create(s"$baseUri/tenants/$tenantId/batches/$batchId/action/$action"))
      .header("Authorization", s"Bearer ${token(tenantId)}")
      .header("Content-Type", "application/json")
      .PUT(HttpRequest.BodyPublishers.ofString(MgmtClient.Mapper.writeValueAsString(body)))
      .build())
}

object MgmtClient {

  /** The JVM's one mapper for Mgmt API bodies. Like `from_json`'s defaults,
    * it accepts single-quoted strings and NaN/Infinity. */
  private val Mapper: JsonMapper = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_SINGLE_QUOTES, JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS)
    .build()

  /** A batch body as a [[BatchNotification]], by the rules the notification
    * topic applies (`from_json` under `Schemas.batchNotification`, then the
    * tracker's `na.fill(-1)`):
    *  - only top-level keys are read, so a key nested in the opaque
    *    `metadata` cannot shadow a notification field; unknown keys are
    *    skipped, and the last duplicate key wins;
    *  - a string field takes a JSON string as is and any other value as its
    *    compact JSON text;
    *  - an int field takes an integer that fits in an Int, else -1;
    *  - a timestamp takes ISO-8601 text, UTC (the job's session zone) when
    *    it has no offset, or integer epoch seconds, else null;
    *  - a JSON null gives null (-1 for an int), and a value that does not
    *    convert leaves the field as an earlier duplicate key set it.
    * A body that is not a JSON object throws a `JsonProcessingException`. */
  private[graft] def parseNotification(body: String): BatchNotification = {
    val fields = scala.collection.mutable.HashMap.empty[String, Any]
    val p = Mapper.createParser(body)
    try {
      if (p.nextToken() != JsonToken.START_OBJECT)
        throw new JsonParseException(p, "a batch body must be a JSON object")
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val name = p.currentName()
        p.nextToken()
        Schemas.batchNotification.find(_.name == name) match {
          case Some(f) => convert(p, f.dataType).foreach(fields(name) = _)
          case None => p.skipChildren()
        }
      }
    } finally p.close()
    def str(f: String) = fields.get(f).orNull.asInstanceOf[String]
    def ts(f: String) = fields.get(f).orNull.asInstanceOf[java.sql.Timestamp]
    def int(f: String) = fields.get(f) match { case Some(i: Int) => i; case _ => -1 }
    BatchNotification(str("id"), str("name"), str("topic"), str("dataType"), str("status"),
      ts("startDate"), ts("endDate"), int("expectedRecordCount"), int("actualRecordCount"),
      int("invalidRecordCount"), int("invalidThreshold"), str("failureMessage"),
      str("metadata"))
  }

  /** The value at `p` as `from_json` converts it to `dt`; None when it does
    * not convert. Timestamps go through Spark's own string parse. */
  private def convert(p: JsonParser, dt: DataType): Option[Any] = (p.currentToken, dt) match {
    case (JsonToken.VALUE_NULL, _) => Some(null)
    case (JsonToken.VALUE_STRING, StringType) => Some(p.getText)
    case (_, StringType) =>
      // a UTF-8 generator, as in from_json: it escapes a surrogate pair
      // that a Writer-backed one would copy raw
      val out = new java.io.ByteArrayOutputStream()
      val g = Mapper.getFactory.createGenerator(out, JsonEncoding.UTF8)
      try g.copyCurrentStructure(p) finally g.close()
      Some(out.toString(StandardCharsets.UTF_8))
    case (JsonToken.VALUE_NUMBER_INT, IntegerType)
        if p.getNumberType == JsonParser.NumberType.INT => Some(p.getIntValue)
    case (JsonToken.VALUE_STRING, TimestampType) =>
      DateTimeUtils.stringToTimestamp(UTF8String.fromString(p.getText), ZoneOffset.UTC)
        .map(micros => DateTimeUtils.toJavaTimestamp(micros))
    case (JsonToken.VALUE_NUMBER_INT, TimestampType)
        if p.getNumberType != JsonParser.NumberType.BIG_INTEGER =>
      Some(DateTimeUtils.toJavaTimestamp(p.getLongValue * 1000000L))
    case _ => p.skipChildren(); None
  }

  val TrustStoreEnv = "HRI_TRUSTSTORE"
  val TrustStorePasswordEnv = "HRI_TRUSTSTORE_PASSWORD"

  /** Build the HTTP client, honoring a custom truststore when the
    * `HRI_TRUSTSTORE` / `HRI_TRUSTSTORE_PASSWORD` environment variables are set
    * (reference MgmtClient.scala:166-204, pinned by MgmtClientTest.scala:369-422):
    * truststore unset → default client (a password alone is ignored, exactly like
    * the reference's path-first check); truststore set without a password →
    * IllegalArgumentException; path not a file → FileNotFoundException; else an
    * SSLContext trusting only that store (JKS or PKCS12, auto-probed). `env` is
    * injectable for tests. */
  def createHttpClient(
      env: String => Option[String] = k => Option(System.getenv(k))): HttpClient = {
    val path = env(TrustStoreEnv).filter(_.nonEmpty)
    val password = env(TrustStorePasswordEnv).filter(_.nonEmpty)
    (path, password) match {
      case (None, _) => HttpClient.newHttpClient()
      case (Some(_), None) =>
        throw new IllegalArgumentException(
          s"$TrustStoreEnv is set, but $TrustStorePasswordEnv is not. Both must be empty or set.")
      case (Some(p), Some(pw)) =>
        val f = new java.io.File(p)
        if (!f.exists() || !f.isFile)
          throw new java.io.FileNotFoundException(s"Not found or not a file: ${f.getPath}")
        val ks = java.security.KeyStore.getInstance(f, pw.toCharArray)
        val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
          javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
        tmf.init(ks)
        val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
        ctx.init(null, tmf.getTrustManagers, null)
        HttpClient.newBuilder().sslContext(ctx).build()
    }
  }
}
