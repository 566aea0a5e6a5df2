package graft.jobs

import graft.SparkSpec
import graft.model.{BatchNotification, InvalidRecord, Status}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** D3/D5 serializer fidelity matrix — the twin of the reference's
  * HriRecordSerializerTest.scala:101-123 and HriRecordDeserializerTest
  * .scala:126-149: null key / null value / null headers and non-ASCII (UTF-8)
  * payloads must survive the Kafka projections byte-exact. */
class SerializerSpec extends AnyFunSuite with SparkSpec with Matchers {

  import graft.model.Schemas

  private def record(key: Array[Byte], value: Array[Byte],
      headers: Seq[(String, Array[Byte])]): Row =
    Row(key, value,
      if (headers == null) null else headers.map { case (k, v) => Row(k, v) },
      "ingest.t1.di.in", 0, 0L)

  private def recordsDf(rows: Row*) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), Schemas.hriRecord)

  test("D3: null key, null value, null headers, and UTF-8 bytes pass through untouched") {
    val utf8 = "中文 żółć émoji é".getBytes("UTF-8")
    val df = recordsDf(
      record(null, utf8, Seq("batchId" -> "b-中".getBytes("UTF-8"))),
      record("k".getBytes("UTF-8"), null, null),
      record(null, null, Seq.empty))
    val out = ValidationJob.validRecordProjection(df).collect()

    out(0).get(0).asInstanceOf[AnyRef] shouldBe null
    out(0).getAs[Array[Byte]](1) shouldBe utf8
    val hs = out(0).getSeq[Row](2)
    hs should have size 1
    hs.head.getString(0) shouldBe "batchId"
    new String(hs.head.getAs[Array[Byte]](1), "UTF-8") shouldBe "b-中"

    new String(out(1).getAs[Array[Byte]](0), "UTF-8") shouldBe "k"
    out(1).get(1).asInstanceOf[AnyRef] shouldBe null
    out(1).get(2).asInstanceOf[AnyRef] shouldBe null

    out(2).get(0).asInstanceOf[AnyRef] shouldBe null
    out(2).get(1).asInstanceOf[AnyRef] shouldBe null
    out(2).getSeq[Row](2) shouldBe empty
  }

  test("D5: JSON body is UTF-8; batchId echoes as the lone header; null batchId -> null headers") {
    import spark.implicits._
    val df = Seq(
      InvalidRecord("坏记录 \"quoted\"", "ingest.t1.di.in", 3, 42L, "batch-中-1"),
      InvalidRecord("no batch", "ingest.t1.di.in", 0, 7L, null))
      .toDF()
    val out = ValidationJob.invalidRecordProjection(df).collect()

    out.foreach(_.isNullAt(0) shouldBe true) // null key always

    val body = new String(out(0).getAs[Array[Byte]](1), "UTF-8")
    body should include(""""failure":"坏记录 \"quoted\"""")
    body should include(""""batchId":"batch-中-1"""")
    val hs = out(0).getSeq[Row](2)
    hs should have size 1
    hs.head.getString(0) shouldBe "batchId"
    new String(hs.head.getAs[Array[Byte]](1), "UTF-8") shouldBe "batch-中-1"

    out(1).get(2).asInstanceOf[AnyRef] shouldBe null // D5: missing batchId -> no header at all
    new String(out(1).getAs[Array[Byte]](1), "UTF-8") should include(""""offset":7""")
  }

  test("terminal notifications round-trip through the notification topic's parse") {
    import spark.implicits._
    spark.conf.get("spark.sql.session.timeZone") shouldBe "UTC"
    val ts = java.sql.Timestamp.from(java.time.Instant.parse("2026-03-04T05:06:07.891Z"))
    val te = java.sql.Timestamp.from(java.time.Instant.parse("2026-03-04T23:59:59.001Z"))
    val terminal = Seq(
      BatchNotification("b-ok", "batch ok", "ingest.t1.di.in", "claims", Status.Completed,
        ts, te, 2, 2, 0, -1, null, null),
      BatchNotification("b-中", null, "ingest.t1.di.in", "claims", Status.Failed,
        ts, te, 2, 3, 1, 0, "Failing batch: b-中, received too many records", """{"k":"v"}"""))
    val out = ValidationJob.terminalNotificationProjection(terminal.toDF())
    out.collect().foreach(_.isNullAt(0) shouldBe true) // null key
    graft.streaming.ValidationStream.parseNotifications(out).as[BatchNotification]
      .collect().toSeq shouldBe terminal
  }

  test("a Mgmt API lookup body parses exactly as the notification topic does") {
    import spark.implicits._
    spark.conf.get("spark.sql.session.timeZone") shouldBe "UTC"
    val payloads = Seq(
      // HttpSpec's b-found body: nested metadata, an unknown field
      """{"id":"b-found","name":"n1","topic":"ingest.t1.di.in","status":"STARTED",
         "dataType":"claims","startDate":"2020-12-08T03:02:23Z",
         "metadata":{"compression":"gzip","nested":{"a":[1,2]},"note":"x}y"},
         "expectedRecordCount":7,"invalidThreshold":-1,"ignoredNewField":true}""",
      // nested keys named like notification fields must not shadow them
      """{"metadata":{"status":"COMPLETED","expectedRecordCount":0,
         "id":"evil","deeper":{"invalidThreshold":99}},
         "id":"b9","status":"STARTED","expectedRecordCount":500000,
         "invalidThreshold":-1}""",
      """{"id":"b-esc","name":"form\ffeed","failureMessage":"back\bspace"}""",
      """{"id":"b-counts","expectedRecordCount":1e3,"actualRecordCount":7.9,
         "invalidRecordCount":3000000000,"invalidThreshold":"7"}""",
      """{"id":"b-dup","status":"STARTED","status":"COMPLETED"}""",
      // a duplicate that does not convert keeps the earlier value
      """{"id":"b-dup-int","expectedRecordCount":5,"expectedRecordCount":"x"}""",
      """{"id":"b-num","status":5,"name":true,"topic":["a",1]}""",
      """{"id":"b-ws","metadata":{ "a" : [ 1 , 2.50 ], "b" : "c" }}""",
      """{"id":"b-str-meta","metadata":"plain \"text\""}""",
      """{"id":"b-null-meta","metadata":null,"expectedRecordCount":null}""",
      """{"id":"b-ts","startDate":"2020-12-08T03:02:23","endDate":"2020-12-08T03:02:23.5+02:00"}""",
      """{"id":"b-ts-other","startDate":"2020-12-08","endDate":"not a date"}""",
      """{"id":"b-ts-epoch","startDate":1607396543,"endDate":1.5}""",
      """{"id":"b-ts-gmt","startDate":"2020-12-08T03:02:23GMT+01:00","endDate":"2020-12-08 03:02:23GMT"}""",
      // a surrogate pair, escaped and raw (a plain literal keeps the escapes)
      "{\"id\":\"b-\\ud83d\\ude00\",\"name\":\"😀\",\"metadata\":{\"k\":\"\\ud83d\\ude00\"}}",
      """{'id':'b-quoted','expectedRecordCount':NaN}""")
    payloads.foreach { p =>
      val topic = graft.streaming.ValidationStream.parseNotifications(Seq(p).toDF("value"))
        .na.fill(-1L).as[BatchNotification].collect().toSeq
      withClue(p) { Seq(graft.http.MgmtClient.parseNotification(p)) shouldBe topic }
    }
  }

  test("kafkaSaslOptions: SASL_SSL exactly when a password is set; JAAS-escaped") {
    ValidationJob.kafkaSaslOptions(None) shouldBe empty

    val sasl = ValidationJob.kafkaSaslOptions(Some("s3cr3t"))
    sasl("kafka.security.protocol") shouldBe "SASL_SSL"
    sasl("kafka.sasl.mechanism") shouldBe "PLAIN"
    sasl("kafka.sasl.jaas.config") should include("""username="token" password="s3cr3t";""")
    sasl("kafka.ssl.protocol") shouldBe "TLSv1.2"
    sasl should not contain key("kafka.group.id") // consumer-only prop, not SASL

    // quotes/backslashes in an API key must not corrupt the JAAS line
    val tricky = ValidationJob.kafkaSaslOptions(Some("""p"w\x"""))
    tricky("kafka.sasl.jaas.config") should include("""password="p\"w\\x";""")
  }

  test("kafkaGroupId: reference id for the record source; role-suffixed for the others") {
    ValidationJob.kafkaGroupId("ingest.t1.di.in") shouldBe
      Map("kafka.group.id" -> "hri-validation-ingest.t1.di.in-ingest.t1.di.out")
    // concurrent queries must never share one group id
    ValidationJob.kafkaGroupId("ingest.t1.di.in", "notifications")("kafka.group.id") shouldBe
      "hri-validation-ingest.t1.di.in-ingest.t1.di.out-notifications"
    ValidationJob.kafkaGroupId("ingest.t1.di.in", "tracker")("kafka.group.id") should
      endWith("-tracker")
  }
}
