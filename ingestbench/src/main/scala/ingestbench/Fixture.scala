package ingestbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.{SplittableRandom, UUID}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The web_requests message fixture (FIXTURES.md §1, about 230 bytes a
  * message). Every message is a pure function of (seed, partition,
  * offset), so the broker fill and the correctness check's expected
  * values derive from the same seed without keeping the messages twice. */
object Fixture {
  val Partitions = 4
  val TopicName = "web_requests"

  /** Table schema of FIXTURES.md §1, partitioned by `date`. */
  val TableSchema: StructType = StructType(Seq(
    StructField("meta", StructType(Seq(
      StructField("producer", StructType(Seq(StructField("timestamp", StringType)))),
      StructField("kafka", StructType(Seq(
        StructField("offset", LongType),
        StructField("topic", StringType),
        StructField("partition", IntegerType))))))),
    StructField("method", StringType),
    StructField("session_id", StringType),
    StructField("status", IntegerType),
    StructField("url", StringType),
    StructField("uuid", StringType),
    StructField("date", StringType)))

  /** The reference's web_requests transforms, in CLI form. */
  val Transforms: Seq[String] = Seq(
    "date: substr(meta.producer.timestamp, `0`, `10`)",
    "meta.kafka.offset: kafka.offset",
    "meta.kafka.topic: kafka.topic",
    "meta.kafka.partition: kafka.partition")

  sealed trait Kind
  case object Good extends Kind
  /** bytes no JSON decoder accepts → DLQ "deserialization failed" */
  case object Undecodable extends Kind
  /** valid JSON whose `status` is not an integer → DLQ coercion error */
  case object BadStatus extends Kind

  final case class Message(kind: Kind, bytes: Array[Byte], timestamp: String,
                           method: String, sessionId: String, status: Int,
                           url: String, uuid: String) {
    def text: String = new String(bytes, UTF_8)
  }

  private val Methods = Array("GET", "POST", "PUT", "DELETE", "PATCH", "HEAD")
  private val Statuses = Array(200, 201, 204, 301, 302, 400, 404, 500, 503)
  private val Hosts = Array("www.youku.com", "www.taobao.com", "www.example.org",
    "news.example.com", "shop.example.net", "api.example.io", "www.wikipedia.org",
    "static.example.com")
  private val Paths = Array("", "/", "/index.html", "/search?q=delta", "/cart",
    "/api/v1/items/42", "/login", "/static/app.js")

  private def rng(seed: Long, partition: Int, offset: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (partition.toLong << 48) ^ offset)

  /** Message at (partition, offset). `malformedPerMille` of the messages
    * are malformed, half undecodable and half failing the `status`
    * coercion. The `uuid` embeds (partition, offset), so every message —
    * and every dead letter — is distinguishable by content. */
  def message(seed: Long, partition: Int, offset: Long, malformedPerMille: Int): Message = {
    val r = rng(seed, partition, offset)
    val kind =
      if (r.nextInt(1000) >= malformedPerMille) Good
      else if (r.nextBoolean()) Undecodable
      else BadStatus
    val day = 24 + r.nextInt(4)
    val secs = r.nextInt(86400)
    val ts = f"2021-03-$day%02dT${secs / 3600}%02d:${secs / 60 % 60}%02d:${secs % 60}%02d." +
      f"${r.nextInt(1000000)}%06d+00:00"
    val method = Methods(r.nextInt(Methods.length))
    val session = new UUID(r.nextLong(), r.nextLong()).toString
    val status = Statuses(r.nextInt(Statuses.length))
    val url = "http://" + Hosts(r.nextInt(Hosts.length)) + Paths(r.nextInt(Paths.length))
    val uuid = new UUID(r.nextLong(), (partition.toLong << 48) | offset).toString
    val statusJson = if (kind == BadStatus) "\"n/a\"" else status.toString
    val json = s"""{"meta":{"producer":{"timestamp":"$ts"}},"method":"$method",""" +
      s""""session_id":"$session","status":$statusJson,"url":"$url","uuid":"$uuid"}"""
    val bytes = kind match {
      case Undecodable => Array[Byte](0xff.toByte, 0xfe.toByte) ++
        s"<binary $uuid>".getBytes(UTF_8)
      case _ => json.getBytes(UTF_8)
    }
    Message(kind, bytes, ts, method, session, status, url, uuid)
  }

  /** Append offsets [from(p), until(p)) of every partition to `topic`. */
  def fill(topic: Broker.Topic, seed: Long, malformedPerMille: Int,
           from: Map[Int, Long], until: Map[Int, Long], timestampMs: Long): Unit =
    for (p <- 0 until topic.partitions; o <- from(p) until until(p))
      topic.append(p, message(seed, p, o, malformedPerMille).bytes, timestampMs)

  /** Flat projection compared by the correctness check. */
  val GoodCols: Seq[String] = Seq("p", "o", "topic", "timestamp", "method",
    "session_id", "status", "url", "uuid", "date")
  private val GoodSchema = StructType(Seq(
    StructField("p", IntegerType), StructField("o", LongType),
    StructField("topic", StringType), StructField("timestamp", StringType),
    StructField("method", StringType), StructField("session_id", StringType),
    StructField("status", IntegerType), StructField("url", StringType),
    StructField("uuid", StringType), StructField("date", StringType)))
  private val DeadSchema = StructType(Seq(
    StructField("base64_bytes", StringType), StructField("json_string", StringType),
    StructField("cause", StringType)))

  /** The rows the table and the DLQ must hold for offsets [0, ends(p)),
    * generated in parallel from the seed alone. */
  def expected(spark: SparkSession, topic: String, seed: Long, malformedPerMille: Int,
               ends: Map[Int, Long]): (DataFrame, DataFrame) = {
    val chunk = 20000L
    val ranges = ends.toSeq.flatMap { case (p, e) =>
      (0L until e by chunk).map(s => (p, s, math.min(e, s + chunk)))
    }
    val msgs = spark.sparkContext.parallelize(ranges, math.max(1, ranges.size)).flatMap {
      case (p, s, e) => (s until e).iterator.map(o => (p, o, message(seed, p, o, malformedPerMille)))
    }
    val good = msgs.filter(_._3.kind == Good).map { case (p, o, m) =>
      Row(p, o, topic, m.timestamp, m.method, m.sessionId, m.status, m.url, m.uuid,
        m.timestamp.substring(0, 10))
    }
    val dead = msgs.filter(_._3.kind != Good).map { case (_, _, m) =>
      if (m.kind == Undecodable)
        Row(java.util.Base64.getEncoder.encodeToString(m.bytes), null, "deserialization failed")
      else Row(null, m.text, "status")
    }
    (spark.createDataFrame(good, GoodSchema), spark.createDataFrame(dead, DeadSchema))
  }
}
