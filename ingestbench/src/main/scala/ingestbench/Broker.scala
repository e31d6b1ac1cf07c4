package ingestbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** An in-process stand-in for a Kafka broker: named topics of N
  * append-only partition logs. Records are immutable once appended, and
  * a record's offset is its index in its partition log. */
object Broker {
  final class Topic(val name: String, val partitions: Int) {
    private val values = Array.fill(partitions)(ArrayBuffer.empty[Array[Byte]])
    private val times = Array.fill(partitions)(ArrayBuffer.empty[Long])

    def append(partition: Int, value: Array[Byte], timestampMs: Long): Unit = synchronized {
      values(partition) += value
      times(partition) += timestampMs
    }

    def ends: Map[Int, Long] = synchronized {
      (0 until partitions).map(p => p -> values(p).length.toLong).toMap
    }

    def slice(partition: Int, from: Long, until: Long): (Array[Array[Byte]], Array[Long]) =
      synchronized {
        (values(partition).slice(from.toInt, until.toInt).toArray,
          times(partition).slice(from.toInt, until.toInt).toArray)
      }

    def messageBytes: Long = synchronized(values.iterator.flatten.map(_.length.toLong).sum)
  }

  private val topics = new ConcurrentHashMap[String, Topic]()

  /** Time the streaming engine spent asking the source for offsets. */
  val latestOffsetNanos = new java.util.concurrent.atomic.AtomicLong()

  def create(name: String, partitions: Int): Topic = {
    val t = new Topic(name, partitions)
    if (topics.putIfAbsent(name, t) != null)
      throw new IllegalStateException(s"topic $name exists")
    t
  }

  def topic(name: String): Topic = Option(topics.get(name))
    .getOrElse(throw new IllegalArgumentException(s"unknown topic $name"))

  def drop(name: String): Unit = topics.remove(name)

  /** Spark's Kafka source schema (`readStream.format("kafka")`). */
  val Schema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  /** `{"topic":{"0":n0,"1":n1,...}}`, the Kafka source's offset JSON. */
  final case class TopicOffset(topic: String, ends: Map[Int, Long]) extends Offset {
    override def json(): String =
      ends.toSeq.sortBy(_._1).map { case (p, o) => s""""$p":$o""" }
        .mkString(s"""{"$topic":{""", ",", "}}")
  }

  object TopicOffset {
    private val Entry = """"(\d+)":(\d+)""".r
    def parse(json: String): TopicOffset = {
      val topic = json.drop(2).takeWhile(_ != '"')
      val body = json.drop(topic.length + 4)
      TopicOffset(topic, Entry.findAllMatchIn(body)
        .map(m => m.group(1).toInt -> m.group(2).toLong).toMap)
    }
  }
}

/** `readStream.format(classOf[BrokerSource].getName)` — reads a [[Broker]]
  * topic the way Spark's Kafka source reads a topic: one input split per
  * topic partition per micro-batch, `maxOffsetsPerTrigger` prorated
  * across partitions by their lag, `startingOffsets=earliest`, and
  * Trigger.AvailableNow stopping at the offsets present when the query
  * started. Options: `subscribe` (topic name) and `maxOffsetsPerTrigger`;
  * the Kafka connection options the CLI builds are accepted and ignored. */
final class BrokerSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = Broker.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new BrokerTable(properties.asScala.toMap)
}

final class BrokerTable(options: Map[String, String]) extends Table with SupportsRead {
  private def opt(k: String): Option[String] =
    options.collectFirst { case (key, v) if key.equalsIgnoreCase(k) => v }

  override def name(): String = s"broker:${opt("subscribe").getOrElse("")}"
  override def schema(): StructType = Broker.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = () => new Scan {
    override def readSchema(): StructType = Broker.Schema
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
      val topic = opt("subscribe").getOrElse(throw new IllegalArgumentException("subscribe"))
      require(opt("startingOffsets").forall(_ == "earliest"),
        "only startingOffsets=earliest is simulated")
      new BrokerStream(Broker.topic(topic), opt("maxOffsetsPerTrigger").map(_.toLong))
    }
  }
}

final class BrokerStream(topic: Broker.Topic, maxOffsetsPerTrigger: Option[Long])
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  @volatile private var availableNowEnds: Option[Map[Int, Long]] = None

  override def initialOffset(): Offset =
    Broker.TopicOffset(topic.name, (0 until topic.partitions).map(_ -> 0L).toMap)

  override def deserializeOffset(json: String): Offset = Broker.TopicOffset.parse(json)

  override def getDefaultReadLimit: ReadLimit =
    maxOffsetsPerTrigger.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  override def prepareForTriggerAvailableNow(): Unit = availableNowEnds = Some(topic.ends)

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val t0 = System.nanoTime()
    try rateLimited(start, limit)
    finally Broker.latestOffsetNanos.addAndGet(System.nanoTime() - t0)
  }

  /** Kafka's rate limit: each partition advances by its share of the cap,
    * in proportion to its lag (KafkaMicroBatchStream.rateLimit). */
  private def rateLimited(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[Broker.TopicOffset].ends
    val until = availableNowEnds.getOrElse(topic.ends)
    val ends = limit match {
      case m: ReadMaxRows =>
        val lag = until.map { case (p, e) => p -> (e - from(p)) }
        val total = lag.values.sum.toDouble
        if (total <= m.maxRows()) until
        else until.map { case (p, e) =>
          val prorate = m.maxRows() * (lag(p) / total)
          val step = (if (prorate < 1) math.ceil(prorate) else math.floor(prorate)).toLong
          p -> math.min(e, from(p) + step)
        }
      case _ => until
    }
    Broker.TopicOffset(topic.name, ends)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[Broker.TopicOffset].ends
    val e = end.asInstanceOf[Broker.TopicOffset].ends
    e.toSeq.sortBy(_._1).collect {
      case (p, until) if until > s(p) => BrokerSplit(topic.name, p, s(p), until): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = BrokerReaderFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class BrokerSplit(topic: String, partition: Int, from: Long, until: Long)
    extends InputPartition

object BrokerReaderFactory extends PartitionReaderFactory {
  override def createReader(split: InputPartition): PartitionReader[InternalRow] = {
    val s = split.asInstanceOf[BrokerSplit]
    val (values, times) = Broker.topic(s.topic).slice(s.partition, s.from, s.until)
    val topicName = UTF8String.fromString(s.topic)
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < values.length }
      override def get(): InternalRow = InternalRow(
        null, values(i), topicName, s.partition, s.from + i, times(i) * 1000L, 0)
      override def close(): Unit = ()
    }
  }
}
