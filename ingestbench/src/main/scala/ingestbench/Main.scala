package ingestbench

import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.GraftSession
import graft.cli.IngestCli
import graft.delta.DeltaTable
import graft.streaming.IngestPipeline

/** The ingest benchmark's JVM side: runs one workload's drains through
  * `IngestPipeline.start`, checks every drain's table and DLQ against the
  * generator, and prints the metrics, the last line as one JSON object.
  * Usage:
  *
  *   Main --workload NAME --seed N --trace 0|1 --work DIR
  *
  * With `--trace 0` the JSON carries the end-to-end metrics; with
  * `--trace 1` the per-layer metrics (README.md). */
object Main {

  final case class Args(workload: Workload, seed: Long, trace: Boolean, work: Path)

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k required"))
    Args(Workloads.byName(need("workload")), need("seed").toLong, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath)
  }

  /** One drain's end-to-end observations. */
  final case class Drain(
      setupS: Double, offered: Long, offeredBytes: Long,
      ingestMsgsPerS: Double, batchMs: Seq[Double], bytesWritten: Long, tableFiles: Int,
      heapPeakMb: Double, failed: Long, knownDefectRows: Long,
      layers: Map[String, Seq[Double]], dir: Path, tablePath: String, offsetLo: Long)

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val w = args.workload
    val cores = Runtime.getRuntime.availableProcessors()
    val tSession = System.nanoTime()
    Files.createDirectories(args.work)
    val builder = GraftSession.builder("ingestbench", Some(s"local[$cores]"))
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
    if (args.trace) builder.config("spark.hadoop.fs.file.impl", classOf[TracingFs].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (args.trace) Some(Tracer.install(spark)) else None
    val sessionS = (System.nanoTime() - tSession) / 1e9

    val drains = ArrayBuffer.empty[Drain]
    val correct = try {
      // warm-up on its own table: the first drains in a JVM run slower
      // while classes load and compile
      val warm = runDrain(spark, w, args.seed, args.work, 0, None, warmup = true)
      readback(spark, warm.tablePath, warm.offsetLo) // warms the read path too
      deleteTree(warm.dir)
      for (i <- 1 to w.measuredDrains) {
        drains.lastOption.foreach(d => deleteTree(d.dir))
        drains += runDrain(spark, w, args.seed, args.work, i, tracer)
      }
      val last = drains.last
      val (scanS, pointS) = readback(spark, last.tablePath, last.offsetLo)
      val readLayers = tracer.map(_.readback(last.tablePath)).getOrElse(Map.empty)
      deleteTree(last.dir)
      report(args, cores, sessionS, warm, drains.toSeq, scanS, pointS, readLayers)
    } finally {
      spark.streams.active.foreach(_.stop())
      spark.stop()
    }
    if (!correct) System.err.println("ingestbench: correctness check FAILED (see failed)")
  }

  /** Timed readback of a drained table, each query from a cold
    * `DeltaTable.forPath`: a full scan of every column, and a selective
    * query on one date and an offset range. Medians of 5 runs each. */
  def readback(spark: SparkSession, tablePath: String, offsetLo: Long): (Double, Double) = {
    def timed(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }
    System.gc() // the drains' garbage is not the reader's cost
    val scans = (0 until 5).map(_ => timed(
      DeltaTable.forPath(spark, tablePath).toDF.write.format("noop").mode("overwrite").save()))
    val points = (0 until 5).map(_ => timed(
      DeltaTable.forPath(spark, tablePath).toDF
        .filter(col("date") === "2021-03-25" && col("meta.kafka.partition") === 1 &&
          col("meta.kafka.offset").between(offsetLo, offsetLo + 2000)).collect(): Unit))
    (median(scans), median(points))
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def mean(xs: Seq[Double]): Double = xs.sum / xs.size

  /** The highest percentile with at least ten samples beyond it. With
    * fewer than 21 samples no such percentile lies above the median, so
    * the second highest value (one sample beyond it) stands in. */
  private def tail(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size >= 21) s(s.size - 11) else s(math.max(0, s.size - 2))
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)

  private def batchEndMs(p: StreamingQueryProgress): Double =
    Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").doubleValue

  /** One ingest query on a fresh table: set up, drain the backlog, then
    * check the table and DLQ. */
  def runDrain(spark: SparkSession, w: Workload, seed: Long, work: Path, idx: Int,
               tracer: Option[Tracer], warmup: Boolean = false): Drain = {
    val dir = work.resolve(s"drain-$idx")
    deleteTree(dir)
    val tablePath = dir.resolve("table").toString
    val dlqPath = dir.resolve("dlq").toString
    val topicName = s"${Fixture.TopicName}_$idx"

    val tSetup = System.nanoTime()
    val topic = Broker.create(topicName, Fixture.Partitions)
    val zero = (0 until Fixture.Partitions).map(_ -> 0L).toMap
    val backlogEnds = zero.map { case (p, _) =>
      p -> (if (warmup) w.warmupBacklog else w.backlog) / Fixture.Partitions }
    Fixture.fill(topic, seed, w.malformedPerMille, zero, backlogEnds, System.currentTimeMillis())
    DeltaTable.forPath(spark, tablePath).create(Fixture.TableSchema, partitionColumns = Seq("date"))
    val cfg = IngestCli.parse(w.cliArgs(topicName, tablePath, dlqPath), Map.empty)
    val opts = cfg.toIngestOptions
    val source = cfg.toKafkaConfig.options.foldLeft(
      spark.readStream.format(classOf[BrokerSource].getName)) {
      case (r, (k, v)) => r.option(k, v)
    }.load()
    LiveHeap.reset()
    tracer.foreach(_.begin(tablePath, dlqPath))
    val q0 = System.currentTimeMillis()
    val query = IngestPipeline.start(spark, source, tablePath, opts)
    val setupS = (System.nanoTime() - tSetup) / 1e9
    query.awaitTermination()
    query.exception.foreach(e => throw e)
    val heapPeak = LiveHeap.peakMb()

    val batches = query.recentProgress.toSeq
      .filter(p => p.sources.nonEmpty && p.numInputRows > 0)
    val lastEnd = batches.map(batchEndMs).max
    val offeredEnds = topic.ends
    val offered = offeredEnds.values.sum
    val layers = tracer.map(_.end(batches, query.id.toString)).getOrElse(Map.empty)

    val table = DeltaTable.forPath(spark, tablePath)
    val (failed, knownDefectRows) = check(spark, w, seed, topicName, offeredEnds, table.toDF,
      if (w.dlq) Some(DeltaTable.forPath(spark, dlqPath).toDF) else None)
    val drain = Drain(
      setupS = setupS,
      offered = offered,
      offeredBytes = topic.messageBytes,
      ingestMsgsPerS = offered / ((lastEnd - q0) / 1000.0),
      batchMs = batches.map(_.durationMs.get("triggerExecution").doubleValue),
      bytesWritten = dirBytes(Paths.get(tablePath)) + dirBytes(Paths.get(dlqPath)),
      tableFiles = table.snapshot.files.size,
      heapPeakMb = heapPeak,
      failed = failed,
      knownDefectRows = knownDefectRows,
      layers = layers,
      dir = dir,
      tablePath = tablePath,
      offsetLo = offeredEnds(1) / 4)
    Broker.drop(topicName)
    System.err.println(f"drain $idx%d${if (tracer.isDefined) " (traced)" else ""}: " +
      f"${drain.offered}%d msgs in ${batches.size}%d batches, " +
      f"${drain.ingestMsgsPerS}%.0f msgs/s, batch p50 ${median(drain.batchMs)}%.0f ms, " +
      f"setup ${drain.setupS}%.2f s, failed ${drain.failed}%d")
    drain
  }

  /** Exactly-once gate: every generated message is in table ∪ DLQ exactly
    * once (the `uuid` embeds its partition and offset), good rows carry
    * the generator's values — `meta.kafka.{partition,offset,topic}`
    * included — and every malformed message is dead-lettered with its
    * cause. Returns the number of messages that are lost, duplicated,
    * wrong or misrouted, and the number of rows let through with the
    * program's known defect (README.md): `meta.kafka` null on every good
    * row of the drain. Only that whole-table signature is let through; a
    * null `meta.kafka` among rows that have it set, or a wrong value,
    * fails the row. */
  def check(spark: SparkSession, w: Workload, seed: Long, topic: String,
            ends: Map[Int, Long], table: DataFrame, dlq: Option[DataFrame]): (Long, Long) = {
    val (expGood, expDead) = Fixture.expected(spark, topic, seed, w.malformedPerMille, ends)
    val got = table.select(
      col("meta.kafka.partition").as("p"), col("meta.kafka.offset").as("o"),
      col("meta.kafka.topic").as("topic"), col("meta.producer.timestamp").as("timestamp"),
      col("method"), col("session_id"), col("status"), col("url"), col("uuid"), col("date"))
    val gotDead = dlq.map(_.select(col("base64_bytes"), col("json_string"),
      when(col("error") === "deserialization failed", col("error"))
        .when(col("error").startsWith("status: "), lit("status"))
        .otherwise(col("error")).as("cause")))
    // a row hash that tells a null from a value and which column is null
    def rowHash(cols: Seq[String]): Column =
      xxhash64(cols.map(col) ++ cols.map(col(_).isNull): _*)
    // messages (by key) whose rows differ in number or content between
    // the two sides
    def mismatched(a: DataFrame, b: DataFrame, cols: Seq[String], key: Column): Long = {
      def tagged(df: DataFrame, side: Int) =
        df.select(key.as("k"), rowHash(cols).as("h"), lit(side).as("side"))
      tagged(a, 1).unionByName(tagged(b, -1)).groupBy("k", "h").agg(sum("side").as("n"))
        .filter(col("n") =!= 0).select("k").distinct().count()
    }
    val kafkaCols = Seq("p", "o", "topic")
    val kafkaNull = got.filter(kafkaCols.map(col(_).isNull).reduce(_ && _)).count()
    val knownDefect = kafkaNull > 0 && kafkaNull == got.count()
    val goodCols = if (knownDefect) Fixture.GoodCols.diff(kafkaCols) else Fixture.GoodCols
    val deadCols = Seq("base64_bytes", "json_string", "cause")
    val bad = mismatched(got, expGood, goodCols, col("uuid")) +
      (gotDead match {
        case Some(d) => mismatched(d, expDead, deadCols,
          coalesce(col("base64_bytes"), col("json_string")))
        case None => expDead.count() // no DLQ configured: nothing may be malformed
      })
    (bad, if (knownDefect) kafkaNull else 0L)
  }

  private def report(args: Args, cores: Int, sessionS: Double, warm: Drain,
                     drains: Seq[Drain], scanS: Double, pointS: Double,
                     readLayers: Map[String, Seq[Double]]): Boolean = {
    val attempted = (warm +: drains).map(_.offered).sum
    val failed = (warm +: drains).map(_.failed).sum
    val correct = failed == 0
    val ds = drains
    val endToEnd = Seq(
      ("setup_s", median((warm +: ds).map(_.setupS)), "s"),
      ("ingest_msgs_per_s", median(ds.map(_.ingestMsgsPerS)), "msgs/s"),
      ("batch_ms_p50", median(ds.flatMap(_.batchMs)), "ms"),
      ("batch_ms_tail", tail(ds.flatMap(_.batchMs)), "ms"),
      ("bytes_written_per_msg_byte",
        ds.map(_.bytesWritten).sum.toDouble / ds.map(_.offeredBytes).sum, "ratio"),
      ("table_files", median(ds.map(_.tableFiles.toDouble)), "count"),
      ("heap_peak_mb", median(ds.map(_.heapPeakMb)), "MB"))
    // printed only; README.md says why each is not a bounded metric
    val info = Seq(
      ("readback_scan_s", scanS, "s"),
      ("readback_point_s", pointS, "s"),
      ("session_start_s", sessionS, "s"),
      ("warmup_msgs_per_s", warm.ingestMsgsPerS, "msgs/s"),
      ("drains", drains.size.toDouble, "count"),
      ("batches", drains.map(_.batchMs.size).sum.toDouble, "count"),
      ("known_defect_rows", (warm +: drains).map(_.knownDefectRows).sum.toDouble, "count"),
      ("error_rate", failed.toDouble / attempted, "ratio"),
      ("cores", cores.toDouble, "count"))
    val metrics =
      if (!args.trace) endToEnd
      else {
        val all = drains.map(_.layers) :+ readLayers
        all.flatMap(_.keys).distinct.sorted.map { k =>
          (k, mean(all.flatMap(_.getOrElse(k, Nil))), Tracer.unit(k))
        }
      }
    def line(n: String, v: Double, u: String) = println(f"$n%-28s $v%14.4f $u")
    if ((warm +: drains).exists(_.knownDefectRows > 0))
      println("known defect: the program left meta.kafka null on every good row " +
        "(known_defect_rows, not counted in failed; README.md)")
    println(s"workload ${args.workload.name} seed ${args.seed} " +
      s"args: ${args.workload.cliOverrides("DLQ").mkString(" ")}")
    // a traced run prints its (slowed) end-to-end figures too: the tracing
    // overhead is their difference from an untraced run's
    (endToEnd.map { case (n, v, u) => ((if (args.trace) "traced." else "") + n, v, u) } ++
      info ++ (if (args.trace) metrics else Nil)).foreach((line _).tupled)
    val json = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$u"}""" }
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, attempted)}, """ +
      s""""failed": $failed, "metrics": {${json.mkString(", ")}}}""")
    correct
  }
}

/** Peak live heap: the highest heap occupancy right after a collection,
  * from the JVM's GC notifications. Steadier than the peak of used heap,
  * which mostly shows when the collector chose to run. */
object LiveHeap {
  import java.lang.management.ManagementFactory
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  @volatile private var peak = 0L

  private val listener: NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val after = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
      if (after > peak) peak = after
    }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def reset(): Unit = peak = 0L

  /** MB; the current heap when no collection ran since [[reset]]. */
  def peakMb(): Double = {
    val p = if (peak > 0) peak else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    p / 1048576.0
  }
}
