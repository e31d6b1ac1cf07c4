package ingestbench

import java.io.OutputStream
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FSInputStream, FileStatus, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.delta.DeltaTable

/** Tracing from outside the program: every hook here is public API that
  * sits outside the code under test — a Hadoop FileSystem wrapper, a
  * SparkListener, the streaming progress reports, and timed calls. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  /** Wall-clock milliseconds with nanoTime resolution. */
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One file-system operation. Streams finish when closed, so a create's
  * span covers the whole write. `stageId` is set for operations made by
  * tasks, `phase` (the program layer on the call stack) for the rest. */
final class FsEvent(val op: String, val path: String, val startMs: Double,
                    val stageId: Int, val phase: String) {
  @volatile var endMs: Double = startMs
  @volatile var bytes: Long = 0L
  @volatile var busyMs: Double = 0.0
}

object FsTrace {
  @volatile var enabled = false
  val events = new ConcurrentLinkedQueue[FsEvent]()

  private val CompactFrame = """(^|\$)compact(\$|$)""".r

  /** The program layer calling into the file system, read off the stack. */
  def phaseOf(stack: Array[StackTraceElement]): String = {
    def has(cls: String, method: String => Boolean) =
      stack.exists(f => f.getClassName.startsWith(cls) && method(f.getMethodName))
    if (has("graft.streaming.DeltaDeadLetterSink", _ => true)) "dlq"
    else if (has("graft.delta.DeltaLog", m => m.contains("checkpointAt") ||
      m.contains("maybeCheckpoint"))) "checkpoint"
    else if (has("graft.delta.DeltaTable", m => CompactFrame.findFirstIn(m).isDefined)) "compact"
    else if (has("graft.delta.DeltaTable", _.contains("append"))) "append"
    else if (has("graft.streaming.IngestPipeline", _ => true)) "plan"
    else "" // thread pools and commit protocols: inherited, see Tracer.end
  }

  def begin(op: String, path: Path): FsEvent = {
    val tc = TaskContext.get()
    val e =
      if (tc != null) new FsEvent(op, path.toUri.getPath, Clock.nowMs(), tc.stageId(), "task")
      else new FsEvent(op, path.toUri.getPath, Clock.nowMs(), -1,
        phaseOf(Thread.currentThread().getStackTrace))
    events.add(e)
    e
  }

  def finish(e: FsEvent, busyMs: Double): Unit = {
    e.busyMs += busyMs
    e.endMs = Clock.nowMs()
  }

  def timed[T](op: String, path: Path)(f: => T): T =
    if (!enabled) f
    else {
      val e = begin(op, path)
      val t = System.nanoTime()
      try f finally finish(e, (System.nanoTime() - t) / 1e6)
    }
}

/** `fs.file.impl` for the traced run: the local file system, with every
  * create, open, rename, delete and listing recorded as an [[FsEvent]]. */
class TracingFs extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    if (!FsTrace.enabled)
      return super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
    val e = FsTrace.begin("create", f)
    val t = System.nanoTime()
    val inner = super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
    e.busyMs += (System.nanoTime() - t) / 1e6
    new FSDataOutputStream(new OutputStream {
      private def time(g: => Unit): Unit = {
        val t0 = System.nanoTime(); g; e.busyMs += (System.nanoTime() - t0) / 1e6
      }
      override def write(b: Int): Unit = time { inner.write(b); e.bytes += 1 }
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        time { inner.write(b, off, len); e.bytes += len }
      override def flush(): Unit = time(inner.flush())
      override def close(): Unit = {
        val t0 = System.nanoTime()
        inner.close()
        FsTrace.finish(e, (System.nanoTime() - t0) / 1e6)
      }
    }, null)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (!FsTrace.enabled) return super.open(f, bufferSize)
    val e = FsTrace.begin("open", f)
    val t = System.nanoTime()
    val in = super.open(f, bufferSize)
    e.busyMs += (System.nanoTime() - t) / 1e6
    new FSDataInputStream(new FSInputStream {
      private def time[T](g: => T): T = {
        val t0 = System.nanoTime()
        try g finally e.busyMs += (System.nanoTime() - t0) / 1e6
      }
      private def count(n: Int): Int = { if (n > 0) e.bytes += n; n }
      override def seek(pos: Long): Unit = time(in.seek(pos))
      override def getPos: Long = in.getPos
      override def seekToNewSource(target: Long): Boolean = time(in.seekToNewSource(target))
      override def read(): Int = time { val b = in.read(); if (b >= 0) e.bytes += 1; b }
      override def read(b: Array[Byte], off: Int, len: Int): Int = time(count(in.read(b, off, len)))
      override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int =
        time(count(in.read(pos, b, off, len)))
      override def readFully(pos: Long, b: Array[Byte], off: Int, len: Int): Unit =
        time { in.readFully(pos, b, off, len); e.bytes += len }
      override def available(): Int = in.available()
      override def close(): Unit = {
        val t0 = System.nanoTime()
        in.close()
        FsTrace.finish(e, (System.nanoTime() - t0) / 1e6)
      }
    })
  }

  override def rename(src: Path, dst: Path): Boolean =
    FsTrace.timed("rename", src)(super.rename(src, dst))

  override def delete(f: Path, recursive: Boolean): Boolean =
    FsTrace.timed("delete", f)(super.delete(f, recursive))

  override def listStatus(f: Path): Array[FileStatus] =
    FsTrace.timed("list", f)(super.listStatus(f))

  override def listFiles(f: Path, recursive: Boolean): RemoteIterator[LocatedFileStatus] =
    FsTrace.timed("list", f)(super.listFiles(f, recursive))
}

/** Jobs and stages seen by a SparkListener. A job's batch is the
  * `streaming.sql.batchId` local property the streaming engine sets. */
final class JobTrace extends SparkListener {
  final class Stage(val id: Int) {
    var submittedMs, completedMs = 0.0
    var tasks = 0
    var cpuMs, gcMs, shuffleBytes = 0.0
    var recordsRead, recordsWritten = 0L
  }
  final class Job(val id: Int, val startMs: Double, val batchId: Long, val queryId: String,
                  val stageIds: Seq[Int]) {
    @volatile var endMs: Double = Double.NaN
  }

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]()
  val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  @volatile var lastEventMs: Double = Clock.nowMs()

  private def stage(id: Int) = stages.computeIfAbsent(id, new Stage(_))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    lastEventMs = Clock.nowMs()
    val props = Option(e.properties)
    val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .map(_.toLong).getOrElse(-1L)
    val query = props.flatMap(p => Option(p.getProperty("sql.streaming.queryId"))).getOrElse("")
    jobs.put(e.jobId, new Job(e.jobId, e.time.toDouble, batch, query, e.stageIds))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    lastEventMs = Clock.nowMs()
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    lastEventMs = Clock.nowMs()
    val s = stage(e.stageInfo.stageId)
    e.stageInfo.submissionTime.foreach(t => s.submittedMs = t.toDouble)
    e.stageInfo.completionTime.foreach(t => s.completedMs = t.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEventMs = Clock.nowMs()
    val m = e.taskMetrics
    if (m != null) {
      val s = stage(e.stageId)
      s.synchronized {
        s.tasks += 1
        s.cpuMs += m.executorCpuTime / 1e6
        s.gcMs += m.jvmGCTime.toDouble
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten.toDouble
        s.recordsRead += m.inputMetrics.recordsRead
        s.recordsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Wait until every job started has ended and the bus has been quiet
    * for a moment (listener events arrive asynchronously). */
  def awaitQuiet(): Unit = {
    val deadline = Clock.nowMs() + 10000
    while (Clock.nowMs() < deadline &&
      (jobs.values.asScala.exists(_.endMs.isNaN) || Clock.nowMs() - lastEventMs < 300))
      Thread.sleep(50)
  }

  def clear(): Unit = { jobs.clear(); stages.clear(); stageJob.clear() }
}

/** Per-batch layer attribution for the traced drains of a run. */
final class Tracer(spark: SparkSession, val jobs: JobTrace) {
  private val Layers = Set("append", "dlq", "compact", "checkpoint")
  private var roots: (String, String) = ("", "")

  def begin(tablePath: String, dlqPath: String): Unit = {
    jobs.clear()
    FsTrace.events.clear()
    Broker.latestOffsetNanos.set(0L)
    roots = (new Path(tablePath).toUri.getPath, new Path(dlqPath).toUri.getPath)
    FsTrace.enabled = true
  }

  private def pathClass(p: String): String = {
    val name = p.substring(p.lastIndexOf('/') + 1)
    if (p.contains("/_delta_log/")) {
      if (name == "_last_checkpoint") "last_checkpoint"
      else if (name.contains(".checkpoint")) "checkpoint"
      else if (name.endsWith(".crc") || name.startsWith(".crc-tmp-")) "crc"
      else if (name.contains(".json")) "log_json"
      else "log_other"
    }
    else if (p.contains("/_staging-")) "staging"
    else if (p.contains("/_graft_checkpoint")) "stream_checkpoint"
    else if (name.endsWith(".parquet")) "data"
    else "other"
  }

  /** Stop recording and attribute the drain's jobs and file operations to
    * its batches. Times are per batch; counts per batch, except
    * `stream.batches`, which is per drain. */
  def end(batches: Seq[StreamingQueryProgress], queryId: String): Map[String, Seq[Double]] = {
    FsTrace.enabled = false
    jobs.awaitQuiet()
    val out = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def put(k: String, v: Double): Unit = out.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    val allEvents = FsTrace.events.asScala.toSeq
    val allJobs = jobs.jobs.values.asScala.toSeq
    // file moves and footer reads run on a thread pool, whose stacks do
    // not show the layer: they inherit it from the driver operation before
    val phases = mutable.Map.empty[FsEvent, String]
    allEvents.filter(_.stageId < 0).sortBy(_.startMs).foldLeft("other") { (last, e) =>
      val p = if (e.phase.isEmpty) last else e.phase
      phases(e) = p
      p
    }
    def phase(e: FsEvent): String = phases.getOrElse(e, e.phase)
    // A job's layer: streaming jobs all carry the query's start call site,
    // so it is read off the program's next file operation on the driver
    // instead — every layer lists its staging directory (or writes its
    // log entry) right after the jobs it ran.
    val driverEv = allEvents.filter(e => e.stageId < 0 && Layers(phase(e))).sortBy(_.startMs)
    val jobCls: Map[Int, String] = allJobs.map(j =>
      j.id -> driverEv.find(_.startMs >= j.endMs).map(phase).getOrElse("other")).toMap
    def stageCls(stageId: Int): String =
      Option(jobs.stageJob.get(stageId)).flatMap(jobCls.get).getOrElse("other")
    def evCls(e: FsEvent): String =
      if (e.path.startsWith(roots._2 + "/")) "dlq"
      else if (e.stageId >= 0) stageCls(e.stageId)
      else phase(e)
    put("stream.batches", batches.size.toDouble)

    batches.foreach { b =>
      val d = b.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.withDefaultValue(0.0)
      val ws = java.time.Instant.parse(b.timestamp).toEpochMilli.toDouble
      val we = ws + d("triggerExecution")
      put("stream.trigger_ms", d("triggerExecution"))
      put("stream.loop_self_ms", d("triggerExecution") - d("addBatch"))
      put("stream.wal_commit_ms", d("walCommit"))
      // the source's own clock: progress reports whole milliseconds
      put("stream.latest_offset_ms", Broker.latestOffsetNanos.get / 1e6 / batches.size)

      val bj = allJobs.filter(j => j.queryId == queryId && j.batchId == b.batchId)
      val ev = allEvents.filter(e => e.startMs >= ws - 1 && e.startMs <= we + 1)
      def stagesOf(cls: String) = bj.filter(j => jobCls(j.id) == cls).flatMap(_.stageIds)
        .flatMap(s => Option(jobs.stages.get(s)))
      def jobMs(cls: String) = bj.filter(j => jobCls(j.id) == cls).map(j => j.endMs - j.startMs).sum
      def span(cls: String): Double = {
        val iv = bj.filter(j => jobCls(j.id) == cls).map(j => (j.startMs, j.endMs)) ++
          ev.filter(e => evCls(e) == cls).map(e => (e.startMs, e.endMs))
        if (iv.isEmpty) 0.0 else iv.map(_._2).max - iv.map(_._1).min
      }

      val appendStages = stagesOf("append")
      val scan = appendStages.sortBy(-_.recordsRead).headOption
      put("pipeline.stage_ms", scan.map(s => s.completedMs - s.submittedMs).getOrElse(0.0))
      put("pipeline.stage_cpu_ms", scan.map(_.cpuMs).getOrElse(0.0))
      put("pipeline.records_in", scan.map(_.recordsRead.toDouble).getOrElse(0.0))

      val tableEv = ev.filterNot(e => e.path.startsWith(roots._2 + "/"))
      val stagedWrites = tableEv.filter(e => e.op == "create" && pathClass(e.path) == "staging" &&
        e.path.endsWith(".parquet"))
      val appendWrites = stagedWrites.filter(evCls(_) == "append")
      put("append.write_job_ms", jobMs("append"))
      put("append.shuffle_bytes", appendStages.map(_.shuffleBytes).sum)
      put("append.files_written", appendWrites.size.toDouble)
      put("append.bytes_written", appendWrites.map(_.bytes.toDouble).sum)
      put("append.moves_ms", tableEv.filter(e => e.op == "rename" && phase(e) == "append" &&
        pathClass(e.path) == "staging").map(e => e.endMs - e.startMs).sum)
      val footers = tableEv.filter(e => e.op == "open" && phase(e) == "append" &&
        pathClass(e.path) == "data")
      put("append.footer_reads", footers.size.toDouble)
      put("append.footer_read_ms", footers.map(_.busyMs).sum)

      // a log file is published by writing a temporary file, then linking
      // (version files: the temporary is deleted after) or renaming it
      // (`.crc`): its span runs from the create to that last operation
      def published(creates: Seq[FsEvent], op: String): Double = {
        val last = ev.filter(_.op == op).groupBy(_.path)
        creates.map(c => last.get(c.path).map(_.map(_.endMs).max).getOrElse(c.endMs) - c.startMs).sum
      }
      val logJson = ev.filter(e => e.op == "create" && pathClass(e.path) == "log_json")
      put("log.commits", logJson.size.toDouble)
      put("log.commit_ms", published(logJson, "delete"))
      val versions = logJson.map(e => e.path.substring(0, e.path.indexOf(".json")))
      put("log.commit_retries", (versions.size - versions.distinct.size).toDouble)
      val crcTmp = ev.filter(e => e.op == "create" && pathClass(e.path) == "crc")
      put("log.crc_ms", published(crcTmp, "rename"))
      put("log.checkpoints", ev.count(e => e.op == "create" &&
        pathClass(e.path) == "last_checkpoint").toDouble)
      put("log.checkpoint_ms", span("checkpoint"))
      put("log.list_calls", ev.count(e => e.op == "list" && e.path.contains("/_delta_log")).toDouble)
      put("log.bytes_read", ev.filter(e => e.op == "open" && e.path.contains("/_delta_log/"))
        .map(_.bytes.toDouble).sum)

      val dlqStages = stagesOf("dlq")
      put("dlq.jobs", bj.count(j => jobCls(j.id) == "dlq").toDouble)
      put("dlq.task_cpu_ms", dlqStages.map(_.cpuMs).sum)
      put("dlq.rows", dlqStages.map(_.recordsWritten.toDouble).sum)

      val compactCommits = tableEv.count(e => e.op == "create" && phase(e) == "compact" &&
        pathClass(e.path) == "log_json")
      put("compact.runs", compactCommits.toDouble)
      put("compact.bytes_rewritten", stagedWrites.filter(evCls(_) == "compact")
        .map(_.bytes.toDouble).sum)
      put("compact.files_removed", tableEv.filter(e => e.op == "open" && e.stageId >= 0 &&
        evCls(e) == "compact" && pathClass(e.path) == "data").map(_.path).distinct.size.toDouble)

      val bStages = bj.flatMap(_.stageIds).distinct.flatMap(s => Option(jobs.stages.get(s)))
      put("spark.jobs_per_batch", bj.size.toDouble)
      put("spark.tasks_per_batch", bStages.map(_.tasks.toDouble).sum)
      put("spark.gc_ms", bStages.map(_.gcMs).sum)

      // addBatch splits into consecutive segments: planning, then each
      // layer from its first job or file operation to the next layer's,
      // and the rest after the last layer ends
      val addEnd = we - d("commitOffsets")
      val addStart = addEnd - d("addBatch")
      val firsts = Seq("append", "dlq", "compact").flatMap { cls =>
        val starts = bj.filter(j => jobCls(j.id) == cls).map(_.startMs) ++
          ev.filter(e => e.stageId < 0 && evCls(e) == cls).map(_.startMs)
        starts.minOption.map(cls -> math.max(addStart, _))
      }.sortBy(_._2)
      val lastEnd = (bj.map(_.endMs) ++ ev.filter(_.stageId < 0).map(_.endMs)).maxOption
        .getOrElse(addEnd)
      val segment = firsts.zip(firsts.drop(1).map(_._2) :+ math.min(addEnd, lastEnd)).map {
        case ((cls, s0), e0) => cls -> math.max(0.0, e0 - s0)
      }.toMap.withDefaultValue(0.0)
      val plan = firsts.headOption.map(_._2 - addStart).getOrElse(d("addBatch"))
      put("append.plan_ms", plan)
      put("append.ms", segment("append"))
      put("dlq.write_ms", segment("dlq"))
      put("compact.ms", segment("compact"))
      put("trace.unexplained_ms", d("addBatch") - plan - segment.values.sum)
      // self time: the append segment less its measured children
      val logMs = published(logJson.filter(phase(_) == "append"), "delete") +
        published(crcTmp.filter(phase(_) == "append"), "rename")
      val ckptStart = (bj.filter(j => jobCls(j.id) == "checkpoint").map(_.startMs) ++
        ev.filter(e => evCls(e) == "checkpoint").map(_.startMs)).minOption
      val ckptInAppend = firsts.find(_._1 == "append").exists { case (_, s0) =>
        ckptStart.exists(c => c >= s0 && c < s0 + segment("append")) }
      put("append.self_ms", segment("append") - jobMs("append") - out("append.moves_ms").last -
        out("append.footer_read_ms").last - logMs -
        (if (ckptInAppend) span("checkpoint") else 0.0))
    }
    FsTrace.events.clear()
    out.map { case (k, v) => k -> v.toSeq }.toMap
  }

  /** Timed readback layer: a cold snapshot, then one traced full scan. */
  def readback(tablePath: String): Map[String, Seq[Double]] = {
    val t0 = System.nanoTime()
    val table = DeltaTable.forPath(spark, tablePath)
    table.snapshot
    val snapshotMs = (System.nanoTime() - t0) / 1e6
    jobs.clear()
    FsTrace.events.clear()
    FsTrace.enabled = true
    try table.toDF.write.format("noop").mode("overwrite").save()
    finally FsTrace.enabled = false
    val reads = FsTrace.events.asScala.toSeq.filter(e => e.op == "open" && e.stageId >= 0 &&
      pathClass(e.path) == "data")
    FsTrace.events.clear()
    Map("read.snapshot_ms" -> Seq(snapshotMs),
      "read.files_scanned" -> Seq(reads.map(_.path).distinct.size.toDouble),
      "read.bytes_scanned" -> Seq(reads.map(_.bytes.toDouble).sum))
  }
}

object Tracer {
  def install(spark: SparkSession): Tracer = {
    val jobs = new JobTrace
    spark.sparkContext.addSparkListener(jobs)
    new Tracer(spark, jobs)
  }

  def unit(metric: String): String = metric match {
    case m if m.endsWith("ms") => "ms"
    case m if m.endsWith("_bytes") || m.endsWith("bytes_written") ||
      m.endsWith("bytes_read") || m.endsWith("bytes_rewritten") ||
      m.endsWith("bytes_scanned") => "bytes"
    case _ => "count"
  }
}
