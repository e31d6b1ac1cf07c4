package graft.delta

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** Fault-injecting `faulty:///` file system for specs: the local file
  * system, where every create, rename and delete first asks
  * [[FaultyFileSystem.hit]] whether to fail with an IOException. The
  * failed operation is not performed. Tasks and the driver share one
  * JVM in local mode, so Spark's own writes count too. Listings under a
  * `_delta_log` directory are counted apart ([[FaultyFileSystem.logListings]]);
  * they never fail. */
class FaultyFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = FaultyFileSystem.Uri
  override def getScheme: String = FaultyFileSystem.Scheme

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FaultyFileSystem.hit("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    FaultyFileSystem.hit("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
                                  bufferSize: Int, replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    FaultyFileSystem.hit("create", f)
    super.createNonRecursive(f, permission, overwrite, bufferSize, replication, blockSize,
      progress)
  }

  // the local statuses load their permissions through java.io.File,
  // which refuses a non-file URI: report default permissions instead
  private def plain(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
      st.getModificationTime, st.getAccessTime,
      if (st.isDirectory) FsPermission.getDirDefault else FsPermission.getFileDefault,
      "", "", st.getPath)

  override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))

  // listFiles and listLocatedStatus list through this method too
  override def listStatus(f: Path): Array[FileStatus] = {
    if (f.toUri.getPath.contains("/_delta_log")) FaultyFileSystem.listed.incrementAndGet()
    super.listStatus(f).map(plain)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    FaultyFileSystem.hit("rename", src)
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    FaultyFileSystem.hit("delete", f)
    super.delete(f, recursive)
  }
}

object FaultyFileSystem {
  val Scheme = "faulty"
  val Uri: java.net.URI = java.net.URI.create(s"$Scheme:///")

  private val ops = new AtomicLong(0L)
  private val listed = new AtomicLong(0L)
  @volatile private var failAt = -1L
  @volatile private var failWhen: (String, Path) => Boolean = (_, _) => false

  /** Route `faulty:///` through this class and commit its Delta logs with
    * the local file system's hard-link store. Idempotent. */
  def install(spark: SparkSession): Unit = {
    spark.sparkContext.hadoopConfiguration.set(s"fs.$Scheme.impl",
      classOf[FaultyFileSystem].getName)
    LogStore.register(Scheme, HardLinkLogStore)
  }

  /** `faulty:///` URI of a local absolute path. */
  def uriOf(localPath: String): String = s"$Scheme://$localPath"

  /** Restart the operation count; fail the `k`-th operation from now
    * (1-based; k <= 0 never fails). */
  def failNth(k: Long): Unit = { ops.set(0L); failAt = k }

  /** Fail every operation `p` selects, until [[reset]]. */
  def failMatching(p: (String, Path) => Boolean): Unit = failWhen = p

  def reset(): Unit = { failAt = -1L; failWhen = (_, _) => false }

  /** Operations counted since the last [[failNth]]. */
  def count: Long = ops.get

  /** Listings under any `_delta_log` directory since the last call. */
  def logListings(): Long = listed.getAndSet(0L)

  private def hit(op: String, p: Path): Unit = {
    val n = ops.incrementAndGet()
    if (n == failAt || failWhen(op, p))
      throw new java.io.IOException(s"injected fault: $op #$n of $p")
  }
}
