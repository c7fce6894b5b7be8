package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** Fault-injecting Hadoop filesystem for crash tests: the local
  * filesystem under the `crashfs:` scheme, whose N-th mutating call
  * (create, rename, delete) throws. Every mutating call after it
  * throws too, until the crash is disarmed: the process is modelled as
  * dead from the fault on, so no cleanup path tidies up after it.
  * Calls are counted across every instance (Spark's tasks reach the
  * filesystem from executor threads), and a trace of (call, path)
  * pairs names each step of an op. */
class FaultFs extends FilterFileSystem(new FaultFs.Local) {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable) = {
    FaultFs.step("create", f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable,
      checksumOpt: org.apache.hadoop.fs.Options.ChecksumOpt) = {
    FaultFs.step("create", f)
    super.create(f, permission, flags, bufferSize, replication, blockSize,
      progress, checksumOpt)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable) = {
    FaultFs.step("create", f)
    super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    FaultFs.step("rename", src)
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    FaultFs.step("delete", f)
    super.delete(f, recursive)
  }
}

object FaultFs {
  val Scheme = "crashfs"

  /** The raw local filesystem, answering to [[Scheme]]. Its statuses
    * are plain copies: the local filesystem's own status loads
    * permissions lazily through a `file:` URI, which a `crashfs:` path
    * is not. */
  private class Local extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
    override def getScheme: String = Scheme
    override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))
    override def getFileLinkStatus(f: Path): FileStatus =
      plain(super.getFileLinkStatus(f))
    override def listStatus(f: Path): Array[FileStatus] =
      super.listStatus(f).map(plain)
    private def plain(s: FileStatus): FileStatus = new FileStatus(s.getLen,
      s.isDirectory, s.getReplication, s.getBlockSize, s.getModificationTime,
      s.getPath)
  }

  private val calls = new AtomicInteger(0)
  @volatile private var failAt = Int.MaxValue
  private val trace = scala.collection.mutable.ArrayBuffer.empty[(String, String)]

  private def step(call: String, p: Path): Unit = {
    val n = calls.incrementAndGet()
    trace.synchronized { trace += ((call, Path.getPathWithoutSchemeAndAuthority(p).toString)) }
    if (n >= failAt)
      throw new java.io.IOException(s"injected crash at call $n: $call $p")
  }

  /** Make `crashfs:` paths resolvable in `spark`'s Hadoop conf. */
  def register(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$Scheme.impl", classOf[FaultFs].getName)

  /** A `crashfs:` root holding a fresh copy of the local directory
    * `src` (copied past the fault), named like `src`, alone in a new
    * temp dir. */
  def freshCopy(spark: SparkSession, src: String): String = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.getLocal(conf)
    val dst = java.nio.file.Files.createTempDirectory("graft_crash")
      .resolve(new Path(src).getName).toString
    require(FileUtil.copy(fs, new Path(src), fs, new Path(dst), false, conf),
      s"could not copy $src")
    s"$Scheme://$dst"
  }

  /** Run `op` fault-free; return the (call, path) trace of its mutating
    * calls, in order. */
  def traceOf(op: => Unit): Seq[(String, String)] = {
    trace.synchronized(trace.clear())
    calls.set(0)
    failAt = Int.MaxValue
    op
    trace.synchronized(trace.toList)
  }

  /** Run `op` with a crash injected at its `n`-th mutating call, wait
    * for the crashed job's tasks to stop, and disarm. Returns whether
    * `op` threw. */
  def crashAt(spark: SparkSession, n: Int)(op: => Unit): Boolean = {
    calls.set(0)
    failAt = n
    val threw =
      try { op; false }
      catch { case _: Exception => true }
      finally {
        val sc = spark.sparkContext
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while ((sc.statusTracker.getActiveJobIds().nonEmpty ||
            sc.statusTracker.getExecutorInfos.exists(_.numRunningTasks > 0)) &&
            System.nanoTime() < deadline)
          Thread.sleep(20)
        disarm()
      }
    threw
  }

  private def disarm(): Unit = failAt = Int.MaxValue
}
