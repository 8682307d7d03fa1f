package graft.streaming

import java.io.IOException
import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** The local filesystem under the `fault:` scheme, for store tests.
  *
  * Calls made by a thread inside [[FaultFs.run]] (or by a thread it
  * starts, such as the store's commit pool) are counted, and the n-th one
  * can be made to fail. Spark tasks run on executor threads and are not
  * counted: the sweep covers the driver-side steps of a commit. Every
  * listing can also be slowed, which widens the windows in which a reader
  * can interleave with a commit.
  */
class FaultFs extends LocalFileSystem(new RawLocalFileSystem {
      override def getUri: URI = FaultFs.Uri
    }) {
  override def getUri: URI = FaultFs.Uri

  private def tick(): Unit = Option(FaultFs.scope.get).filter(_.active).foreach { c =>
    val n = c.calls.incrementAndGet()
    if (n == c.failAt) throw new IOException(s"injected fault at FS call $n")
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = { tick(); super.open(f, bufferSize) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    tick(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { tick(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { tick(); super.delete(f, recursive) }
  override def listStatus(f: Path): Array[FileStatus] = {
    tick()
    if (FaultFs.listDelayMs > 0) Thread.sleep(FaultFs.listDelayMs)
    super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = { tick(); super.getFileStatus(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { tick(); super.mkdirs(f, permission) }
}

object FaultFs {
  val Uri: URI = URI.create("fault:///")

  /** Map the `fault:` scheme to this class in the session's Hadoop conf. */
  def register(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set("fs.fault.impl", classOf[FaultFs].getName)

  /** A `fault:` path for a fresh local temp dir. */
  def tempDir(prefix: String): String =
    "fault://" + java.nio.file.Files.createTempDirectory(prefix).toAbsolutePath

  @volatile var listDelayMs = 0L

  final class Calls(val failAt: Long) {
    val calls = new AtomicLong
    @volatile var active = true
  }
  private val scope = new InheritableThreadLocal[Calls]

  /** Run `body`, counting its FS calls and failing the `failAt`-th; the
    * outcome and the number of calls made.
    */
  def run[T](failAt: Long = Long.MaxValue)(body: => T): (Either[Throwable, T], Long) = {
    val c = new Calls(failAt)
    scope.set(c)
    try {
      val r = try Right(body) catch { case scala.util.control.NonFatal(e) => Left(e) }
      (r, c.calls.get)
    } finally { c.active = false; scope.remove() }
  }
}
