package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.TaskContext

/** The local filesystem, counting its primitive calls per scope.
  *
  * Registered for the `file` scheme by the harness's `core-site.xml`, so
  * every `file:` path the program opens goes through it. A call is
  * attributed to the scope of the Spark task that makes it (the
  * `perfbench.scope` local property), else to the scope the harness set on
  * the calling driver thread or an ancestor of it, else to "other". Each
  * thread also keeps its own total, for calls timed on one thread while
  * other threads run the same scope.
  */
class CountingFs extends LocalFileSystem {
  private def tick(): Unit = {
    CountingFs.count(CountingFs.scope)
    CountingFs.mine.get()(0) += 1
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = { tick(); super.open(f, bufferSize) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    tick(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { tick(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { tick(); super.delete(f, recursive) }
  override def listStatus(f: Path): Array[FileStatus] = { tick(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { tick(); super.getFileStatus(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { tick(); super.mkdirs(f, permission) }
}

object CountingFs {
  private val counts = new ConcurrentHashMap[String, AtomicLong]()
  private val threadScope = new InheritableThreadLocal[String]
  private val mine = ThreadLocal.withInitial[Array[Long]](() => new Array[Long](1))

  def threadCalls: Long = mine.get()(0)

  def scope: String = {
    val tc = TaskContext.get()
    val fromTask = if (tc == null) null else tc.getLocalProperty(Traced.ScopeKey)
    if (fromTask != null) fromTask
    else Option(threadScope.get).getOrElse("other")
  }

  def count(s: String): Unit = counts.computeIfAbsent(s, _ => new AtomicLong).incrementAndGet()

  def calls(s: String): Long = Option(counts.get(s)).map(_.get).getOrElse(0L)

  /** Run `body` with FS calls of this thread (and threads it starts)
    * attributed to `s`.
    */
  def within[T](s: String)(body: => T): T = {
    val prev = threadScope.get
    threadScope.set(s)
    try body finally threadScope.set(prev)
  }
}
