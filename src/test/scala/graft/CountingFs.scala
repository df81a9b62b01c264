package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession

import java.net.URI
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicReference

/** The local filesystem under its own scheme, `countfs:///<local path>`,
  * recording the `listStatus`, `create`, `rename` and `delete` calls made
  * on the driver (calls from inside a Spark task are not recorded). A root
  * opened under this scheme measures what an op asks of the store, one
  * call at a time. */
class CountingFs extends RawLocalFileSystem {
  override def getUri: URI = CountingFs.Uri
  override def getScheme: String = CountingFs.Scheme

  override def listStatus(f: Path): Array[FileStatus] = {
    CountingFs.record("listStatus", f)
    super.listStatus(f)
  }

  /** The overload `FileSystem.create(Path, boolean)` and parquet's file
    * writer reach. */
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    CountingFs.record("create", f)
    CountingFs.injectFault(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  /** Also reached by `FileContext.rename`, through [[CountingAbstractFs]]. */
  override def rename(src: Path, dst: Path): Boolean = {
    CountingFs.record("rename", dst)
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    CountingFs.record("delete", f)
    super.delete(f, recursive)
  }
}

/** The same filesystem for `FileContext` (used for the engine's renames). */
class CountingAbstractFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new CountingFs, conf, CountingFs.Scheme, false)

object CountingFs {
  val Scheme = "countfs"
  val Uri: URI = URI.create(s"$Scheme:///")

  /** One driver-side call: the operation and the path it named (the
    * destination, for a rename). */
  final case class Call(op: String, path: Path)

  private val driverCalls = new ConcurrentLinkedQueue[Call]()

  private def record(op: String, p: Path): Unit =
    if (TaskContext.get() == null) driverCalls.add(Call(op, p))

  private val createFault = new AtomicReference[Path => Boolean]()

  /** Arms a one-shot fault: the next `create` of a path `hit` accepts, on
    * the driver or in a task, throws an `IOException` (a failed write). */
  def failNextCreate(hit: Path => Boolean): Unit = createFault.set(hit)

  private def injectFault(p: Path): Unit = {
    val hit = createFault.get()
    if (hit != null && hit(p) && createFault.compareAndSet(hit, null))
      throw new java.io.IOException(s"injected create failure: $p")
  }

  /** Registers the scheme with the session's Hadoop configuration; a
    * `Tsdb` built after this call may be rooted at [[path]]. */
  def register(spark: SparkSession): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set(s"fs.$Scheme.impl", classOf[CountingFs].getName)
    hc.set(s"fs.AbstractFileSystem.$Scheme.impl", classOf[CountingAbstractFs].getName)
  }

  def path(localDir: String): String = s"$Scheme://$localDir"

  /** Driver-side calls made by `body`, in call order. */
  def callsOf[A](body: => A): (Seq[Call], A) = {
    driverCalls.clear()
    val out = body
    val calls = Iterator.continually(driverCalls.poll()).takeWhile(_ != null).toSeq
    (calls, out)
  }

  /** Driver-side `listStatus` calls made by `body`. */
  def listStatusOf[A](body: => A): (Long, A) = {
    val (calls, out) = callsOf(body)
    (calls.count(_.op == "listStatus").toLong, out)
  }
}
