package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

/** The local filesystem under its own scheme, `countfs:///<local path>`,
  * counting the `listStatus` calls made on the driver (calls from inside a
  * Spark task are not counted). A root opened under this scheme measures
  * what an op asks of the store, one call at a time. */
class CountingFs extends RawLocalFileSystem {
  override def getUri: URI = CountingFs.Uri
  override def getScheme: String = CountingFs.Scheme

  override def listStatus(f: Path): Array[FileStatus] = {
    if (TaskContext.get() == null) CountingFs.driverListStatus.incrementAndGet()
    super.listStatus(f)
  }
}

/** The same filesystem for `FileContext` (used for the engine's renames). */
class CountingAbstractFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new CountingFs, conf, CountingFs.Scheme, false)

object CountingFs {
  val Scheme = "countfs"
  val Uri: URI = URI.create(s"$Scheme:///")
  val driverListStatus = new AtomicLong()

  /** Registers the scheme with the session's Hadoop configuration; a
    * `Tsdb` built after this call may be rooted at [[path]]. */
  def register(spark: SparkSession): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set(s"fs.$Scheme.impl", classOf[CountingFs].getName)
    hc.set(s"fs.AbstractFileSystem.$Scheme.impl", classOf[CountingAbstractFs].getName)
  }

  def path(localDir: String): String = s"$Scheme://$localDir"

  /** Driver-side `listStatus` calls made by `body`. */
  def listStatusOf[A](body: => A): (Long, A) = {
    val before = driverListStatus.get()
    val out = body
    (driverListStatus.get() - before, out)
  }
}
