package tsdbbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One Spark job as the listener saw it. `op` comes from the job group the
  * benchmark sets (`op-<id>`); streaming jobs carry their micro-batch id. */
final class JobRec(val id: Int, val op: Long, val batch: Long, val startMs: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** One non-empty streaming trigger, from its progress event. */
final case class Progress(batchId: Long, startMs: Long, durations: Map[String, Long]) {
  def d(k: String): Long = durations.getOrElse(k, 0L)
}

/** Catalyst phase times of one executed query, attributed to an op. */
final case class PlanTimes(op: Long, cls: String, analysis: Double, optimization: Double,
                           planning: Double)

/** Everything measured from outside the program in a traced run: a
  * SparkListener (jobs, stages, tasks), a QueryExecutionListener (Catalyst
  * phase times), a StreamingQueryListener (trigger progress). Callbacks
  * arrive on the listener thread; readers call [[drain]] first. */
final class Probe(spark: SparkSession) {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  val progress = ArrayBuffer.empty[Progress]
  val plans = ArrayBuffer.empty[PlanTimes]

  /** The op (and its class) the main thread is running; plans are
    * attributed to it. Ops run one at a time and the bus is drained between
    * them, so no event is delivered under the wrong op. */
  @volatile var currentOp: Long = 0L
  @volatile var currentClass: String = "setup"

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Probe.this.synchronized {
      val p = Option(e.properties)
      val op = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("op-")).map(_.stripPrefix("op-").toLong).getOrElse(-1L)
      val batch = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
        .map(_.toLong).getOrElse(-1L)
      jobs(e.jobId) = new JobRec(e.jobId, op, batch, e.time)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Probe.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Probe.this.synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Probe.this.synchronized {
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        j.taskMs += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          j.cpuNs += m.executorCpuTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String): Double = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      Probe.this.synchronized {
        plans += PlanTimes(currentOp, currentClass, ms("analysis"), ms("optimization"), ms("planning"))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) Probe.this.synchronized {
        progress += Progress(p.batchId, Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      }
    }
  }

  /** Attach all three listeners; must precede the streaming query's start,
    * whose session clone copies the plan listener. */
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)

  def jobsOfOp(op: Long): Seq[JobRec] = synchronized(jobs.values.filter(_.op == op).toSeq)
  def jobsOfBatch(b: Long): Seq[JobRec] = synchronized(jobs.values.filter(_.batch == b).toSeq)
}

/** Counters read from the process rather than from Spark. */
object Sys {
  /** Hadoop FileSystem write statistics of the local scheme, summed over
    * threads. */
  def fsStats(): Map[String, Long] = {
    val all = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Map("bytes_written" -> all.map(_.getBytesWritten).sum,
      "write_ops" -> all.map(_.getWriteOps.toLong).sum)
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Heap in use right after the most recent collection of each pool. */
  def heapAfterGcMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

  /** Committed heap. The heap is fixed and pre-touched (see build.py), so
    * all of it is resident from the start. */
  def heapCommittedMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0

  /** Peak resident set size (VmHWM) of this JVM. */
  def rssPeakMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Directory walk of an engine root: the storage layer as it sits on disk. */
final case class DiskUsage(dataFiles: Long, dataBytes: Long, buckets: Long,
                           wmFiles: Long, files: Map[String, Long])

object DiskUsage {
  def of(root: Path): DiskUsage = {
    if (!Files.exists(root)) return DiskUsage(0, 0, 0, 0, Map.empty)
    val files = mutable.Map.empty[String, Long]
    var buckets, wm = 0L
    val s = Files.walk(root)
    try s.iterator().asScala.foreach { p =>
      val name = p.getFileName.toString
      if (Files.isDirectory(p)) {
        if (name.startsWith("bucket=")) buckets += 1
      } else if (p.getParent.getFileName.toString == "_wm") wm += 1
      else if (name.endsWith(".parquet")) files(root.relativize(p).toString) = Files.size(p)
    } finally s.close()
    DiskUsage(files.size, files.values.sum, buckets, wm, files.toMap)
  }
}
