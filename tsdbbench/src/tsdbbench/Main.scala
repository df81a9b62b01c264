package tsdbbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** What one workload run hands back: end-to-end metrics (tracing off),
  * per-layer metrics (tracing on) and a report of every named figure. */
final case class Outcome(endToEnd: Map[String, Metric], perLayer: Map[String, Double],
                         report: Map[String, Any])

/** Shared state of one run: the session, the seed, the ledger, and the
  * optional trace and probe. [[op]] is the one way a workload issues a
  * timed operation. */
final class Env(val spark: SparkSession, val work: Path, val seed: Long, val seconds: Double,
                val trace: Trace, val probe: Option[Probe], val ledger: Ledger,
                val dataDir: Path, val sessionS: Double) {
  val cores: Int = spark.sparkContext.defaultParallelism
  def traced: Boolean = trace.on
  /** Per-layer samples measured beside the ops (traced runs only). */
  val layer = mutable.Map.empty[String, ArrayBuffer[Double]]
  def sample(name: String, v: Double): Unit = layer.getOrElseUpdate(name, ArrayBuffer.empty) += v
  def layerMedian(name: String): Double = Stats.medianOr0(layer.getOrElse(name, Nil).toSeq)

  /** `setup_s`: JVM and session start (paid once per run) plus the median
    * of the repeated set-ups (generation and load), and its parts. */
  def setup(reps: Seq[Double]): (Double, Map[String, Any]) = {
    val s = sessionS + Stats.median(reps)
    (s, Map("setup_s" -> s, "session_start_s" -> sessionS, "setup_runs_s" -> reps))
  }

  /** Run one operation of kind `kind` (class `cls` for plan attribution):
    * job group `op-<id>`, a root span, wall-clock timing, failure
    * accounting; in a traced run, the listener bus is drained afterwards. */
  def op[A](kind: String, cls: String)(body: Long => A): (Long, Option[A]) = {
    val id = ledger.newOp()
    probe.foreach { p => p.currentOp = id; p.currentClass = cls }
    spark.sparkContext.setJobGroup(s"op-$id", kind, interruptOnCancel = false)
    val r = try ledger.timed(id, kind)(trace.span(id, kind, "bench")(body(id)))
    finally spark.sparkContext.clearJobGroup()
    probe.foreach { p =>
      p.drain()
      p.currentClass = "idle"
      // each job of the op hangs under the innermost span that started
      // before it (the engine call or the action); streaming jobs are
      // placed by the ingest workload under their trigger
      trace.rootOf(id).foreach { root =>
        val inner = trace.spans.filter(s => s.op == id && s.parent == root.id)
        p.jobsOfOp(id).filter(_.endMs >= 0).foreach { j =>
          val s0 = trace.epochMsToNs(j.startMs)
          val parent = inner.find(s => s.startNs <= s0 && s0 <= s.endNs).getOrElse(root)
          trace.add(parent.id, id, s"job ${j.id}", "spark.job", s0, trace.epochMsToNs(j.endMs))
        }
      }
    }
    (id, r)
  }

  /** Seconds since `t0Ns`. */
  def since(t0Ns: Long): Double = (System.nanoTime() - t0Ns) / 1e9

  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally s.close()
  }
}

object Main {
  private val started = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(f"[tsdbbench ${(System.nanoTime() - started) / 1e9}%7.1fs] $msg")

  val Workloads = Seq("live_ingest", "curate_batch")
  val SetupReps = 3

  /** Session config shared with `graft.Bench` / `graft.Verify`. It is also
    * the flush policy: output commits through the v2 committer with no
    * `_SUCCESS` marker on the raw local filesystem (no checksum files, no
    * fsync), and streaming checkpoints skip their checksum files. */
  val SessionConf: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "2",
    "spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false",
    "spark.hadoop.fs.file.impl" -> "org.apache.hadoop.fs.RawLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> "org.apache.hadoop.fs.local.RawLocalFs",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false")

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val b = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    val s = SessionConf.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--print-oracle")) {
      print(graft.SparkEntry.oracleSql(args(1)))
      return
    }
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work required"))).toAbsolutePath
    Files.createDirectories(work)
    if (args.headOption.contains("--selftest")) {
      sys.exit(SelfTest.run(work, Paths.get(arg(args, "--data").get)))
    }
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload required"))
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val out = Paths.get(arg(args, "--out").getOrElse(sys.error("--out required")))
    val dataDir = Paths.get(arg(args, "--data").getOrElse(sys.error("--data required")))
    val golden = arg(args, "--golden")

    val spark = session(work)
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    log("session up")
    val probe = if (traced) Some(new Probe(spark)) else None
    probe.foreach(_.attach())
    val env = new Env(spark, work, seed, seconds, new Trace(traced), probe, new Ledger, dataDir, sessionS)
    val o = workload match {
      case "live_ingest" => LiveIngest.run(env)
      case "curate_batch" => CurateBatch.run(env, golden.map(Paths.get(_)))
    }
    log("workload done")
    val result = Map(
      "correct" -> (env.ledger.failed == 0),
      "attempted" -> env.ledger.attempted,
      "failed" -> env.ledger.failed,
      "metrics" -> (if (traced) o.perLayer.map { case (k, v) => k -> Map("value" -> v, "unit" -> PerLayer.unit(k)) }
                    else o.endToEnd.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) }),
      "report" -> (o.report + ("op_ms_p50" -> o.endToEnd("op_ms_p50").value) +
        ("samples_ms" -> env.ledger.samples.groupBy(_.kind).map { case (k, ss) =>
          k -> ss.map(s => math.rint(s.ms * 10) / 10) })),
      "session_conf" -> SessionConf.toMap,
      "errors" -> env.ledger.errors.take(20))
    if (traced) {
      val base = out.getParent.resolve(s"$workload-seed$seed")
      env.trace.write(Paths.get(base.toString + ".spans.jsonl"))
      Files.write(Paths.get(base.toString + ".layers.json"),
        Json(env.trace.layerSummary()).getBytes(StandardCharsets.UTF_8))
    }
    Files.write(out, Json(result).getBytes(StandardCharsets.UTF_8))
    log("result written")
    spark.stop()
    log("session stopped")
    // exit now rather than wait on any non-daemon thread a library left behind
    sys.exit(0)
  }
}

/** The per-layer metric set: every traced run emits all of them; a layer a
  * workload leaves idle reads 0. */
object PerLayer {
  val ReadOps = Seq("zoom", "sum_windows", "select_last", "count", "zoom_all", "sum_windows_all")
  val PlanClasses = Seq("ingest", "read", "maintenance", "curate")

  val units: Seq[(String, String)] = Seq(
    "streaming.trigger_ms_p50" -> "ms", "streaming.add_batch_ms_p50" -> "ms",
    "streaming.overhead_ms_p50" -> "ms", "streaming.pickup_wait_ms_p50" -> "ms",
    "engine.write.jobs_per_batch" -> "count", "engine.write.tasks_per_batch" -> "count",
    "engine.write.files_per_batch" -> "count", "engine.write.bytes_per_batch" -> "B",
    "engine.write.replay_batch_ms_p50" -> "ms",
    "engine.watermark.load_ms_p50" -> "ms", "engine.watermark.files" -> "count") ++
    ReadOps.flatMap(o => Seq(
      s"engine.read.$o.driver_ms_p50" -> "ms", s"engine.read.$o.exec_ms_p50" -> "ms",
      s"engine.read.$o.files_per_panel" -> "count",
      s"engine.read.$o.rows_scanned_per_row_returned" -> "ratio")) ++ Seq(
    "engine.maintenance.compact_ms_p50" -> "ms", "engine.maintenance.buckets_rewritten" -> "count",
    "engine.maintenance.bytes_rewritten" -> "B", "engine.maintenance.retention_ms_p50" -> "ms",
    "engine.maintenance.series_advanced" -> "count",
    "ops.timeseries.sum_windows_ms_p50" -> "ms",
    "ops.curate.jobs" -> "count", "ops.curate.stages" -> "count",
    "ops.curate.task_cpu_ms" -> "ms", "ops.curate.shuffle_bytes" -> "B",
    "ops.curate.spill_bytes" -> "B") ++
    PlanClasses.flatMap(c => Seq(s"spark.plan.$c.analysis_ms" -> "ms",
      s"spark.plan.$c.optimization_ms" -> "ms", s"spark.plan.$c.planning_ms" -> "ms")) ++ Seq(
    "spark.exec.jobs_per_op" -> "count", "spark.exec.tasks_per_op" -> "count",
    "spark.exec.busy_ratio" -> "ratio", "spark.exec.driver_gap_ms" -> "ms",
    "storage.files_total" -> "count", "storage.files_per_bucket_mean" -> "count",
    "storage.bytes_total" -> "B", "storage.bytes_per_point" -> "B",
    "storage.fs_write_ops" -> "count", "storage.fs_bytes_written" -> "B",
    "jvm.gc_ms" -> "ms", "jvm.heap_after_gc_mb" -> "MB")

  private val unitOf = units.toMap
  def unit(name: String): String = unitOf(name)

  /** Files and rows read by the file scans of an executed DataFrame. */
  def scanStats(df: DataFrame): (Long, Long) = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other +: (other.children.flatMap(walk) ++ other.subqueries.flatMap(walk))
    }
    val scans = walk(df.queryExecution.executedPlan).collect { case s: FileSourceScanExec => s }
    def m(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
    (scans.map(m(_, "numFiles")).sum, scans.map(m(_, "numOutputRows")).sum)
  }

  /** Timed ops of a set of kinds with the Spark jobs attributed to each. */
  def common(env: Env, kinds: Set[String], extraJobs: Long => Seq[JobRec],
             gc0: Long, fs0: Map[String, Long]): Map[String, Double] = {
    val p = env.probe.get
    val ops = env.ledger.samples.filter(s => kinds(s.kind)).map(_.op).toSeq
    val jobsOf = ops.map(o => o -> (p.jobsOfOp(o) ++ extraJobs(o)).distinctBy(_.id)).toMap
    val roots = ops.flatMap(o => env.trace.rootOf(o).map(o -> _)).toMap
    val gaps = ops.flatMap { o => roots.get(o).map { r =>
      val covered = Trace.union(jobsOf(o).filter(_.endMs >= 0).map(j =>
        (math.max(env.trace.epochMsToNs(j.startMs), r.startNs),
         math.min(env.trace.epochMsToNs(j.endMs), r.endNs))).filter(x => x._2 > x._1))
      (r.endNs - r.startNs - covered) / 1e6
    }}
    val wallMs = roots.values.map(_.ms).sum
    val taskMs = jobsOf.values.flatten.map(_.taskMs).sum.toDouble
    val timed = ops.toSet
    val plans = PlanClasses.flatMap { c =>
      val perOp = p.plans.filter(x => x.cls == c && timed(x.op)).groupBy(_.op).values.toSeq
      def med(f: PlanTimes => Double) = Stats.medianOr0(perOp.map(_.map(f).sum))
      Seq(s"spark.plan.$c.analysis_ms" -> med(_.analysis),
        s"spark.plan.$c.optimization_ms" -> med(_.optimization),
        s"spark.plan.$c.planning_ms" -> med(_.planning))
    }
    val fs1 = Sys.fsStats()
    Map(
      "spark.exec.jobs_per_op" -> Stats.medianOr0(ops.map(o => jobsOf(o).size.toDouble)),
      "spark.exec.tasks_per_op" -> Stats.medianOr0(ops.map(o => jobsOf(o).map(_.tasks).sum.toDouble)),
      "spark.exec.busy_ratio" -> (if (wallMs > 0) taskMs / (wallMs * env.cores) else 0.0),
      "spark.exec.driver_gap_ms" -> Stats.medianOr0(gaps),
      "storage.fs_write_ops" -> (fs1("write_ops") - fs0("write_ops")).toDouble,
      "storage.fs_bytes_written" -> (fs1("bytes_written") - fs0("bytes_written")).toDouble,
      "jvm.gc_ms" -> (Sys.gcMs() - gc0).toDouble,
      "jvm.heap_after_gc_mb" -> Sys.heapAfterGcMb()) ++ plans
  }

  /** Fill every name: layers this workload did not touch read 0. */
  def complete(m: Map[String, Double]): Map[String, Double] = {
    val unknown = m.keySet -- unitOf.keySet
    require(unknown.isEmpty, s"per-layer metrics without a unit: $unknown")
    units.map { case (k, _) => k -> m.getOrElse(k, 0.0) }.toMap
  }
}
