package tsdbbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom
import graft.engine.Tsdb
import graft.ops.TimeSeriesOps
import graft.streaming.StreamingIngest
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.sql.streaming.Trigger
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

/** What must be visible after every write, replay, late point and
  * retention cut, per series. */
final class FleetModel {
  private val ts = mutable.Map.empty[String, java.util.TreeSet[java.lang.Long]]
  private val range = mutable.Map.empty[String, (Long, Long)]

  def series: Seq[String] = ts.keys.toSeq.sorted
  def rangeOf(s: String): (Long, Long) = range(s)
  def count(s: String): Long = ts(s).size.toLong
  def total: Long = ts.values.map(_.size.toLong).sum
  /** Stored timestamps of `s` in [t0, t1], ascending. */
  def times(s: String, t0: Long, t1: Long): IndexedSeq[Long] =
    ts(s).subSet(t0, true, t1, true).asScala.iterator.map(_.longValue).toIndexedSeq

  /** Validated append: below `time_first` is discarded, inside the stored
    * range is an overwrite that must match, above it appends.
    * @return points that became visible. */
  def write(pts: Seq[Point]): Long = {
    var written = 0L
    pts.groupBy(_.series).foreach { case (s, ps) =>
      val set = ts.getOrElseUpdate(s, new java.util.TreeSet[java.lang.Long]())
      val (tf, tl) = range.getOrElse(s, (Long.MinValue, Long.MinValue))
      val fresh = ps.filter(_.t > tl)
      require(ps.forall(p => p.t < tf || p.t > tl || set.contains(p.t)),
        s"model: overwrite of $s outside its stored points")
      fresh.foreach(p => set.add(p.t))
      written += fresh.size
      if (fresh.nonEmpty)
        range(s) = (if (tf == Long.MinValue) fresh.map(_.t).min else tf, fresh.map(_.t).max)
    }
    written
  }

  /** `DELETE WHERE time_ns <= t` on every series at or past its
    * `time_first`. @return the new `time_first` of each affected series. */
  def retention(t: Long): Map[String, Long] =
    range.toSeq.collect { case (s, (tf, tl)) if t >= tf =>
      val set = ts(s)
      set.headSet(t, true).clear()
      val nf = if (set.isEmpty) t + 1 else set.first.longValue
      range(s) = (nf, tl)
      s -> nf
    }.toMap

  /** Rows a zoom over [t0, t1] returns: raw points, or non-empty windows. */
  def zoomRows(s: String, t0: Long, t1: Long, maxDp: Int): Long = {
    val pts = times(s, t0, t1)
    if (pts.size <= maxDp) pts.size.toLong
    else {
      val w = (t1 - t0 + 1 + maxDp - 1) / maxDp
      pts.map(t => t - Math.floorMod(t, w)).toSet.size.toLong
    }
  }
}

/** Live ingest: a sensor fleet streams one simulated minute per file into a
  * long-running `StreamingIngest` query, with re-delivered files, late
  * points, a live-tail dashboard (every read op) and periodic
  * compaction + retention. */
object LiveIngest {
  val TailEvery = 4
  val MaintEvery = 4
  val CompactSubset = 5
  val TailNs: Long = 15 * Fleet.MinNs
  val TailMaxDp = 100
  val TailWindowNs: Long = Fleet.MinNs
  val TailLast = 100
  /** The tail dashboard: one panel of each read op. */
  val TailKinds: Set[String] = PerLayer.ReadOps.map("tail." + _).toSet
  val TriggerMs = 50L
  /** Blocks a run times at the least, however short `--seconds` is. */
  val MinBlocks = 2

  /** Write each non-replay batch as one parquet file under `stage/batch=<i>`. */
  private def stage(spark: SparkSession, plan: Seq[LiveBatch], dir: Path): Unit = {
    val rows = plan.filterNot(_.replay).flatMap(b => b.points.map(p =>
      Row(p.series, p.t, p.temp, p.hum, p.cnt, p.ok, b.index)))
    // one file per batch: all rows of a batch land in one task
    spark.createDataFrame(rows.asJava, Fleet.RowSchema.add("batch", IntegerType))
      .repartition(col("batch")).write.partitionBy("batch").parquet(dir.toString)
  }

  private def stagedFile(stageDir: Path, i: Int): Path = {
    val s = Files.list(stageDir.resolve(s"batch=$i"))
    try s.iterator().asScala.find(_.toString.endsWith(".parquet")).get finally s.close()
  }

  def run(env: Env): Outcome = {
    val spark = env.spark
    val nBatches = 2 + LivePlan.ReplayBlock * (MinBlocks + 1 + (env.seconds / 6).toInt)
    spark.sparkContext.setJobGroup("setup", "setup", interruptOnCancel = false)
    val setups = (0 until Main.SetupReps).map { rep =>
      val dir = env.work.resolve(s"live-$rep")
      env.rmrf(dir)
      val t0 = System.nanoTime()
      val hist = LivePlan.history(env.seed)
      val plan = LivePlan.batches(env.seed, nBatches)
      val tsdb = new Tsdb(spark, dir.resolve("root").toString, Fleet.HourNs)
      tsdb.createDatabase(Fleet.Db)
      tsdb.createMeasurement(Fleet.Db, Fleet.M, Fleet.Schema)
      // cached: the engine's bulk load makes several passes over its input
      val frame = Fleet.frame(spark, hist).cache()
      frame.count()
      tsdb.bulkLoad(Fleet.Db, Fleet.M, frame)
      frame.unpersist()
      stage(spark, plan, dir.resolve("stage"))
      val secs = env.since(t0)
      if (rep < Main.SetupReps - 1) env.rmrf(dir)
      (secs, dir, hist, plan, tsdb)
    }
    spark.sparkContext.clearJobGroup()
    Main.log(s"setup done: ${setups.map(_._1)}")
    val (_, dir, hist, plan, tsdb) = setups.last
    val root = dir.resolve("root")
    val model = new FleetModel
    model.write(hist)

    val src = Files.createDirectories(dir.resolve("src"))
    val tmp = Files.createDirectories(dir.resolve("tmp"))
    val query = StreamingIngest.start(tsdb, Fleet.Db, Fleet.M,
      spark.readStream.schema(Fleet.RowSchema).option("maxFilesPerTrigger", "1").parquet(src.toString),
      "series", dir.resolve("ckpt").toString, Trigger.ProcessingTime(TriggerMs))

    val rng = new SplittableRandom(env.seed ^ 0x7A11L)
    var lastDropped: Path = null
    var lastBatch: LiveBatch = null
    var cycle = 0
    val written = mutable.Map.empty[Long, Long]
    val replayOps = mutable.Set.empty[Long]
    val dropMs = mutable.Map.empty[Long, Long]
    val batchesOf = mutable.Map.empty[Long, Seq[Long]]
    var progressSeen = 0

    def ingest(b: LiveBatch, kind: String): Unit = {
      val target = src.resolve(f"b${b.index}%05d.parquet")
      val file =
        if (b.replay) Files.copy(lastDropped, tmp.resolve(target.getFileName))
        else stagedFile(dir.resolve("stage"), b.index)
      val before = if (env.traced) Some(DiskUsage.of(root)) else None
      val (op, r) = env.op(kind, "ingest") { id =>
        Files.move(file, target, StandardCopyOption.ATOMIC_MOVE)
        dropMs(id) = System.currentTimeMillis()
        query.processAllAvailable()
      }
      lastDropped = target
      lastBatch = b
      written(op) = model.write(b.points)
      if (b.replay) replayOps += op
      env.probe.foreach { p =>
        val fresh = p.synchronized(p.progress.drop(progressSeen).toSeq)
        progressSeen += fresh.size
        batchesOf(op) = fresh.map(_.batchId)
        if (r.isDefined && kind == "ingest" && !b.replay) {
          fresh.foreach(pr => env.sample("stream.pickup_wait_ms", (pr.startMs - dropMs(op)).toDouble))
          val after = DiskUsage.of(root)
          val added = after.files.keySet -- before.get.files.keySet
          env.sample("write.files", added.size.toDouble)
          env.sample("write.bytes", added.toSeq.map(after.files).sum.toDouble)
          val jobs = fresh.flatMap(pr => p.jobsOfBatch(pr.batchId))
          env.sample("write.jobs", jobs.size.toDouble)
          env.sample("write.tasks", jobs.map(_.tasks).sum.toDouble)
          fresh.foreach { pr =>
            env.sample("stream.trigger_ms", pr.d("triggerExecution").toDouble)
            env.sample("stream.add_batch_ms", pr.d("addBatch").toDouble)
            env.sample("stream.overhead_ms", (pr.d("triggerExecution") - pr.d("addBatch")).toDouble)
          }
        }
        // streaming triggers and their jobs hang under the ingest op's span
        env.trace.rootOf(op).foreach { rootSpan =>
          fresh.foreach { pr =>
            val s0 = env.trace.epochMsToNs(pr.startMs)
            val trig = env.trace.add(rootSpan.id, op, s"trigger ${pr.batchId}", "streaming",
              s0, s0 + pr.d("triggerExecution") * 1000000L)
            p.jobsOfBatch(pr.batchId).filter(_.endMs >= 0).foreach(j =>
              env.trace.add(trig, op, s"job ${j.id}", "spark.job",
                env.trace.epochMsToNs(j.startMs), env.trace.epochMsToNs(j.endMs)))
          }
        }
      }
    }

    /** Live-tail dashboard over the last 15 min: each read op once, on a
      * seeded series or the whole fleet, checked against the model. */
    def tail(prefix: String): Unit = {
      import Fleet.{Db, M}
      val now = LivePlan.nowOf(lastBatch)
      val t0 = now - TailNs + 1
      val s = Fleet.seriesName(rng.nextInt(LivePlan.Series))
      val pts = model.times(s, t0, now)
      def panel(readOp: String, what: String)(call: => DataFrame)(ok: Array[Row] => Boolean): Unit = {
        val (op, r) = Panels.run(env, tsdb, readOp, s"$prefix.$readOp")(call)
        r.foreach(rows => env.ledger.check(op, s"tail $readOp of $what")(ok(rows)))
      }
      def nSum(rows: Array[Row]): Long = rows.map(_.getAs[Long]("n")).sum
      panel("zoom", s)(tsdb.zoom(Db, M, s, "temp", t0, now, TailMaxDp))(
        _.length == model.zoomRows(s, t0, now, TailMaxDp))
      panel("sum_windows", s)(tsdb.sumWindows(Db, M, s, "temp", t0, now, TailWindowNs)) { rows =>
        val w0 = TimeSeriesOps.firstWindowStart(t0, TailWindowNs)
        val nW = TimeSeriesOps.numWindows(t0, now, TailWindowNs)
        rows.length == nW && nSum(rows) == model.times(s, w0, w0 + nW * TailWindowNs - 1).size
      }
      if (env.traced && prefix == "tail") {
        // the same windows over a cached in-memory copy: the kernel alone
        val cached = tsdb.select(Db, M, s, Seq("temp"), t0, now).cache()
        cached.count()
        val k0 = System.nanoTime()
        TimeSeriesOps.sumWindows(cached, "time_ns", "temp", t0, now, TailWindowNs).collect()
        env.sample("ts.sum_windows_ms", (System.nanoTime() - k0) / 1e6)
        cached.unpersist()
      }
      panel("select_last", s)(tsdb.select(Db, M, s, Seq("temp", "hum"), t0, now, last = Some(TailLast)))(
        _.map(_.getLong(0)).toSeq == pts.takeRight(TailLast))
      panel("count", s)(tsdb.countPoints(Db, M, s, t0, now)) { rows =>
        rows.length == 1 && rows(0).getLong(0) == pts.size &&
          rows(0).getLong(1) == pts.head && rows(0).getLong(2) == pts.last
      }
      panel("zoom_all", "the fleet")(tsdb.zoomAll(Db, M, "temp", t0, now, TailMaxDp))(
        _.length == model.series.map(x => model.zoomRows(x, t0, now, TailMaxDp)).sum)
      panel("sum_windows_all", "the fleet")(tsdb.sumWindowsAll(Db, M, "temp", t0, now, TailWindowNs))(
        nSum(_) == model.series.map(x => model.times(x, t0, now).size.toLong).sum)
    }

    def maintain(kind: String): Unit = {
      val subset = (0 until CompactSubset).map(i =>
        Fleet.seriesName((cycle * CompactSubset + i) % LivePlan.Series))
      cycle += 1
      val horizon = LivePlan.nowOf(lastBatch) - LivePlan.RetainNs
      val before = if (env.traced) Some(DiskUsage.of(root)) else None
      var rewritten = 0L
      var cut = Map.empty[String, Long]
      var compactNs, retentionNs = 0L
      val (op, r) = env.op(kind, "maintenance") { id =>
        val t0 = System.nanoTime()
        rewritten = env.trace.span(id, "engine.compact", "engine")(
          subset.map(s => tsdb.compact(Fleet.Db, Fleet.M, s)).sum)
        val t1 = System.nanoTime()
        cut = env.trace.span(id, "engine.retention", "engine")(
          tsdb.applyRetention(Fleet.Db, Fleet.M, horizon))
        compactNs = t1 - t0
        retentionNs = System.nanoTime() - t1
      }
      val expected = model.retention(horizon)
      if (r.isDefined) {
        env.ledger.check(op, "retention watermarks match the model")(cut == expected)
        if (env.traced && kind == "maintenance") {
          val after = DiskUsage.of(root)
          val added = after.files.keySet -- before.get.files.keySet
          env.sample("maint.compact_ms", compactNs / 1e6)
          env.sample("maint.retention_ms", retentionNs / 1e6)
          env.sample("maint.buckets", rewritten.toDouble)
          env.sample("maint.bytes", added.toSeq.map(after.files).sum.toDouble)
          env.sample("maint.series", cut.size.toDouble)
        }
      }
    }

    // warm-up: every op class once, untimed (a fresh batch, a replay, both
    // tail panels, one maintenance cycle)
    ingest(plan(0), "warmup.ingest")
    ingest(plan(1), "warmup.ingest")
    tail("warmup.tail")
    maintain("warmup.maintenance")

    Main.log("warm-up done")
    val gc0 = Sys.gcMs()
    val fs0 = Sys.fsStats()
    val t0 = System.nanoTime()
    // whole blocks of batches, so every run times the same share of
    // replays, tail reads and maintenance cycles
    var i = 2
    def blocks = (i - 2) / LivePlan.ReplayBlock
    while (blocks < MinBlocks || (env.since(t0) < env.seconds && i + LivePlan.ReplayBlock <= plan.size)) {
      (i until i + LivePlan.ReplayBlock).foreach { j =>
        ingest(plan(j), "ingest")
        val n = j - 1
        if (n % TailEvery == TailEvery / 2) tail("tail")
        if (n % MaintEvery == 0) maintain("maintenance")
      }
      i += LivePlan.ReplayBlock
    }
    val measuredS = env.since(t0)
    Main.log(s"measured ${measuredS}s")
    val layerCommon = env.probe.map(p => PerLayer.common(env,
      Set("ingest", "maintenance") ++ TailKinds,
      op => batchesOf.getOrElse(op, Nil).flatMap(p.jobsOfBatch), gc0, fs0))
    query.stop()

    // end state, read back through a freshly opened engine
    val fresh = new Tsdb(spark, root.toString)
    env.ledger.finalCheck("series list after reopen")(
      fresh.listSeries(Fleet.Db, Fleet.M) == model.series)
    env.ledger.finalCheck("seriesRange and countPoints of every series after reopen") {
      // four client threads: the per-series count jobs are independent
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      val bad = try Await.result(Future.sequence(model.series.map { s => Future {
        val (tf, tl) = model.rangeOf(s)
        val r = fresh.countPoints(Fleet.Db, Fleet.M, s, 0L, Long.MaxValue).head()
        val ok = fresh.seriesRange(Fleet.Db, Fleet.M, s).contains(graft.engine.SeriesRange(tf, tl)) &&
          r.getLong(0) == model.count(s) && r.getLong(1) == tf && r.getLong(2) == tl
        if (ok) None else Some(s)
      }}), Duration.Inf).flatten finally pool.shutdown()
      bad.foreach(s => env.ledger.errors += s"final state of $s differs from the model")
      bad.isEmpty
    }

    val ingestOps = env.ledger.samples.filter(_.kind == "ingest")
    val ingestMs = ingestOps.map(_.ms).toSeq
    val newPoints = ingestOps.map(s => written.getOrElse(s.op, 0L)).sum
    // over the whole measured loop, so tail reads and maintenance count too
    val loopPointsPerS = newPoints / measuredS
    val ingestPointsPerS = newPoints / math.max(1e-9, ingestMs.sum / 1000)
    val tailMs = env.ledger.ms(TailKinds)
    val maintMs = env.ledger.ms("maintenance")
    val storage = Panels.storageMetrics(root, model.total)
    val (setupS, setupReport) = env.setup(setups.map(_._1))
    val rss = Sys.rssPeakMb()
    val offHeap = rss - Sys.heapCommittedMb()
    val endToEnd = Map(
      "setup_s" -> Metric(setupS, "s"),
      "work_per_s" -> Metric(loopPointsPerS, "1/s"),
      "op_ms_p50" -> Metric(Stats.median(ingestMs), "ms"),
      "rss_offheap_peak_mb" -> Metric(offHeap, "MB"))
    val report = setupReport ++ Map(
      "loop_points_per_s" -> loopPointsPerS,
      "ingest_points_per_s" -> ingestPointsPerS,
      "ingest_visible_ms_p50" -> Stats.median(ingestMs),
      "ingest_visible_ms_p90" -> Stats.p90(ingestMs),
      "ingest_batches" -> ingestMs.size,
      "replay_batches" -> ingestOps.count(s => replayOps(s.op)),
      "tail_read_ms_p50" -> Stats.medianOr0(tailMs), "tail_reads" -> tailMs.size,
      "maintenance_ms_p50" -> Stats.medianOr0(maintMs), "maintenance_cycles" -> maintMs.size,
      "stored_bytes_per_point" -> storage("storage.bytes_per_point"),
      "rss_peak_mb" -> rss, "rss_offheap_peak_mb" -> offHeap,
      "op_error_rate" -> env.ledger.failed.toDouble / math.max(1L, env.ledger.attempted),
      "measured_s" -> measuredS)
    val perLayer = layerCommon.map { c =>
      val replayMs = ingestOps.filter(s => replayOps(s.op)).map(_.ms).toSeq
      PerLayer.complete(c ++ Panels.layerMetrics(env) ++ storage ++ Map(
        "streaming.trigger_ms_p50" -> env.layerMedian("stream.trigger_ms"),
        "streaming.add_batch_ms_p50" -> env.layerMedian("stream.add_batch_ms"),
        "streaming.overhead_ms_p50" -> env.layerMedian("stream.overhead_ms"),
        "streaming.pickup_wait_ms_p50" -> env.layerMedian("stream.pickup_wait_ms"),
        "engine.write.jobs_per_batch" -> env.layerMedian("write.jobs"),
        "engine.write.tasks_per_batch" -> env.layerMedian("write.tasks"),
        "engine.write.files_per_batch" -> env.layerMedian("write.files"),
        "engine.write.bytes_per_batch" -> env.layerMedian("write.bytes"),
        "engine.write.replay_batch_ms_p50" -> Stats.medianOr0(replayMs),
        "engine.maintenance.compact_ms_p50" -> env.layerMedian("maint.compact_ms"),
        "engine.maintenance.buckets_rewritten" -> env.layerMedian("maint.buckets"),
        "engine.maintenance.bytes_rewritten" -> env.layerMedian("maint.bytes"),
        "engine.maintenance.retention_ms_p50" -> env.layerMedian("maint.retention_ms"),
        "engine.maintenance.series_advanced" -> env.layerMedian("maint.series"),
        "ops.timeseries.sum_windows_ms_p50" -> env.layerMedian("ts.sum_windows_ms")))
    }.getOrElse(Map.empty)
    Outcome(endToEnd, perLayer, report)
  }
}
