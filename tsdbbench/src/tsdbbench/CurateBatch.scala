package tsdbbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Curate batch: the `pipeline_curate` plan (MinHash-LSH near-dup clusters,
  * rule quality filter, per-source rebalancing, BPE token volume) run as
  * repeated batch jobs over a seeded replicated corpus. The engine is not
  * involved. */
object CurateBatch {
  /** 3 replicas of the 5,000-document base: 15,000 documents. */
  val Replicas = 3
  /** Jobs a run times at the least, however short `--seconds` is. */
  val MinJobs = 5
  val WarmupJobs = 2

  def run(env: Env, golden: Option[Path]): Outcome = {
    val spark = env.spark
    val expected = golden.map(g => Files.readAllLines(g, StandardCharsets.UTF_8).asScala
      .filter(_.nonEmpty).sorted.toSeq)
      .getOrElse(sys.error("curate_batch needs --golden (the oracle's result)"))
    val basePath = env.dataDir.resolve("documents.parquet").toString
    spark.sparkContext.setJobGroup("setup", "setup", interruptOnCancel = false)
    val setups = (0 until Main.SetupReps).map { rep =>
      val dir = env.work.resolve(s"curate-$rep")
      env.rmrf(dir)
      val t0 = System.nanoTime()
      val docs = Corpus.build(env.seed, Corpus.readBase(spark, basePath), Replicas)
      Corpus.frame(spark, docs).write.parquet(dir.resolve("documents.parquet").toString)
      val secs = env.since(t0)
      if (rep < Main.SetupReps - 1) env.rmrf(dir)
      (secs, dir, docs.size)
    }
    spark.sparkContext.clearJobGroup()
    Main.log(s"setup done: ${setups.map(_._1)}")
    val (_, dir, nDocs) = setups.last
    val curate = graft.SparkEntry.queries("pipeline_curate")

    def rep(kind: String, corpus: Path): Unit = {
      val (op, rows) = env.op(kind, "curate") { id =>
        val df = env.trace.span(id, "graft.pipeline_curate", "ops")(curate(spark, corpus.toString))
        env.trace.span(id, "spark.action", "spark")(df.collect())
      }
      rows.foreach(r => env.ledger.check(op, "pipeline_curate output equals the DuckDB oracle")(
        r.map(x => s"${x.getString(0)}\t${x.getLong(1)}\t${x.getLong(2)}").sorted.toSeq == expected))
    }

    // the job time still falls over the first jobs on the full corpus
    (1 to WarmupJobs).foreach(_ => rep("warmup.curate", dir))
    Main.log("warm-up done")
    val gc0 = Sys.gcMs()
    val fs0 = Sys.fsStats()
    val t0 = System.nanoTime()
    while (env.since(t0) < env.seconds || env.ledger.opsOf("curate").size < MinJobs) rep("curate", dir)
    val measuredS = env.since(t0)
    Main.log(s"measured ${measuredS}s")

    val repMs = env.ledger.ms("curate")
    // over the whole measured loop (jobs and their checks), not the median job
    val docsPerS = nDocs * repMs.size / measuredS
    val (setupS, setupReport) = env.setup(setups.map(_._1))
    val rss = Sys.rssPeakMb()
    val offHeap = rss - Sys.heapCommittedMb()
    val endToEnd = Map(
      "setup_s" -> Metric(setupS, "s"),
      "work_per_s" -> Metric(docsPerS, "1/s"),
      "op_ms_p50" -> Metric(Stats.median(repMs), "ms"),
      "rss_offheap_peak_mb" -> Metric(offHeap, "MB"))
    val report = setupReport ++ Map(
      "loop_docs_per_s" -> docsPerS,
      "curate_docs_per_s" -> nDocs / (Stats.median(repMs) / 1000), "documents" -> nDocs,
      "curate_rep_ms_p50" -> Stats.median(repMs), "reps" -> repMs.size,
      "rss_peak_mb" -> rss, "rss_offheap_peak_mb" -> offHeap,
      "op_error_rate" -> env.ledger.failed.toDouble / math.max(1L, env.ledger.attempted),
      "measured_s" -> measuredS)
    val perLayer = env.probe.map { p =>
      val ops = env.ledger.opsOf("curate")
      val jobs = ops.map(p.jobsOfOp)
      def med(f: Seq[JobRec] => Double) = Stats.medianOr0(jobs.map(f))
      PerLayer.complete(PerLayer.common(env, Set("curate"), _ => Nil, gc0, fs0) ++ Map(
        "ops.curate.jobs" -> med(_.size.toDouble),
        "ops.curate.stages" -> med(_.map(_.stages).sum.toDouble),
        "ops.curate.task_cpu_ms" -> med(_.map(_.cpuNs).sum / 1e6),
        "ops.curate.shuffle_bytes" -> med(_.map(_.shuffleBytes).sum.toDouble),
        "ops.curate.spill_bytes" -> med(_.map(_.spillBytes).sum.toDouble)))
    }.getOrElse(Map.empty)
    Outcome(endToEnd, perLayer, report)
  }
}
