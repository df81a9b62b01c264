package graft

import graft.engine._
import org.apache.spark.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import java.util.concurrent.atomic.AtomicInteger

/** Structural budget of the engine: Spark jobs launched per write, read and
  * maintenance op, counted by a SparkListener. Wall time on a shared host is
  * too noisy to gate on; the job count is deterministic for a fixed plan and
  * session config, and each job is a fixed scheduling cost on every call.
  *
  * Fixture: 40 series, 4 fields, 1 h buckets, 6-point batches, 2 h of
  * history per series loaded in one bulk load (so the data dir holds more
  * series directories than Spark's parallel-listing threshold of 32, and a
  * read of every series more bucket directories than that).
  *
  * Write budgets, counted with this fixture on the two-path engine (a
  * per-series `writePoints` body beside `writeBatch`) in the shared
  * `local[4]` test session: `writePoints` fresh append 5 jobs, tail replay 7,
  * replay plus append 9; a 38-series `writeBatch` append 8, its replay 10.
  * The one-path engine (job-free watermark lookup, hash partitioning below
  * `Tsdb.RangeWriteThreshold`, a bucket-bounded replay verify) launches 5,
  * 6, 8, 5 and 7. Handing Spark the listed leaf files (the engine's one
  * `scan`) drops the 38-series replay to 6: its verify reads 38 bucket
  * directories, which Spark used to list with a job of its own.
  *
  * Read and maintenance jobs, counted with this fixture before that `scan`
  * (reads built by `spark.read.parquet` over the admitted bucket
  * directories, the all-series reads' broadcast watermark join, retention
  * over the whole measurement tree): `zoom` 4, `countPoints` 2, `zoomAll`
  * 7, `sumWindowsAll` 4, `applyRetention` 4, a one-series `deleteUpTo` 2,
  * `compact` of one series 3. Through `scan`: 4, 2, 4, 2, 2, 2 and 3;
  * those are the budgets. A value-pruned `selectValueRange` (index lookup
  * plus the pruned read) launched 3 while the lookup inferred the
  * sidecar's schema with a job of its own; read with its known schema, 2.
  * The one-series window ops over `[0, 2 h)` in 10-minute windows, counted
  * on the spine kernel (a distributed `spark.range` spine left-joined to
  * the per-window aggregate, then a global `orderBy`): `sumWindows` 5,
  * `sumWindowsMulti` of every field 5, `meanWindows` 4, `gapFill` 10 and
  * `integrate` 3; those are the budgets, and the baseline a spine planned
  * as a local relation must go below.
  *
  * FS calls: driver-side `listStatus` calls, counted by [[CountingFs]] on
  * the same fixture. Counted while ops still listed some directories
  * twice: `zoom` 8 (its count pre-pass and its data read each listed the
  * series and its buckets) and a 40-series `applyRetention` 163 (each
  * series directory listed again for the bucket drops). Listing each
  * directory once: 4 and 123; those are the budgets.
  *
  * Metadata writes: driver-side `create`, `rename` and `delete` calls
  * outside the data tree, on the same fixture. With one append-intent
  * marker per series, a 38-series `writeBatch` append made 39 creates, 39
  * renames and 38 deletes (38 markers and one watermark delta) and 2
  * `listStatus` calls (`_wm`); its replay made 1 `listStatus` and wrote
  * nothing. With one intent record per batch: 2 creates, 2 renames and 1
  * delete, plus one `listStatus` of `_meta` per write (3 and 2); those are
  * the budgets.
  *
  * Value index, on the same fixture under [[CountingFs]]. With two sidecar
  * writers (a build joining a broadcast watermark table, a refresh with
  * literal series lists and two broadcast joins over a listing of every
  * stored bucket, each re-reading its output to count it), a
  * `buildValueIndex` launched 6 jobs and made 124 `listStatus` calls, and
  * a `refreshValueIndex` after 3 appends to each of 5 series 11 jobs and
  * 131 calls. The one writer (a refresh's fresh part one `scan` of each
  * series' buckets from its stale floor up, the row count observed on
  * the write): 2 and 123, 4 and 89; those are the budgets. */
class JobBudgetSpec extends SparkTestBase {
  import spark.implicits._

  private val Hour = 3600L * 1000000000L
  private val Step = 60L * 1000000000L // one point a minute
  private val NSeries = 40
  private val schema = MeasurementSchema(Seq(
    Field("a", FieldType.F64), Field("b", FieldType.F64),
    Field("c", FieldType.I64), Field("d", FieldType.F32)))

  private def rows(sn: Int, from: Int, n: Int): Seq[(String, Long, Double, Double, Long, Float)] =
    (from until from + n).map { i =>
      (s"s$sn", i * Step + sn, sn + i * 0.25, i * 1.5, i.toLong, (sn * i).toFloat)
    }

  private def frame(rs: Seq[(String, Long, Double, Double, Long, Float)]): DataFrame =
    rs.toDF("series", "time_ns", "a", "b", "c", "d")

  private def points(sn: Int, from: Int, n: Int): DataFrame =
    frame(rows(sn, from, n)).drop("series")

  private def jobsOf[A](body: => A): (Int, A) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBridge.drain(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      ListenerBridge.drain(sc)
      (n.get, out)
    } finally sc.removeSparkListener(l)
  }

  private def fixture(root: String = tmpDir("tsdb-jobs-")): Tsdb = {
    val t = new Tsdb(spark, root, requestedBucketWidth = Hour)
    t.createDatabase("db")
    t.createMeasurement("db", "m", schema)
    t.bulkLoad("db", "m", frame((0 until NSeries).flatMap(sn => rows(sn, 0, 120))))
    t
  }

  test("writePoints: fresh append, tail replay and replay-plus-append stay in budget") {
    val t = fixture()
    // warm-up write outside the counted region (first-use codegen and
    // listing caches must not decide the count)
    t.writePoints("db", "m", "s39", points(39, 120, 6))

    val (append, wa) = jobsOf(t.writePoints("db", "m", "s0", points(0, 120, 6)))
    assert(wa == WriteResult(6, 0, 0))
    val (replay, wr) = jobsOf(t.writePoints("db", "m", "s0", points(0, 120, 6)))
    assert(wr == WriteResult(0, 0, 6))
    val (both, wb) = jobsOf(t.writePoints("db", "m", "s0", points(0, 123, 6)))
    assert(wb == WriteResult(3, 0, 3))

    info(s"jobs: append $append, replay $replay, replay+append $both")
    assert(append <= 5, s"fresh append launched $append jobs")
    assert(replay <= 6, s"tail replay launched $replay jobs")
    assert(both <= 8, s"replay plus append launched $both jobs")
    assert(t.countPoints("db", "m", "s0", 0L, Long.MaxValue - 1)
      .select("npoints").as[Long].head() == 129L)
  }

  test("writeBatch: a multi-series append and its replay stay in budget") {
    val t = fixture()
    t.writeBatch("db", "m", frame(rows(39, 120, 6))) // warm-up
    val batch = frame((0 until 38).flatMap(sn => rows(sn, 120, 6)))
    val (append, res) = jobsOf(t.writeBatch("db", "m", batch))
    info(s"jobs: 38-series append $append")
    assert(res.size == 38 && res.values.forall(_ == WriteResult(6, 0, 0)))
    assert(append <= 5, s"38-series append launched $append jobs")
    // the same batch again is a pure replay: nothing written, all verified
    val (replay, again) = jobsOf(t.writeBatch("db", "m", batch))
    info(s"jobs: 38-series replay $replay")
    assert(again.size == 38 && again.values.forall(_ == WriteResult(0, 0, 6)))
    assert(replay <= 6, s"38-series replay launched $replay jobs")
    assert(t.listSeries("db", "m").size == NSeries)
  }

  test("reads: zoom, countPoints, zoomAll and sumWindowsAll stay in budget") {
    val t = fixture()
    val (t0, t1) = (0L, 2 * Hour - 1)
    def zoom(sn: String) = t.zoom("db", "m", sn, "a", t0, t1, maxDataPoints = 100).collect()
    def count(sn: String) = t.countPoints("db", "m", sn, t0, t1).collect()
    def zoomAll() = t.zoomAll("db", "m", "a", t0, t1, maxDataPoints = 100).collect()
    def sumAll() = t.sumWindowsAll("db", "m", "a", t0, t1, 10 * Step).collect()
    // warm-up of every op outside the counted region
    zoom("s1"); count("s1"); zoomAll(); sumAll()

    val (zj, z) = jobsOf(zoom("s0"))
    assert(z.forall(_.getString(3) == "mean") && z.map(_.getLong(2)).sum == 120L)
    val (cj, c) = jobsOf(count("s0"))
    assert(c.head.getLong(0) == 120L)
    val (aj, a) = jobsOf(zoomAll())
    assert(a.forall(_.getString(4) == "mean") && a.map(_.getLong(3)).sum == NSeries * 120L)
    val (sj, s) = jobsOf(sumAll())
    assert(s.length == NSeries * 12 && s.map(_.getLong(5)).sum == NSeries * 120L)

    info(s"jobs: zoom $zj, countPoints $cj, zoomAll $aj, sumWindowsAll $sj")
    assert(zj <= 4, s"zoom launched $zj jobs")
    assert(cj <= 2, s"countPoints launched $cj jobs")
    assert(aj <= 4, s"zoomAll launched $aj jobs")
    assert(sj <= 2, s"sumWindowsAll launched $sj jobs")
  }

  test("reads: the one-series window ops stay in budget") {
    val t = fixture()
    val (t0, t1, w) = (0L, 2 * Hour - 1, 10 * Step)
    def sums(sn: String) = t.sumWindows("db", "m", sn, "a", t0, t1, w).collect()
    def multi(sn: String) = t.sumWindowsMulti("db", "m", sn, Nil, t0, t1, w).collect()
    def means(sn: String) = t.meanWindows("db", "m", sn, "a", t0, t1, w).collect()
    def fill(sn: String) = t.gapFill("db", "m", sn, "a", t0, t1, w).collect()
    def integral(sn: String) = t.integrate("db", "m", sn, "a", t0, t1).collect()
    // warm-up of every op outside the counted region
    sums("s1"); multi("s1"); means("s1"); fill("s1"); integral("s1")

    val (sj, s) = jobsOf(sums("s0"))
    assert(s.length == 12 && s.map(_.getLong(4)).sum == 120L)
    val (mj, mu) = jobsOf(multi("s0"))
    assert(mu.length == 12 && mu.map(_.getLong(16)).sum == 120L) // n_d
    val (ej, e) = jobsOf(means("s0"))
    assert(e.length == 12 && e.map(_.getLong(3)).sum == 120L)
    val (gj, g) = jobsOf(fill("s0"))
    assert(g.length == 12 && g.map(_.getLong(1)).sum == 120L)
    val (ij, i) = jobsOf(integral("s0"))
    assert(i.length == 1 && i.head.getLong(1) == 120L)

    info(s"jobs: sumWindows $sj, sumWindowsMulti $mj, meanWindows $ej, gapFill $gj, " +
      s"integrate $ij")
    assert(sj <= 5, s"sumWindows launched $sj jobs")
    assert(mj <= 5, s"sumWindowsMulti launched $mj jobs")
    assert(ej <= 4, s"meanWindows launched $ej jobs")
    assert(gj <= 10, s"gapFill launched $gj jobs")
    assert(ij <= 3, s"integrate launched $ij jobs")
  }

  test("reads: a value-pruned selectValueRange on an indexed fixture stays in budget") {
    val t = fixture()
    assert(t.buildValueIndex("db", "m", "a") == NSeries * 2L)
    // s0's field a is 0.25 * i: the band [20, 25] lies in bucket 1 (the
    // watermark bucket, always scanned), and bucket 0 (a <= 14.75) prunes
    def pruned() = t.selectValueRange("db", "m", "s0", "a", 20.0, 25.0, 0L, 2 * Hour - 1).collect()
    pruned() // warm-up
    val (vj, v) = jobsOf(pruned())
    assert(v.length == 21)
    info(s"jobs: selectValueRange $vj")
    assert(vj <= 2, s"selectValueRange launched $vj jobs")
  }

  test("value index: a build and a refresh stay in budget; the refresh lists from each floor up") {
    CountingFs.register(spark)
    val t = fixture(CountingFs.path(tmpDir("tsdb-fs-")))
    assert(t.buildValueIndex("db", "m", "b") == NSeries * 2L) // warm-up
    val (bj, (bl, bn)) = jobsOf(CountingFs.listStatusOf(t.buildValueIndex("db", "m", "a")))
    assert(bn == NSeries * 2L)
    // three appends to each of 5 series open their bucket 2
    for (sn <- 0 until 5; k <- 0 until 3)
      t.writePoints("db", "m", s"s$sn", points(sn, 120 + 6 * k, 6))
    val (rj, (rl, rn)) = jobsOf(CountingFs.listStatusOf(t.refreshValueIndex("db", "m", "a")))
    assert(rn == NSeries * 2L + 5)
    info(s"value index: build $bj jobs, $bl listStatus; refresh $rj jobs, $rl listStatus")
    assert(bj <= 2, s"buildValueIndex launched $bj jobs")
    assert(rj <= 4, s"refreshValueIndex launched $rj jobs")
    assert(bl <= 123, s"buildValueIndex made $bl listStatus calls")
    // every series directory, then the buckets at or above each series'
    // floor (bucket 1; bucket 2 of the 5 appended series), not every
    // stored bucket; 4 more list the old sidecar and commit the new one
    val fromFloor = NSeries + NSeries + 5
    assert(rl <= fromFloor + 4, s"refreshValueIndex made $rl listStatus calls")
  }

  test("FS calls: zoom and a 40-series applyRetention list each directory once") {
    CountingFs.register(spark)
    val t = fixture(CountingFs.path(tmpDir("tsdb-fs-")))
    val (t0, t1) = (0L, 2 * Hour - 1)
    def zoom(sn: String) = t.zoom("db", "m", sn, "a", t0, t1, maxDataPoints = 100).collect()
    zoom("s1") // warm-up
    val (zl, z) = CountingFs.listStatusOf(zoom("s0"))
    assert(z.map(_.getLong(2)).sum == 120L)
    val (rl, r) = CountingFs.listStatusOf(t.applyRetention("db", "m", 30 * Step))
    assert(r.size == NSeries)
    info(s"driver listStatus calls: zoom $zl, applyRetention $rl")
    assert(zl <= 4, s"zoom made $zl listStatus calls")
    assert(rl <= 123, s"applyRetention made $rl listStatus calls")
  }

  test("FS calls: a 38-series writeBatch commits a fixed number of metadata files") {
    CountingFs.register(spark)
    val t = fixture(CountingFs.path(tmpDir("tsdb-fs-")))
    t.writeBatch("db", "m", frame(rows(39, 120, 6))) // warm-up
    val batch = frame((0 until 38).flatMap(sn => rows(sn, 120, 6)))
    val (ac, res) = CountingFs.callsOf(t.writeBatch("db", "m", batch))
    assert(res.size == 38 && res.values.forall(_ == WriteResult(6, 0, 0)))
    val (rc, again) = CountingFs.callsOf(t.writeBatch("db", "m", batch))
    assert(again.size == 38 && again.values.forall(_ == WriteResult(0, 0, 6)))
    // calls outside the data tree: the engine's own metadata files (the
    // test session's v1 committer and `_SUCCESS` marker add their own
    // driver calls under `data/`)
    def meta(cs: Seq[CountingFs.Call], op: String) =
      cs.count(c => c.op == op && !c.path.toString.contains("/m/data/"))
    val ops = Seq("create", "rename", "delete", "listStatus")
    val Seq(creates, renames, deletes, lists) = ops.map(meta(ac, _))
    val Seq(rCreates, rRenames, rDeletes, rLists) = ops.map(meta(rc, _))
    info(s"metadata calls, append: create $creates, rename $renames, delete $deletes, " +
      s"listStatus $lists; replay: create $rCreates, rename $rRenames, delete $rDeletes, " +
      s"listStatus $rLists")
    assert(creates <= 2, s"38-series append created $creates metadata files")
    assert(renames <= 2, s"38-series append renamed $renames metadata files")
    assert(deletes <= 1, s"38-series append deleted $deletes metadata files")
    assert(lists <= 3, s"38-series append listed $lists metadata directories")
    assert(rCreates + rRenames + rDeletes == 0, "a pure replay wrote metadata")
    assert(rLists <= 2, s"a pure replay listed $rLists metadata directories")
  }

  test("maintenance: applyRetention, a one-series deleteUpTo and compact stay in budget") {
    val t = fixture()
    // three small appends fragment bucket 2 of s1 and s2
    for (sn <- Seq(1, 2); k <- 0 until 3)
      t.writePoints("db", "m", s"s$sn", points(sn, 120 + 6 * k, 6))
    // warm-ups outside the counted region
    assert(t.applyRetention("db", "m", 10 * Step).size == NSeries)
    t.deleteUpTo("db", "m", "s3", 40 * Step)
    assert(t.compact("db", "m", "s2") == 1L)

    // every series but s3 (already deleted past the cut) advances to its
    // first point above the cut
    val (rj, r) = jobsOf(t.applyRetention("db", "m", 30 * Step))
    assert(r.size == NSeries - 1 && r.forall { case (sn, tf) =>
      val k = sn.drop(1).toLong
      tf == (if (k == 0) 31 * Step else 30 * Step + k)
    })
    val (dj, _) = jobsOf(t.deleteUpTo("db", "m", "s4", 70 * Step))
    assert(t.seriesRange("db", "m", "s4").map(_.timeFirst).contains(70 * Step + 4))
    val (cj, n) = jobsOf(t.compact("db", "m", "s1"))
    assert(n == 1L)
    assert(t.countPoints("db", "m", "s1", 0L, Long.MaxValue - 1)
      .select("npoints").as[Long].head() == 120L - 30 + 18)

    info(s"jobs: applyRetention $rj, deleteUpTo $dj, compact $cj")
    assert(rj <= 2, s"applyRetention launched $rj jobs")
    assert(dj <= 2, s"deleteUpTo launched $dj jobs")
    assert(cj <= 3, s"compact launched $cj jobs")
  }
}
