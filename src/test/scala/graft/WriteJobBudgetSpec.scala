package graft

import graft.engine._
import org.apache.spark.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import java.util.concurrent.atomic.AtomicInteger

/** Structural budget of the engine write path: Spark jobs launched per
  * write, counted by a SparkListener. Wall time on a shared host is too noisy
  * to gate on; the job count is deterministic for a fixed plan and session
  * config, and each job is a fixed scheduling cost on every micro-batch.
  *
  * Fixture: 40 series, 4 fields, 1 h buckets, 6-point batches, 2 h of
  * history per series loaded in one bulk load (so the data dir holds more
  * series directories than Spark's parallel-listing threshold of 32).
  *
  * Budgets, counted with this fixture on the two-path engine (a per-series
  * `writePoints` body beside `writeBatch`) in the shared `local[4]` test
  * session: `writePoints` fresh append 5 jobs, tail replay 7, replay plus
  * append 9; a 38-series `writeBatch` append 8, its replay 10. The one-path
  * engine (job-free watermark lookup, hash partitioning below
  * `Tsdb.RangeWriteThreshold`, a bucket-bounded replay verify) launches 5,
  * 6, 8, 5 and 7; those are the budgets. */
class WriteJobBudgetSpec extends SparkTestBase {
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

  private def fixture(): Tsdb = {
    val t = new Tsdb(spark, tmpDir("tsdb-jobs-"), requestedBucketWidth = Hour)
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
    assert(replay <= 7, s"38-series replay launched $replay jobs")
    assert(t.listSeries("db", "m").size == NSeries)
  }
}
