package graft

import graft.engine._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression, In, InSet, Literal}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

/** Engine semantics: the reference's catalog/write/delete behavior matrix
  * (reference unittest scenarios: measurement_test.cc, wal_test.cc,
  * delete_test.cc, select_op_test.cc). */
class TsdbEngineSpec extends SparkTestBase {
  import spark.implicits._

  private val schema = MeasurementSchema(Seq(
    Field("a", FieldType.U32), Field("v", FieldType.F64), Field("g", FieldType.F32)))

  private def mkTsdb(): Tsdb = new Tsdb(spark, tmpDir("tsdb-test-"), requestedBucketWidth = 100L)

  private def pts(rows: (Long, Option[Long], Option[Double], Option[Float])*): DataFrame =
    rows.toSeq.toDF("time_ns", "a", "v", "g")

  private def freshSeries(t: Tsdb, rows: (Long, Option[Long], Option[Double], Option[Float])*)
      : Unit = {
    t.createDatabase("db1")
    t.createMeasurement("db1", "m1", schema)
    if (rows.nonEmpty) t.writePoints("db1", "m1", "s1", pts(rows: _*))
  }

  /** What a crashed append leaves in `_meta`: one intent record naming
    * every series of the batch. @return the record's path. */
  private def plantIntent(t: Tsdb, series: String*): java.nio.file.Path = {
    val meta = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"${t.rootDir}/db1/m1/_meta"))
    java.nio.file.Files.writeString(
      meta.resolve(s".append-${java.util.UUID.randomUUID}.pending"),
      series.map(_ + "\n").mkString)
  }

  private val baseRows: Seq[(Long, Option[Long], Option[Double], Option[Float])] = Seq(
    (100L, Some(1L), Some(1.5), Some(1.0f)),
    (150L, Some(2L), None, Some(2.0f)),
    (199L, None, Some(3.25), None),
    (210L, Some(4L), Some(-0.0), Some(4.0f)),
    (290L, Some(5L), Some(5.5), Some(5.0f)),
    (305L, Some(6L), Some(6.5), Some(6.0f)),
    (420L, Some(7L), Some(7.5), Some(7.0f)))

  // ------------------------------------------------------------- catalog

  test("createDatabase is idempotent; listDatabases sorted") {
    val t = mkTsdb()
    t.createDatabase("beta"); t.createDatabase("alpha"); t.createDatabase("beta")
    assert(t.listDatabases() == Seq("alpha", "beta"))
  }

  test("createMeasurement: idempotent iff identical schema, else rejects") {
    val t = mkTsdb()
    t.createDatabase("db1")
    t.createMeasurement("db1", "m1", schema)
    t.createMeasurement("db1", "m1", schema) // no-op
    assert(t.getSchema("db1", "m1") == schema)
    val other = MeasurementSchema(Seq(Field("a", FieldType.U32)))
    intercept[MeasurementExistsException](t.createMeasurement("db1", "m1", other))
    intercept[NoSuchDatabaseException](t.createMeasurement("nope", "m1", schema))
    intercept[NoSuchMeasurementException](t.getSchema("db1", "missing"))
    assert(t.listMeasurements("db1") == Seq("m1"))
  }

  test("series auto-create on first write; listSeries sorted") {
    val t = mkTsdb()
    freshSeries(t, baseRows: _*)
    t.writePoints("db1", "m1", "s0", pts((5L, Some(1L), Some(1.0), Some(1.0f))))
    assert(t.listSeries("db1", "m1") == Seq("s0", "s1"))
    assert(t.seriesRange("db1", "m1", "s1").contains(SeriesRange(100L, 420L)))
    assert(t.seriesRange("db1", "m1", "zz").isEmpty)
  }

  // ------------------------------------------------------------- write/read

  test("write then read: sorted, projected, clamped, LAST N") {
    val t = mkTsdb()
    freshSeries(t, baseRows: _*)
    val all = t.select("db1", "m1", "s1", Nil, 0L, 1000L).collect()
    assert(all.map(_.getLong(0)).toSeq == baseRows.map(_._1))
    // range + projection + limit
    val r = t.select("db1", "m1", "s1", Seq("v"), 150L, 305L, limit = Some(3)).collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(150L, 199L, 210L))
    // LAST 2 of range, emitted ascending
    val l = t.select("db1", "m1", "s1", Nil, 0L, 1000L, last = Some(2)).collect()
    assert(l.map(_.getLong(0)).toSeq == Seq(305L, 420L))
    // nulls survive the round trip
    assert(all.find(_.getLong(0) == 150L).get.isNullAt(2))
    intercept[InvalidSchemaException](t.select("db1", "m1", "s1", Seq("nope"), 0L, 1L))
  }

  test("count_points returns npoints/time_first/time_last of range") {
    val t = mkTsdb()
    freshSeries(t, baseRows: _*)
    val r = t.countPoints("db1", "m1", "s1", 150L, 305L).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((5L, 150L, 305L)))
  }

  test("batch with duplicate or NULL timestamps is rejected") {
    val t = mkTsdb()
    freshSeries(t)
    intercept[OutOfOrderTimestampsException] {
      t.writePoints("db1", "m1", "s1",
        pts((100L, Some(1L), Some(1.0), None), (100L, Some(2L), Some(2.0), None)))
    }
    intercept[OutOfOrderTimestampsException] {
      t.writePoints("db1", "m1", "s1",
        Seq((Some(100L), 1L), (None, 2L)).toDF("time_ns", "a")
          .withColumn("v", lit(null).cast("double")).withColumn("g", lit(null).cast("float")))
    }
  }

  test("idempotent tail overwrite: bitwise-identical accepted, no duplicates") {
    val t = mkTsdb()
    freshSeries(t, baseRows: _*)
    // re-send last 3 points + 2 new ones
    val again = baseRows.takeRight(3) ++ Seq(
      (500L, Some(8L), Some(8.5), Some(8.0f)): (Long, Option[Long], Option[Double], Option[Float]),
      (510L, Some(9L), None, None): (Long, Option[Long], Option[Double], Option[Float]))
    val res = t.writePoints("db1", "m1", "s1", pts(again: _*))
    assert(res == WriteResult(written = 2, discarded = 0, overwriteVerified = 3))
    val all = t.select("db1", "m1", "s1", Nil, 0L, 1000L).collect()
    assert(all.length == baseRows.length + 2) // no duplicated tail
    assert(t.seriesRange("db1", "m1", "s1").contains(SeriesRange(100L, 510L)))
  }

  test("tail overwrite with differing bits is rejected (incl. -0.0 vs 0.0)") {
    val t = mkTsdb()
    freshSeries(t, baseRows: _*)
    // value differs at ts=420
    intercept[OverwriteMismatchException] {
      t.writePoints("db1", "m1", "s1", pts((420L, Some(7L), Some(7.6), Some(7.0f))))
    }
    // -0.0 stored at ts=210; +0.0 is === equal but NOT bitwise equal
    intercept[OverwriteMismatchException] {
      t.writePoints("db1", "m1", "s1", pts((210L, Some(4L), Some(0.0), Some(4.0f))))
    }
    // null vs value differs
    intercept[OverwriteMismatchException] {
      t.writePoints("db1", "m1", "s1", pts((150L, Some(2L), Some(2.0), Some(2.0f))))
    }
    // a never-seen point in the committed past (ts=300 < time_last, not stored)
    intercept[OverwriteMismatchException] {
      t.writePoints("db1", "m1", "s1", pts((300L, Some(9L), Some(9.0), Some(9.0f))))
    }
    // a gap: overlap starting at 290 must also cover stored 305..420
    intercept[OverwriteMismatchException] {
      t.writePoints("db1", "m1", "s1", pts(
        (290L, Some(5L), Some(5.5), Some(5.0f)),
        (420L, Some(7L), Some(7.5), Some(7.0f)))) // skips stored 305
    }
    // nothing was corrupted by the rejected writes
    assert(t.select("db1", "m1", "s1", Nil, 0L, 1000L).count() == baseRows.length)
  }

  // ------------------------------------------------------------- delete

  test("deleteUpTo advances watermark to first survivor; reads clamp; buckets drop") {
    val t = mkTsdb()
    freshSeries(t, baseRows: _*)
    t.deleteUpTo("db1", "m1", "s1", 200L)
    assert(t.seriesRange("db1", "m1", "s1").contains(SeriesRange(210L, 420L)))
    val vis = t.select("db1", "m1", "s1", Nil, 0L, 1000L).collect()
    assert(vis.map(_.getLong(0)).toSeq == Seq(210L, 290L, 305L, 420L))
    // bucket=1 dir (ts 100..199) is physically gone
    val sdir = new java.io.File(s"${t.rootDir}/db1/m1/data/series=s1")
    val buckets = sdir.listFiles().map(_.getName).filter(_.startsWith("bucket=")).sorted
    assert(buckets.head == "bucket=2")
  }

  test("writes below the delete watermark are silently discarded") {
    val t = mkTsdb()
    freshSeries(t, baseRows: _*)
    t.deleteUpTo("db1", "m1", "s1", 200L)
    // the overlap must cover the stored tail CONTIGUOUSLY through time_last
    // (reference compares the incoming sequence pointwise against the stored
    // tail, wal.cc:87-246) — so re-send 305 AND 420, then append 600
    val res = t.writePoints("db1", "m1", "s1", pts(
      (120L, Some(1L), Some(1.0), Some(1.0f)),   // below watermark -> discard
      (305L, Some(6L), Some(6.5), Some(6.0f)),   // bitwise tail overwrite
      (420L, Some(7L), Some(7.5), Some(7.0f)),   // bitwise tail overwrite
      (600L, Some(10L), Some(10.0), Some(10.0f)))) // new
    assert(res == WriteResult(written = 1, discarded = 1, overwriteVerified = 2))
    val vis = t.select("db1", "m1", "s1", Nil, 0L, 1000L).collect()
    assert(vis.map(_.getLong(0)).toSeq == Seq(210L, 290L, 305L, 420L, 600L))
  }

  test("delete into the future empties the series and pre-filters writes") {
    val t = mkTsdb()
    freshSeries(t, baseRows: _*)
    t.deleteUpTo("db1", "m1", "s1", 900L)
    assert(t.seriesRange("db1", "m1", "s1").contains(SeriesRange(901L, 420L)))
    assert(t.select("db1", "m1", "s1", Nil, 0L, 2000L).count() == 0)
    val res = t.writePoints("db1", "m1", "s1", pts(
      (800L, Some(1L), Some(1.0), Some(1.0f)),   // below future watermark -> discard
      (950L, Some(2L), Some(2.0), Some(2.0f))))  // above -> written
    assert(res == WriteResult(written = 1, discarded = 1, overwriteVerified = 0))
    assert(t.select("db1", "m1", "s1", Nil, 0L, 2000L).collect().map(_.getLong(0)).toSeq
      == Seq(950L))
  }

  test("a delete up to Long.MaxValue is rejected and moves no watermark") {
    // t+1 would wrap to Long.MinValue and move time_first backwards,
    // making deleted points visible again
    val t = new Tsdb(spark, tmpDir("tsdb-test-"), requestedBucketWidth = 1000L)
    freshSeries(t, (0 until 30).map(i =>
      (100L * i, Some(i.toLong), Some(i * 0.5), Some(i.toFloat))): _*)
    t.deleteUpTo("db1", "m1", "s1", 1050L)
    val range = t.seriesRange("db1", "m1", "s1")
    assert(range.contains(SeriesRange(1100L, 2900L)))
    def visibleCount = t.select("db1", "m1", "s1", Nil, 0L, 100000L).count()
    assert(visibleCount == 19L)
    intercept[IllegalArgumentException](t.applyRetention("db1", "m1", Long.MaxValue))
    assert(t.seriesRange("db1", "m1", "s1") == range && visibleCount == 19L)
    intercept[IllegalArgumentException](t.deleteUpTo("db1", "m1", "s1", Long.MaxValue))
    assert(t.seriesRange("db1", "m1", "s1") == range && visibleCount == 19L)
  }

  test("facade tare/difference/derivative/rate run over visible engine data") {
    val t = mkTsdb()
    freshSeries(t, baseRows: _*) // v: 100:1.5 150:N 199:3.25 210:-0.0 290:5.5 305:6.5 420:7.5
    def m(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(col("time_ns"), col(c)).collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    val d = m(t.difference("db1", "m1", "s1", "v", 0L, 1000L), "difference")
    assert(d(100L).isEmpty && d(290L).contains(5.5) && d(305L).contains(1.0))
    val ta = m(t.tare("db1", "m1", "s1", "v", 0L, 1000L), "tare")
    assert(ta(100L).contains(0.0) && ta(420L).contains(6.0) && ta(150L).isEmpty)
    val de = m(t.derivative("db1", "m1", "s1", "v", 0L, 1000L, unitsPerSecond = 10.0), "derivative")
    assert(de(290L).contains(0.6875)) // (5.5 - -0.0) / (80/10)
    val ra = m(t.rate("db1", "m1", "s1", "v", 0L, 1000L, unitsPerSecond = 10.0), "rate")
    assert(ra(290L).contains(0.6875))          // counter climbing: same as derivative
    assert(ra(210L).exists(_ == 0.0))          // reset at 210: increase = v = -0.0
  }

  test("applyRetention sweeps every series in one pass, incl. delete-into-future") {
    val t = mkTsdb()
    freshSeries(t, baseRows: _*) // s1: 100..420
    t.writePoints("db1", "m1", "s2", pts((50L, Some(1L), Some(1.0), Some(1.0f)),
      (120L, Some(2L), Some(2.0), Some(2.0f))))    // s2: all history below the cut
    t.writePoints("db1", "m1", "s3", pts((500L, Some(3L), Some(3.0), Some(3.0f))))
    val res = t.applyRetention("db1", "m1", 200L)
    // s1 survives from 210; s2 empties (delete into the future: 201);
    // s3 untouched (cut below its watermark -> not even in the result)
    assert(res == Map("s1" -> 210L, "s2" -> 201L))
    assert(t.seriesRange("db1", "m1", "s2").contains(SeriesRange(201L, 120L))) // empty sentinel shape
    assert(t.select("db1", "m1", "s1", Nil, 0L, 1000L).collect().map(_.getLong(0)).toSeq
      == Seq(210L, 290L, 305L, 420L))
    assert(t.select("db1", "m1", "s2", Nil, 0L, 1000L).count() == 0L)
    assert(t.select("db1", "m1", "s3", Nil, 0L, 1000L).count() == 1L)
    // discard-below-watermark still applies to the swept series
    val w = t.writePoints("db1", "m1", "s2", pts((150L, Some(9L), Some(9.0), Some(9.0f)),
      (250L, Some(9L), Some(9.0), Some(9.0f))))
    assert(w.written == 1 && w.discarded == 1)
    // idempotent: a second sweep at the same horizon changes nothing
    assert(t.applyRetention("db1", "m1", 200L) == Map.empty)
  }

  test("downsample writes a rollup measurement; re-running is an idempotent overwrite") {
    val t = mkTsdb()
    freshSeries(t, baseRows: _*) // v at 100:1.5, 199:3.25, 210:-0.0, 290:5.5, 305:6.5, 420:7.5
    val rollup = t.downsample("db1", "m1", "s1", "v", 100L, 499L, 100L)
    assert(rollup == "m1__rollup_v_100")
    assert(t.listMeasurements("db1") == Seq("m1", "m1__rollup_v_100"))
    // a second FIELD at the same window gets its own rollup measurement —
    // not a silent collision with the first field's timestamps
    assert(t.downsample("db1", "m1", "s1", "g", 100L, 499L, 100L) == "m1__rollup_g_100")
    val got = t.select("db1", rollup, "s1", Nil, 0L, 1000L).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(4))).toSeq
    // windows [100,200):1.5+3.25, [200,300):-0+5.5, [300,400):6.5, [400,500):7.5
    assert(got == Seq((100L, 4.75, 2L), (200L, 5.5, 2L), (300L, 6.5, 1L), (400L, 7.5, 1L)))
    // same range again: bitwise-identical tail overwrite, no duplicates
    t.downsample("db1", "m1", "s1", "v", 100L, 499L, 100L)
    assert(t.select("db1", rollup, "s1", Nil, 0L, 1000L).count() == 4L)
    // the rollup is a first-class measurement: its own quantiles work
    val q = t.quantiles("db1", rollup, "s1", "sum_value", 0L, 1000L, Seq(0.5))
      .collect().head.getDouble(2)
    assert(q == 5.5)
  }

  test("listActiveSeries counts visible points per series") {
    val t = mkTsdb()
    freshSeries(t, baseRows: _*)
    t.writePoints("db1", "m1", "s2", pts(
      (250L, Some(1L), Some(1.0), Some(1.0f)), (260L, Some(2L), Some(2.0), Some(2.0f))))
    t.deleteUpTo("db1", "m1", "s1", 250L)
    val r = t.listActiveSeries("db1", "m1", 0L, 1000L).collect()
      .map(x => (x.getString(0), x.getLong(1))).toSeq
    assert(r == Seq(("s1", 3L), ("s2", 2L))) // s1: 290,305,420 visible
    // the all-series faces share the per-series pruned+clamped read: a
    // range that misses s2's visible window entirely must not read it
    val r2 = t.listActiveSeries("db1", "m1", 280L, 1000L).collect()
      .map(x => (x.getString(0), x.getLong(1))).toSeq
    assert(r2 == Seq(("s1", 3L)))
    // and the measurement-wide window agg respects each series' own clamp
    // (s1's deleteUpTo(250) hides its pre-250 points even in-range)
    val w = t.sumWindowsAll("db1", "m1", "v", 0L, 1000L, 1000L).collect()
      .map(x => (x.getString(0), x.getLong(5))).toSeq.sorted
    assert(w == Seq(("s1", 3L), ("s2", 2L)))
  }

  /** Every node of an executed plan, through adaptive plans and their
    * query stages. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = (p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec        => planNodes(s.plan)
    case other                    => other +: other.children.flatMap(planNodes)
  }).distinct

  /** Literal series membership tests — In, InSet, or EqualTo against a
    * literal — anywhere in an executed plan: a plan carrying one grows
    * with the series count. Structural, not a rendered-string match. */
  private def seriesLiteralTests(p: SparkPlan): Seq[Expression] =
    planNodes(p).flatMap(_.expressions).flatMap(_.collect {
      case e: In if e.value.references.exists(_.name == MeasurementSchema.SeriesCol) => e
      case e: InSet if e.child.references.exists(_.name == MeasurementSchema.SeriesCol) => e
      case e @ EqualTo(l, _: Literal)
        if l.references.exists(_.name == MeasurementSchema.SeriesCol) => e
    })

  test("zoomAll: per-series dispatch equals per-series zoom; one scan + one shuffle") {
    val t = mkTsdb()
    t.createDatabase("db1")
    t.createMeasurement("db1", "m1", schema)
    // sparse series (3 points, one NULL v) -> raw at maxDataPoints = 5;
    // dense series (8 points) -> mean
    t.writePoints("db1", "m1", "sparse", pts(
      (100L, Some(1L), Some(1.5), None),
      (150L, Some(2L), None, None),
      (205L, Some(3L), Some(2.5), None)))
    t.writePoints("db1", "m1", "dense",
      pts((0 until 8).map(i => (100L + 10L * i, Some(i.toLong),
        Some(i + 0.25), Option.empty[Float])): _*))
    val all = t.zoomAll("db1", "m1", "v", 100L, 219L, maxDataPoints = 5)
    val rows = all.collect()
    // per-series results equal S independent zoom() calls (decision incl.)
    for (sn <- Seq("sparse", "dense")) {
      val got = rows.filter(_.getString(0) == sn)
        .map(r => (r.getLong(1), Option(r.get(2)), r.getLong(3), r.getString(4)))
        .sortBy(_._1).toSeq
      val want = t.zoom("db1", "m1", sn, "v", 100L, 219L, maxDataPoints = 5)
        .collect()
        .map(r => (r.getLong(0), Option(r.get(1)), r.getLong(2), r.getString(3)))
        .sortBy(_._1).toSeq
      assert(got == want, s"series $sn: $got vs $want")
    }
    assert(rows.count(_.getString(4) == "raw") == 3) // incl. the NULL point, n=0
    assert(rows.filter(_.getString(0) == "dense").forall(_.getString(4) == "mean"))
    // plan gate: the data job is ONE parquet scan + ONE exchange (the
    // conditional-key aggregate); the count pre-pass already ran at call
    // time. A per-series loop or a second data shuffle regresses this.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.FileSourceScanExec
    val nodes = planNodes(all.queryExecution.executedPlan)
    assert(nodes.count(_.isInstanceOf[FileSourceScanExec]) == 1,
      s"expected one scan:\n${all.queryExecution.executedPlan}")
    assert(nodes.count(_.isInstanceOf[ShuffleExchangeExec]) == 1,
      s"expected one shuffle:\n${all.queryExecution.executedPlan}")

    // the raw/mean decision is a lookup over the collected raw set, so the
    // plan never grows with the series count: no literal series test with
    // 1 raw series (the optimizer would collapse a one-element In to
    // EqualTo) and with 2 (a literal In)
    def literalTests(df: DataFrame) = {
      df.collect()
      seriesLiteralTests(df.queryExecution.executedPlan)
    }
    val raw2 = t.zoomAll("db1", "m1", "v", 100L, 219L, maxDataPoints = 1000)
    assert(raw2.collect().forall(_.getString(4) == "raw"))
    for (df <- Seq(all, raw2))
      assert(literalTests(df).isEmpty,
        s"zoomAll must not test series against literals:\n${df.queryExecution.executedPlan}")
    // the checker itself must BITE: a one-series select carries
    // `series = <literal>`
    assert(literalTests(t.select("db1", "m1", "sparse", Seq("v"), 100L, 219L))
      .exists(_.isInstanceOf[EqualTo]), "the series-literal check proves nothing")
  }

  test("zoom and zoomAll cover all of time without overflowing the window width") {
    val t = mkTsdb()
    t.createDatabase("db1"); t.createMeasurement("db1", "m1", schema)
    t.writePoints("db1", "m1", "s1", vpts((0 until 10).map(i => (10L * i, Some(i + 0.5))): _*))
    for ((t0, t1) <- Seq((Long.MinValue, Long.MaxValue), (0L, Long.MaxValue))) {
      // 10 points > 2 -> one mean window holds all of them: the width is
      // at least 2^62, and every point lies in [0, 90]
      val z = t.zoom("db1", "m1", "s1", "v", t0, t1, maxDataPoints = 2).collect()
      assert(z.map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getString(3))).toSeq ==
        Seq((0L, 5.0, 10L, "mean")), s"zoom over [$t0, $t1]")
      val a = t.zoomAll("db1", "m1", "v", t0, t1, maxDataPoints = 2).collect()
      assert(a.map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getString(4))).toSeq == Seq(("s1", 0L, 5.0, 10L, "mean")), s"zoomAll over [$t0, $t1]")
    }
  }

  test("negative and all-of-time windows: sumWindows, meanWindows and sumWindowsAll agree") {
    val t = mkTsdb()
    t.createDatabase("db1"); t.createMeasurement("db1", "m1", schema)
    t.writePoints("db1", "m1", "s1",
      vpts((-250L, Some(1.0)), (-150L, Some(2.0)), (-50L, Some(4.0))))
    def sums(t0: Long, t1: Long, w: Long) =
      t.sumWindows("db1", "m1", "s1", "v", t0, t1, w).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(4))).toSeq
    def nonEmpty(t0: Long, t1: Long, w: Long) = {
      val s = sums(t0, t1, w).filter(_._3 > 0)
      val m = t.meanWindows("db1", "m1", "s1", "v", t0, t1, w).collect()
        .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
      val a = t.sumWindowsAll("db1", "m1", "v", t0, t1, w).collect()
        .map(r => (r.getLong(1), r.getDouble(2), r.getLong(5))).toSeq.sorted
      assert(m == s.map { case (ws, sum, n) => (ws, sum / n, n) },
        s"meanWindows over [$t0, $t1] by $w")
      assert(a == s, s"sumWindowsAll over [$t0, $t1] by $w")
      s
    }
    // each point floors into the window that holds it, none toward zero
    assert(sums(-300L, -1L, 100L) ==
      Seq((-300L, 1.0, 1L), (-200L, 2.0, 1L), (-100L, 4.0, 1L)))
    assert(nonEmpty(-300L, -1L, 100L).size == 3)
    // all of time in 2^62-wide windows: four windows, no bound wraps
    val w = 1L << 62
    assert(sums(Long.MinValue, Long.MaxValue, w) ==
      Seq((Long.MinValue, 0.0, 0L), (-w, 7.0, 3L), (0L, 0.0, 0L), (w, 0.0, 0L)))
    assert(nonEmpty(Long.MinValue, Long.MaxValue, w) == Seq((-w, 7.0, 3L)))
  }

  test("sumWindows sums integer fields exactly and counts bool trues; downsample too") {
    val t = mkTsdb()
    t.createDatabase("db1")
    t.createMeasurement("db1", "mi", MeasurementSchema(Seq(
      Field("i", FieldType.I64), Field("b", FieldType.Bool))))
    val big = 20000000000000000L // 2·10^16: past what a decimal(18,2) sum holds
    t.writePoints("db1", "mi", "s1", Seq((100L, big, true), (150L, big + 1, false),
      (250L, 5L, true)).toDF("time_ns", "i", "b"))
    def sums(f: String) = t.sumWindows("db1", "mi", "s1", f, 100L, 299L, 100L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSeq
    assert(sums("i") == Seq((100L, 2 * big + 1, 2L), (200L, 5L, 1L)))
    assert(sums("b") == Seq((100L, 1L, 2L), (200L, 1L, 1L)))
    val rollup = t.downsample("db1", "mi", "s1", "i", 100L, 299L, 100L)
    assert(t.select("db1", rollup, "s1", Seq("sum_value", "n"), 0L, 1000L).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq ==
      Seq((100L, (2 * big + 1).toDouble, 2L), (200L, 5.0, 1L)))
  }

  test("every field-taking op rejects an unknown field with InvalidSchemaException") {
    val t = mkTsdb()
    freshSeries(t, baseRows: _*)
    val (db, m, s, f) = ("db1", "m1", "s1", "nope")
    val ops: Seq[(String, () => Any)] = Seq(
      "select" -> (() => t.select(db, m, s, Seq("v", f), 0L, 1000L)),
      "sumWindows" -> (() => t.sumWindows(db, m, s, f, 0L, 999L, 100L)),
      "sumWindowsMulti" -> (() => t.sumWindowsMulti(db, m, s, Seq("v", f), 0L, 999L, 100L)),
      "sumWindowsAll" -> (() => t.sumWindowsAll(db, m, f, 0L, 999L, 100L)),
      "meanWindows" -> (() => t.meanWindows(db, m, s, f, 0L, 999L, 100L)),
      "minMaxWindows" -> (() => t.minMaxWindows(db, m, s, f, 0L, 999L, 100L)),
      "zoom" -> (() => t.zoom(db, m, s, f, 0L, 999L, 2)),
      "zoomAll" -> (() => t.zoomAll(db, m, f, 0L, 999L, 2)),
      "integrate" -> (() => t.integrate(db, m, s, f, 0L, 1000L)),
      "integrateMulti" -> (() => t.integrateMulti(db, m, s, Seq("v", f), 0L, 1000L)),
      "tare" -> (() => t.tare(db, m, s, f, 0L, 1000L)),
      "difference" -> (() => t.difference(db, m, s, f, 0L, 1000L)),
      "derivative" -> (() => t.derivative(db, m, s, f, 0L, 1000L)),
      "rate" -> (() => t.rate(db, m, s, f, 0L, 1000L)),
      "gapFill" -> (() => t.gapFill(db, m, s, f, 0L, 999L, 100L)),
      "histogram" -> (() => t.histogram(db, m, s, f, 0L, 1000L, 1.0)),
      "quantiles" -> (() => t.quantiles(db, m, s, f, 0L, 1000L, Seq(0.5))),
      "anomalies" -> (() => t.anomalies(db, m, s, f, 0L, 1000L, 3.0)),
      "lttb" -> (() => t.lttb(db, m, s, f, 0L, 1000L, 100L)),
      "selectValueRange" -> (() => t.selectValueRange(db, m, s, f, 0.0, 1.0, 0L, 1000L)),
      "buildValueIndex" -> (() => t.buildValueIndex(db, m, f)),
      "refreshValueIndex" -> (() => t.refreshValueIndex(db, m, f)),
      "downsample" -> (() => t.downsample(db, m, s, f, 0L, 999L, 100L)))
    for ((name, op) <- ops) {
      val e = intercept[Exception](op())
      assert(e.isInstanceOf[InvalidSchemaException], s"$name threw $e")
    }
    // the failed downsample created no rollup measurement
    assert(t.listMeasurements(db) == Seq(m))
  }

  test("u64 fields survive the round trip at full range; mean/minmax facade derive from sum_op") {
    val t = mkTsdb()
    t.createDatabase("db1")
    val u64schema = MeasurementSchema(Seq(Field("u", FieldType.U64), Field("v", FieldType.F64)))
    t.createMeasurement("db1", "m64", u64schema)
    // 2^64 - 1 does not fit a Long — Decimal(20,0) carries it intact
    val big = BigDecimal("18446744073709551615")
    val rows = Seq((100L, big, 1.0), (150L, BigDecimal(7), 2.0), (250L, big - 1, 4.0))
    import spark.implicits._
    t.writePoints("db1", "m64", "s1", rows.toDF("time_ns", "u", "v"))
    val got = t.select("db1", "m64", "s1", Nil, 0L, 1000L).collect()
    assert(got.map(r => r.getDecimal(1)).map(BigDecimal(_)).toSeq == rows.map(_._2))

    val mean = t.meanWindows("db1", "m64", "s1", "v", 100L, 299L, 100L).collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(mean == Seq((100L, 1.5), (200L, 4.0))) // (1+2)/2; 4/1
    val mm = t.minMaxWindows("db1", "m64", "s1", "v", 100L, 299L, 100L).collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(mm == Seq((100L, 1.0, 2.0), (200L, 4.0, 4.0)))
  }

  test("crashed append (data committed, watermark not advanced) recovers without duplicates") {
    val t = mkTsdb()
    freshSeries(t, baseRows: _*) // watermark time_last = 420
    // simulate the crash: rows above the watermark land in storage with the
    // engine layout (same bucket dirs), but the watermark was never advanced
    import org.apache.spark.sql.functions.{col, expr}
    val stray = pts((500L, Some(9L), Some(9.0), Some(9.0f)),
                    (430L, Some(8L), Some(8.0), Some(8.0f)))
    stray.withColumn("bucket", expr("time_ns div 100L"))
      .write.mode("append").partitionBy("bucket")
      .parquet(s"${t.rootDir}/db1/m1/data/series=s1")
    // the crashed append left its intent record behind
    plantIntent(t, "s1")
    assert(t.seriesRange("db1", "m1", "s1").contains(SeriesRange(100L, 420L)))

    // replaying the crashed batch must first truncate the orphaned tail,
    // then append cleanly — one copy of each point, bitwise intact
    val res = t.writePoints("db1", "m1", "s1",
      pts((430L, Some(8L), Some(8.5), Some(8.0f)),  // DIFFERENT value than stray
          (500L, Some(9L), Some(9.0), Some(9.0f))))
    assert(res.written == 2)
    val got = t.select("db1", "m1", "s1", Nil, 0L, 1000L).collect()
    assert(got.map(_.getLong(0)).toSeq == baseRows.map(_._1) ++ Seq(430L, 500L))
    assert(got.find(_.getLong(0) == 430L).get.getDouble(2) == 8.5) // replay wins
    assert(t.seriesRange("db1", "m1", "s1").contains(SeriesRange(100L, 500L)))
  }

  test("crashed append recovery truncates inside a shared bucket") {
    val t = mkTsdb()
    freshSeries(t, baseRows: _*) // last bucket = 4 (time 420)
    import org.apache.spark.sql.functions.expr
    // stray row in the SAME bucket as committed data (bucket 4: 400..499)
    pts((470L, Some(9L), Some(9.0), Some(9.0f)))
      .withColumn("bucket", expr("time_ns div 100L"))
      .write.mode("append").partitionBy("bucket")
      .parquet(s"${t.rootDir}/db1/m1/data/series=s1")
    plantIntent(t, "s1")
    t.writePoints("db1", "m1", "s1", pts((470L, Some(1L), Some(1.25), Some(1.0f))))
    val got = t.select("db1", "m1", "s1", Nil, 400L, 1000L).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(420L, 470L)) // 420 survives, one 470
    assert(got.find(_.getLong(0) == 470L).get.getDouble(2) == 1.25)
  }

  test("crash inside the truncation swap keeps the boundary bucket's committed points") {
    val t = mkTsdb()
    freshSeries(t, baseRows: _*) // last bucket = 4 (time 420)
    import org.apache.spark.sql.functions.expr
    pts((470L, Some(9L), Some(9.0), Some(9.0f)))
      .withColumn("bucket", expr("time_ns div 100L"))
      .write.mode("append").partitionBy("bucket")
      .parquet(s"${t.rootDir}/db1/m1/data/series=s1")
    plantIntent(t, "s1")
    // simulate a crash of the recovering write between "old -> trash" and
    // "new -> live": bucket 4 (committed 420 plus the orphan 470) sits in
    // the trash, its truncated copy half-written, and the record remains
    val sdir = java.nio.file.Paths.get(s"${t.rootDir}/db1/m1/data/series=s1")
    java.nio.file.Files.createDirectories(sdir.resolve(".compact-trash"))
    java.nio.file.Files.move(sdir.resolve("bucket=4"), sdir.resolve(".compact-trash/bucket=4"))
    java.nio.file.Files.createDirectories(sdir.resolve(".compacting/bucket=4"))
    // replaying the write restores the bucket, truncates it, then appends
    t.writePoints("db1", "m1", "s1", pts((470L, Some(1L), Some(1.25), Some(1.0f))))
    val got = t.select("db1", "m1", "s1", Nil, 400L, 1000L).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(420L, 470L))
    assert(got.find(_.getLong(0) == 470L).get.getDouble(2) == 1.25)
  }

  test("crashed FIRST append (no watermark yet) replays without duplicates") {
    val t = mkTsdb()
    t.createDatabase("db1")
    t.createMeasurement("db1", "m1", schema)
    import org.apache.spark.sql.functions.expr
    // simulate: the very first append committed data, then died before the
    // watermark write — storage has rows, _meta has only the intent record
    pts((100L, Some(1L), Some(1.5), Some(1.0f)),
        (150L, Some(2L), Some(2.5), Some(2.0f)))
      .withColumn("bucket", expr("time_ns div 100L"))
      .write.mode("append").partitionBy("bucket")
      .parquet(s"${t.rootDir}/db1/m1/data/series=s1")
    plantIntent(t, "s1")
    assert(t.seriesRange("db1", "m1", "s1").isEmpty)
    // the replay must drop the orphaned storage first — one copy of each
    // point, no overlap-verify false positive, watermark covers the batch
    val res = t.writePoints("db1", "m1", "s1",
      pts((100L, Some(1L), Some(1.5), Some(1.0f)),
          (150L, Some(2L), Some(2.5), Some(2.0f))))
    assert(res.written == 2 && res.discarded == 0 && res.overwriteVerified == 0)
    val got = t.select("db1", "m1", "s1", Nil, 0L, 1000L).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(100L, 150L))
    assert(t.seriesRange("db1", "m1", "s1").contains(SeriesRange(100L, 150L)))
  }

  test("a crashed two-series record is recovered one series per writer") {
    val t = mkTsdb()
    freshSeries(t, baseRows: _*)
    t.writePoints("db1", "m1", "s2", pts(baseRows: _*)) // both time_last = 420
    import org.apache.spark.sql.functions.expr
    // the crashed batch committed an orphan above time_last for each series
    Seq("s1", "s2").foreach { sn =>
      pts((470L, Some(9L), Some(9.0), Some(9.0f)))
        .withColumn("bucket", expr("time_ns div 100L"))
        .write.mode("append").partitionBy("bucket")
        .parquet(s"${t.rootDir}/db1/m1/data/series=$sn")
    }
    val record = plantIntent(t, "s1", "s2")
    def stored(sn: String): Seq[Long] =
      spark.read.parquet(s"${t.rootDir}/db1/m1/data/series=$sn").select("time_ns")
        .as[Long].collect().toSeq.sorted
    def visible(sn: String): Seq[Long] =
      t.select("db1", "m1", sn, Nil, 0L, 1000L).collect().map(_.getLong(0)).toSeq
    def records: Seq[String] = new java.io.File(s"${t.rootDir}/db1/m1/_meta").listFiles()
      .filter(_.getName.endsWith(".pending")).map(f => java.nio.file.Files.readString(f.toPath)).toSeq

    // a write of s1 recovers s1 only: the one record left (a fresh one; the
    // planted record is gone) names s2, whose orphan stays on disk and
    // stays invisible
    t.writePoints("db1", "m1", "s1", pts((480L, Some(1L), Some(1.25), Some(1.0f))))
    assert(visible("s1") == baseRows.map(_._1) :+ 480L)
    assert(!java.nio.file.Files.exists(record))
    assert(records == Seq("s2\n"))
    assert(stored("s2") == baseRows.map(_._1) :+ 470L)
    assert(visible("s2") == baseRows.map(_._1))
    // the next write of s2 truncates its orphan and removes the record
    t.writePoints("db1", "m1", "s2", pts((490L, Some(1L), Some(1.25), Some(1.0f))))
    assert(stored("s2") == baseRows.map(_._1) :+ 490L)
    assert(records.isEmpty)
  }

  test("a leftover record naming only another series survives a write untouched") {
    val t = mkTsdb()
    freshSeries(t, baseRows: _*)
    // the in-flight (or crashed) record of a concurrent one-series writer
    val record = plantIntent(t, "s2")
    val before = java.nio.file.Files.getLastModifiedTime(record)
    t.writePoints("db1", "m1", "s1", pts((470L, Some(1L), Some(1.25), Some(1.0f))))
    assert(t.seriesRange("db1", "m1", "s1").contains(SeriesRange(100L, 470L)))
    assert(java.nio.file.Files.readString(record) == "s2\n")
    assert(java.nio.file.Files.getLastModifiedTime(record) == before)
  }

  test("a per-series marker of the old form fails the write loudly; nothing lands") {
    val t = mkTsdb()
    freshSeries(t, baseRows: _*)
    val old = java.nio.file.Paths.get(s"${t.rootDir}/db1/m1/_meta/.s1.pending")
    java.nio.file.Files.createDirectories(old.getParent)
    java.nio.file.Files.writeString(old, "{\"version\":1}")
    val e = intercept[InvalidSchemaException] {
      t.writePoints("db1", "m1", "s1", pts((470L, Some(1L), Some(1.25), Some(1.0f))))
    }
    assert(e.getMessage.contains(".s1.pending"), e.getMessage)
    assert(t.seriesRange("db1", "m1", "s1").contains(SeriesRange(100L, 420L)))
    assert(spark.read.parquet(s"${t.rootDir}/db1/m1/data/series=s1").count() == baseRows.size)
  }

  test("negative timestamps: write buckets match read pruning (floor semantics)") {
    val t = mkTsdb() // bucket width 100
    t.createDatabase("db1")
    t.createMeasurement("db1", "m1", schema)
    t.writePoints("db1", "m1", "s1", pts(
      (-150L, Some(1L), Some(1.0), Some(1.0f)),   // floorDiv -> bucket -2
      (-100L, Some(2L), Some(2.0), Some(2.0f)),   // bucket -1
      (-1L, Some(3L), Some(3.0), Some(3.0f)),     // bucket -1
      (0L, Some(4L), Some(4.0), Some(4.0f))))     // bucket 0
    // the pruned read of [-150,-1] must see all three pre-epoch points
    val got = t.select("db1", "m1", "s1", Nil, -150L, -1L).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(-150L, -100L, -1L))
    // and the stored directory layout uses floor buckets, not div-toward-zero
    val dirs = new java.io.File(s"${t.rootDir}/db1/m1/data/series=s1")
      .listFiles().map(_.getName).filter(_.startsWith("bucket=")).sorted.toSeq
    assert(dirs == Seq("bucket=-1", "bucket=-2", "bucket=0"))
  }

  test("bucket width: explicit mismatch on open rejects; omitted adopts persisted") {
    val t = mkTsdb() // creates root with width 100
    intercept[InvalidSchemaException](new Tsdb(spark, t.rootDir, requestedBucketWidth = 200L))
    assert(new Tsdb(spark, t.rootDir).bucketWidth == 100L)
    assert(new Tsdb(spark, t.rootDir, requestedBucketWidth = 100L).bucketWidth == 100L)
  }

  // ------------------------------------------------------------- compact

  test("compact merges fragmented buckets, preserves data, and is idempotent") {
    val t = mkTsdb() // bucket width 100
    t.createDatabase("db1")
    t.createMeasurement("db1", "m1", schema)
    // 4 appends into the same two buckets -> fragmented
    Seq(Seq(100L, 110L), Seq(120L, 130L), Seq(140L, 210L), Seq(220L, 230L)).foreach { ts =>
      t.writePoints("db1", "m1", "s1",
        pts(ts.map(x => (x, Some(x), Some(x * 1.5), Some(x.toFloat))): _*))
    }
    def filesIn(b: Long): Int = new java.io.File(
      s"${t.rootDir}/db1/m1/data/series=s1/bucket=$b")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(filesIn(1) > 1 && filesIn(2) > 1)
    val before = t.select("db1", "m1", "s1", Nil, 0L, 1000L).collect().map(_.toSeq).toSeq

    assert(t.compact("db1", "m1", "s1") == 2L)
    assert(filesIn(1) == 1 && filesIn(2) == 1)
    val after = t.select("db1", "m1", "s1", Nil, 0L, 1000L).collect().map(_.toSeq).toSeq
    assert(after == before)
    assert(t.seriesRange("db1", "m1", "s1").contains(SeriesRange(100L, 230L)))
    // already-compacted series: no-op
    assert(t.compact("db1", "m1", "s1") == 0L)
    // appends after compaction keep working
    t.writePoints("db1", "m1", "s1", pts((240L, Some(9L), Some(9.0), Some(9.0f))))
    assert(t.select("db1", "m1", "s1", Nil, 0L, 1000L).count() == before.size + 1)
  }

  test("compact crash recovery: a bucket caught mid-swap is restored") {
    val t = mkTsdb()
    t.createDatabase("db1")
    t.createMeasurement("db1", "m1", schema)
    t.writePoints("db1", "m1", "s1", pts((100L, Some(1L), Some(1.5), Some(1.0f))))
    t.writePoints("db1", "m1", "s1", pts((110L, Some(2L), Some(2.5), Some(2.0f))))
    val sdir = java.nio.file.Paths.get(s"${t.rootDir}/db1/m1/data/series=s1")
    // simulate a crash between "old -> trash" and "new -> live": the live
    // bucket dir is missing, its old files sit in the trash dir
    java.nio.file.Files.createDirectories(sdir.resolve(".compact-trash"))
    java.nio.file.Files.move(sdir.resolve("bucket=1"),
      sdir.resolve(".compact-trash/bucket=1"))
    // next compact() first restores, then re-compacts the fragmented bucket
    assert(t.compact("db1", "m1", "s1") == 1L)
    val got = t.select("db1", "m1", "s1", Nil, 0L, 1000L).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(100L, 110L))
  }

  // ------------------------------------------------------------- scale

  test("range reads prune partitions: bucket filter present, untouched buckets skipped") {
    val t = mkTsdb()
    freshSeries(t, baseRows: _*)
    val df = t.select("db1", "m1", "s1", Nil, 200L, 299L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    val pf = plan.linesIterator.mkString("\n")
    // the scan must carry a bucket partition predicate, not scan all buckets
    assert(pf.matches("(?s).*PartitionFilters: \\[[^\\]]*bucket[^\\]]*\\].*"), plan)
  }

  // ------------------------------------------------------- value index

  private def vpts(rows: (Long, Option[Double])*): DataFrame =
    rows.toSeq.map { case (t, v) => (t, Option.empty[Long], v, Option.empty[Float]) }
      .toDF("time_ns", "a", "v", "g")

  /** Files the final (adaptive) plan's scans select after partition
    * pruning — the executable data-skipping gate. */
  private def filesRead(df: DataFrame): Long = {
    df.collect()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scan(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scan(a.executedPlan)
      case q: QueryStageExec        => scan(q.plan)
      case f: FileSourceScanExec    => Seq(f)
      case other => other.children.flatMap(scan)
    }
    val scans = scan(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    scans.map(_.selectedPartitions.totalNumberOfFiles).sum
  }

  test("value index prunes immutable buckets at the directory level") {
    val t = mkTsdb()
    t.createDatabase("db1"); t.createMeasurement("db1", "m1", schema)
    // bucket 0 low, bucket 1 the only in-band values, bucket 2 low again,
    // bucket 3 all-NULL (must prune: NULL never matches a BETWEEN band)
    t.writePoints("db1", "m1", "s1", vpts(
      (10L, Some(1.0)), (20L, Some(2.0)),
      (110L, Some(100.0)), (120L, Some(101.0)),
      (210L, Some(3.0)), (220L, Some(4.0)),
      (310L, None), (320L, None)))
    // advance time_last into bucket 4: buckets 0-3 sit strictly below the
    // build watermark's bucket, i.e. immutable and prunable
    t.writePoints("db1", "m1", "s1", vpts((410L, Some(5.0))))
    assert(t.buildValueIndex("db1", "m1", "v") == 5L)
    val df = t.selectValueRange("db1", "m1", "s1", "v", 50.0, 150.0, 0L, 399L)
    assert(df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted ==
      Seq((110L, 100.0), (120L, 101.0)))
    // the executable prune gate: exactly ONE bucket dir's file was opened
    assert(filesRead(df) == 1L)
    // unpruned baseline touches all four in-range bucket dirs
    val full = t.select("db1", "m1", "s1", Seq("v"), 0L, 399L)
      .filter(col("v").between(50.0, 150.0))
    assert(filesRead(full) == 4L)
  }

  test("value pruning keeps an immutable bucket whose max is NaN") {
    val t = mkTsdb()
    t.createDatabase("db1"); t.createMeasurement("db1", "m1", schema)
    // Spark's max ranks NaN above every number, so bucket 0 indexes as
    // [100.0, NaN]; it still holds an in-band point and must be read
    t.writePoints("db1", "m1", "s1", vpts(
      (10L, Some(100.0)), (20L, Some(Double.NaN)), (110L, Some(1.0)), (210L, Some(2.0))))
    assert(t.buildValueIndex("db1", "m1", "v") == 3L) // tl_at_build = 210
    val df = t.selectValueRange("db1", "m1", "s1", "v", 50.0, 150.0, 0L, 299L)
    assert(df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((10L, 100.0)))
    // bucket 0 kept, bucket 1 pruned, watermark bucket 2 scanned
    assert(filesRead(df) == 2L)
  }

  test("value-pruned reads stay correct when the index is stale") {
    val t = mkTsdb()
    t.createDatabase("db1"); t.createMeasurement("db1", "m1", schema)
    t.writePoints("db1", "m1", "s1", vpts(
      (10L, Some(1.0)), (110L, Some(100.0)), (210L, Some(3.0))))
    assert(t.buildValueIndex("db1", "m1", "v") == 3L) // tl_at_build = 210
    // post-build appends: in-band point in a bucket the index never saw
    t.writePoints("db1", "m1", "s1", vpts((305L, Some(100.5)), (350L, Some(2.0))))
    val df = t.selectValueRange("db1", "m1", "s1", "v", 50.0, 150.0, 0L, 399L)
    // the stale index still admits every bucket at/above its build
    // watermark's bucket, so the new point is found...
    assert(df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted ==
      Seq((110L, 100.0), (305L, 100.5)))
    // ...while the strictly-older out-of-band bucket 0 is still skipped
    // (buckets 1, 2, 3 scanned; bucket 2's file is the watermark-bucket
    // conservative scan, bucket 0 pruned)
    assert(filesRead(df) == 3L)
    // a series created AFTER the build falls back to the plain scan
    t.writePoints("db1", "m1", "s2", vpts((10L, Some(70.0))))
    val s2 = t.selectValueRange("db1", "m1", "s2", "v", 50.0, 150.0, 0L, 399L)
    assert(s2.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted ==
      Seq((10L, 70.0)))
  }

  test("zoom dispatches raw below maxDataPoints, windowed means above") {
    val t = mkTsdb()
    t.createDatabase("db1"); t.createMeasurement("db1", "m1", schema)
    t.writePoints("db1", "m1", "s1", vpts(
      (10L, Some(2.0)), (20L, Some(4.0)), (110L, Some(6.0)),
      (120L, None), (210L, Some(8.0))))
    // 5 points <= 5 -> raw passthrough (NULL field rides with n = 0)
    val raw = t.zoom("db1", "m1", "s1", "v", 0L, 299L, maxDataPoints = 5)
      .collect().sortBy(_.getLong(0))
    assert(raw.map(_.getString(3)).forall(_ == "raw"))
    assert(raw.length == 5 && raw.map(r => r.getLong(2)).toSeq == Seq(1L, 1L, 1L, 0L, 1L))
    // 5 points > 2 -> mean branch: span 300 / 2 -> W = 150; windows at
    // 0 (points 10, 20 -> mean 3.0) and 150 (210 -> 8.0)... wait, 110/120
    // land in window 0 (0..149): points 10,20,110 -> (2+4+6)/3 = 4.0
    val mean = t.zoom("db1", "m1", "s1", "v", 0L, 299L, maxDataPoints = 2)
      .collect().sortBy(_.getLong(0))
    assert(mean.map(_.getString(3)).forall(_ == "mean"))
    assert(mean.map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq ==
      Seq((0L, 4.0, 3L), (150L, 8.0, 1L)))
    // count DECIDES: the NULL-field point still counts toward npoints
    // (reference npoints is timestamps, not non-null values)
    val edge = t.zoom("db1", "m1", "s1", "v", 0L, 299L, maxDataPoints = 4)
    assert(edge.collect().map(_.getString(3)).forall(_ == "mean"))
  }

  test("refreshValueIndex restores pruning after the index decays") {
    val t = mkTsdb()
    t.createDatabase("db1"); t.createMeasurement("db1", "m1", schema)
    t.writePoints("db1", "m1", "s1", vpts(
      (10L, Some(1.0)), (110L, Some(100.0)), (210L, Some(3.0))))
    assert(t.buildValueIndex("db1", "m1", "v") == 3L) // tl_at_build = 210
    // age it: appends spanning buckets 3..7, all past the build watermark
    t.writePoints("db1", "m1", "s1", vpts(
      (310L, Some(4.0)), (410L, Some(100.5)), (510L, Some(5.0)),
      (610L, Some(6.0)), (710L, Some(7.0))))
    val decayed = t.selectValueRange("db1", "m1", "s1", "v", 50.0, 150.0, 0L, 799L)
    assert(decayed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted ==
      Seq((110L, 100.0), (410L, 100.5)))
    // the old index still prunes its immutable out-of-band bucket 0; the
    // watermark bucket 2 and everything after it are scanned
    assert(filesRead(decayed) == 7L)
    // refresh: re-aggregates only buckets >= the old watermark bucket (2),
    // keeps immutable rows, advances tl_at_build to 710
    assert(t.refreshValueIndex("db1", "m1", "v") == 8L)
    val pruned = t.selectValueRange("db1", "m1", "s1", "v", 50.0, 150.0, 0L, 799L)
    assert(pruned.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted ==
      Seq((110L, 100.0), (410L, 100.5)))
    // the executable gate is BACK: matching buckets 1 and 4, plus the new
    // watermark bucket 7's conservative scan = 3 files
    assert(filesRead(pruned) == 3L)
    // a series the index never saw joins on refresh, full-aggregated
    t.writePoints("db1", "m1", "s2", vpts((10L, Some(70.0)), (120L, Some(1.0))))
    assert(t.refreshValueIndex("db1", "m1", "v") == 10L)
    val s2 = t.selectValueRange("db1", "m1", "s2", "v", 50.0, 150.0, 0L, 799L)
    assert(s2.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((10L, 70.0)))
    // retention drops buckets 0-2 of s1 (time_first 310) and every bucket
    // of s2 (delete into the future): the refresh drops their rows, so the
    // sidecar holds exactly the live buckets 3-7 of s1
    t.applyRetention("db1", "m1", 250L)
    assert(t.refreshValueIndex("db1", "m1", "v") == 5L)
    val live = t.selectValueRange("db1", "m1", "s1", "v", 50.0, 150.0, 0L, 799L)
    assert(live.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((410L, 100.5)))
    // matching bucket 4 plus the watermark bucket 7
    assert(filesRead(live) == 2L)
    // refresh on a root with no index at all == full build
    val t2 = mkTsdb()
    t2.createDatabase("db1"); t2.createMeasurement("db1", "m1", schema)
    t2.writePoints("db1", "m1", "s1", vpts((10L, Some(1.0)), (110L, Some(2.0))))
    assert(t2.refreshValueIndex("db1", "m1", "v") == 2L)
  }

  test("refreshValueIndex on a zero-row sidecar rebuilds instead of crashing") {
    // retention can wipe every bucket while the watermark survives;
    // buildValueIndex then writes a VALID 0-row sidecar. A later refresh
    // finds no per-series stale floor in it: every series counts as never
    // indexed and is aggregated in full.
    val t = new Tsdb(spark, tmpDir("tsdb-test-"), requestedBucketWidth = 100L)
    t.createDatabase("db1"); t.createMeasurement("db1", "m1", schema)
    t.writePoints("db1", "m1", "s1", vpts((10L, Some(1.0)), (110L, Some(100.0))))
    // cut into the future past bucket 1 so EVERY bucket dir is physically
    // dropped (time_first advances to 251; the watermark row survives)
    t.deleteUpTo("db1", "m1", "s1", 250L)
    assert(t.buildValueIndex("db1", "m1", "v") == 0L)
    t.writePoints("db1", "m1", "s1", vpts((310L, Some(3.0)), (410L, Some(100.5))))
    assert(t.refreshValueIndex("db1", "m1", "v") == 2L)
    val df = t.selectValueRange("db1", "m1", "s1", "v", 50.0, 150.0, 0L, 999L)
    assert(df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((410L, 100.5)))
  }

  test("a failed buildValueIndex leaves no sidecar that breaks later reads") {
    CountingFs.register(spark)
    val t = new Tsdb(spark, CountingFs.path(tmpDir("tsdb-test-")), requestedBucketWidth = 100L)
    t.createDatabase("db1"); t.createMeasurement("db1", "m1", schema)
    t.writePoints("db1", "m1", "s1", vpts(
      (10L, Some(1.0)), (110L, Some(100.0)), (210L, Some(3.0))))
    // the sidecar's data file cannot be created: the write job fails
    CountingFs.failNextCreate(p =>
      p.toString.contains("/_vindex/") && p.getName.startsWith("part-"))
    intercept[Exception](t.buildValueIndex("db1", "m1", "v"))
    val df = t.selectValueRange("db1", "m1", "s1", "v", 50.0, 150.0, 0L, 299L)
    assert(df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((110L, 100.0)))
    assert(t.refreshValueIndex("db1", "m1", "v") == 3L)
    // and the index now prunes bucket 0
    val pruned = t.selectValueRange("db1", "m1", "s1", "v", 50.0, 150.0, 0L, 299L)
    assert(pruned.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((110L, 100.0)))
    assert(filesRead(pruned) == 2L)
  }

  test("refreshValueIndex tests no series against literals, with 1 and 2 series indexed") {
    import org.apache.spark.ListenerBridge
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.util.QueryExecutionListener
    for (indexed <- 1 to 2) {
      val t = mkTsdb()
      t.createDatabase("db1"); t.createMeasurement("db1", "m1", schema)
      def write(i: Int, t0: Long) =
        t.writePoints("db1", "m1", s"s$i", vpts((t0, Some(i.toDouble)), (t0 + 100L, Some(50.0))))
      (1 to indexed).foreach(write(_, 10L))
      assert(t.buildValueIndex("db1", "m1", "v") == 2L * indexed)
      // the indexed series grow; the others are new to the index
      (1 to indexed).foreach(write(_, 210L))
      (indexed + 1 to 3).foreach(write(_, 10L))
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
      val l = new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          plans.add(qe.executedPlan)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(l)
      val n = try {
        val n = t.refreshValueIndex("db1", "m1", "v")
        ListenerBridge.drain(spark.sparkContext)
        n
      } finally spark.listenerManager.unregister(l)
      // indexed series: buckets 0-3; the others: buckets 0-1
      assert(n == 4L * indexed + 2L * (3 - indexed))
      val all = plans.toArray(Array.empty[SparkPlan]).toSeq
      assert(all.exists(planNodes(_).exists(_.isInstanceOf[DataWritingCommandExec])),
        s"the sidecar write was not captured:\n${all.mkString("\n")}")
      for (p <- all)
        assert(seriesLiteralTests(p).isEmpty,
          s"refreshValueIndex must not test series against literals ($indexed indexed):\n$p")
    }
  }

  test("selectValueRange without an index is the plain filtered scan; bad field rejects") {
    val t = mkTsdb()
    freshSeries(t, baseRows: _*)
    val df = t.selectValueRange("db1", "m1", "s1", "v", 3.0, 7.0, 0L, 1000L)
    assert(df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted ==
      Seq((199L, 3.25), (290L, 5.5), (305L, 6.5)))
    intercept[InvalidSchemaException](
      t.selectValueRange("db1", "m1", "s1", "nope", 0.0, 1.0, 0L, 1000L))
    intercept[InvalidSchemaException](t.buildValueIndex("db1", "m1", "nope"))
  }

  test("watermark table merges concurrent same-version snapshots and deltas") {
    // two compactions + one delta racing at the SAME version — the
    // two-writer collision the uuid names + >= filter exist for: nothing
    // may be lost, latest-per-series wins
    val t = mkTsdb()
    freshSeries(t, baseRows: _*) // creates _wm with s1
    val wmDir = java.nio.file.Paths.get(t.rootDir, "db1", "m1", "_wm")
    def line(s: String, tf: Long, tl: Long) =
      s"""{"series":"$s","time_first":$tf,"time_last":$tl}""" + "\n"
    val header = """{"merged":[]}""" + "\n"
    java.nio.file.Files.writeString(wmDir.resolve("snap-0000000000000099-aaaaaaaa.jsonl"),
      header + line("s1", 100L, 420L) + line("sA", 1L, 10L))
    java.nio.file.Files.writeString(wmDir.resolve("snap-0000000000000099-bbbbbbbb.jsonl"),
      header + line("s1", 100L, 420L) + line("sB", 2L, 20L))
    java.nio.file.Files.writeString(wmDir.resolve("delta-0000000000000099-cccccccc.jsonl"),
      line("sC", 3L, 30L))
    val t2 = new Tsdb(spark, t.rootDir) // fresh store, no cache
    assert(t2.listSeries("db1", "m1") == Seq("s1", "sA", "sB", "sC"))
    assert(t2.seriesRange("db1", "m1", "sA").contains(SeriesRange(1L, 10L)))
    assert(t2.seriesRange("db1", "m1", "sB").contains(SeriesRange(2L, 20L)))
    assert(t2.seriesRange("db1", "m1", "sC").contains(SeriesRange(3L, 30L)))
  }

  test("select plan regression: time pushdown, pruned ReadSchema, bounded LAST") {
    // this is PLANS.md's hand audit as an executable gate — a layout or
    // read-path change that silently de-prunes the scan fails the build
    val t = mkTsdb()
    freshSeries(t, baseRows: _*)
    val plan = t.select("db1", "m1", "s1", Seq("v"), 200L, 299L)
      .queryExecution.executedPlan.toString
    // the time-range predicate reaches the parquet reader (row-group stats)
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*time_ns[^\\]]*\\].*"), plan)
    // projection pruning: unselected fields (a, g) never leave the scan
    val read = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(read.contains("time_ns") && read.contains("v"), plan)
    assert(!read.contains("\"a\"") && !read.contains("\"g\""), plan)
    // LAST k is a bounded top-k (TakeOrderedAndProject), never a global sort
    val lastPlan = t.select("db1", "m1", "s1", Seq("v"), 0L, 1000L, last = Some(2))
      .queryExecution.executedPlan.toString
    assert(lastPlan.contains("TakeOrderedAndProject"), lastPlan)
  }

  test("crashed bulk load heals on the next bulk load (no duplicates)") {
    val t = mkTsdb()
    freshSeries(t, baseRows: _*) // s1 watermark time_last = 420
    import org.apache.spark.sql.functions.expr
    // crash simulation: a bulk load committed files above s1's watermark and
    // created brand-new series s9, but died before any watermark advanced
    pts((500L, Some(9L), Some(9.0), Some(9.0f)))
      .withColumn("bucket", expr("time_ns div 100L"))
      .write.mode("append").partitionBy("bucket")
      .parquet(s"${t.rootDir}/db1/m1/data/series=s1")
    pts((10L, Some(1L), Some(1.0), Some(1.0f)))
      .withColumn("bucket", expr("time_ns div 100L"))
      .write.mode("append").partitionBy("bucket")
      .parquet(s"${t.rootDir}/db1/m1/data/series=s9")
    plantIntent(t, "s1", "s9")
    // s9 has data but no watermark -> listSeries (meta-based) ignores it
    assert(t.listSeries("db1", "m1") == Seq("s1"))
    // replay the whole bulk batch: s1's orphan is truncated then re-appended
    // (different value — replay wins), s9's orphan dir is dropped and rebuilt
    val w = t.bulkLoad("db1", "m1", Seq(
      ("s1", 500L, Option.empty[Long], Option(9.5), Option.empty[Float]),
      ("s9", 10L, Option.empty[Long], Option(1.5), Option.empty[Float]))
      .toDF("series", "time_ns", "a", "v", "g"))
    assert(w == Map("s1" -> 1L, "s9" -> 1L))
    val s1 = t.select("db1", "m1", "s1", Nil, 0L, 1000L).collect()
    assert(s1.map(_.getLong(0)).toSeq == baseRows.map(_._1) ++ Seq(500L))
    assert(s1.last.getDouble(2) == 9.5)
    val s9 = t.select("db1", "m1", "s9", Nil, 0L, 1000L).collect()
    assert(s9.map(r => (r.getLong(0), r.getDouble(2))).toSeq == Seq((10L, 1.5)))
  }

  test("bulkLoad: one-pass multi-series append; rejects overlap; discards delete window") {
    val t = mkTsdb()
    t.createDatabase("db1")
    t.createMeasurement("db1", "m1", schema)
    def bulk(rows: (String, Long, Option[Double])*): Map[String, Long] =
      t.bulkLoad("db1", "m1", rows.toSeq
        .map { case (s, ts, v) => (s, ts, Option.empty[Long], v, Option.empty[Float]) }
        .toDF("series", "time_ns", "a", "v", "g"))
    val w1 = bulk(("s1", 100L, Some(1.0)), ("s1", 250L, Some(2.0)),
                  ("s2", 120L, Some(9.0)))
    assert(w1 == Map("s1" -> 2L, "s2" -> 1L))
    assert(t.listSeries("db1", "m1") == Seq("s1", "s2"))
    // overlap with s1's time_last rejects the whole batch
    intercept[OverwriteMismatchException] {
      bulk(("s1", 250L, Some(2.0)), ("s2", 500L, Some(3.0)))
    }
    assert(t.countPoints("db1", "m1", "s2", 0L, Long.MaxValue - 1)
      .head().getLong(0) == 1L) // rejected batch wrote nothing
    // duplicate timestamps within one series reject
    intercept[OutOfOrderTimestampsException] {
      bulk(("s1", 300L, Some(1.0)), ("s1", 300L, Some(1.0)))
    }
    // delete-into-future on s2, then a bulk append into the window: the
    // windowed points are silently discarded, later ones land
    t.deleteUpTo("db1", "m1", "s2", 400L)
    val w2 = bulk(("s2", 390L, Some(4.0)), ("s2", 450L, Some(5.0)),
                  ("s1", 260L, Some(3.0)))
    assert(w2 == Map("s1" -> 1L, "s2" -> 1L))
    val s2 = t.select("db1", "m1", "s2", Seq("v"), 0L, Long.MaxValue - 1)
      .select("time_ns").as[Long].collect().toSeq
    assert(s2 == Seq(450L))
    val s1 = t.select("db1", "m1", "s1", Seq("v"), 0L, Long.MaxValue - 1)
      .select("time_ns").as[Long].collect().toSeq
    assert(s1 == Seq(100L, 250L, 260L))
  }

  test("concurrent writers to DIFFERENT series of one measurement lose nothing") {
    // the series-independence contract (reference doc/LOCKING.txt:3-8 —
    // writers serialize per series, never across series; this engine's
    // watermark store commits uuid-distinct deltas, WatermarkStore class
    // doc): N threads append batches to N distinct series of ONE
    // measurement concurrently through one SparkSession. Every point of
    // every series must read back exactly — a lost watermark update, a
    // clobbered delta file, or cross-series interference in the bucket
    // layout breaks a full-value assertion, not a count.
    val t = mkTsdb()
    t.createDatabase("db1")
    t.createMeasurement("db1", "m1", schema)
    val nWriters = 8
    val batches = 4
    val perBatch = 5
    def expected(si: Int): Seq[(Long, Option[Long], Option[Double], Option[Float])] =
      (0 until batches).flatMap { b =>
        (0 until perBatch).map { i =>
          val ts = 1000L * b + 10L * i + si // per-series unique, increasing
          (ts, Some(si.toLong * 100 + b), Some(si + b + i * 0.5),
            if ((i + b) % 4 == 0) None else Some(i.toFloat)) // some NULLs
        }
      }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nWriters)
    try {
      val futs = (0 until nWriters).map { si =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit =
            (0 until batches).foreach { b =>
              val rows = expected(si).slice(b * perBatch, (b + 1) * perBatch)
              t.writePoints("db1", "m1", s"s$si", pts(rows: _*))
            }
        })
      }
      futs.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS)) // rethrows
    } finally pool.shutdown()
    assert(t.listSeries("db1", "m1") == (0 until nWriters).map(i => s"s$i").sorted)
    (0 until nWriters).foreach { si =>
      val got = t.select("db1", "m1", s"s$si", Nil, 0L, Long.MaxValue - 1)
        .as[(Long, Option[Long], Option[Double], Option[Float])].collect().toSeq
      assert(got == expected(si), s"series s$si diverged after concurrent append")
    }
  }

  test("series keys with Hive-special characters round-trip every lifecycle face") {
    // tag-encoded TSDB keys routinely hold '=', ':', '%', '#' — writer and
    // pruned reader must agree on ONE escaped directory (r11 advice: raw
    // write dir vs escaped read dir silently returned empty)
    val root = tmpDir("tsdb-test-")
    val t = new Tsdb(spark, root, requestedBucketWidth = 100L)
    t.createDatabase("db1")
    t.createMeasurement("db1", "m1", schema)
    val key = "host=web-01:9100,dc=us%east#1"
    t.writePoints("db1", "m1", key, pts(baseRows: _*))
    assert(t.listSeries("db1", "m1") == Seq(key))
    val got = t.select("db1", "m1", key, Nil, 0L, 1000L)
      .as[(Long, Option[Long], Option[Double], Option[Float])].collect().toSeq
    assert(got == baseRows, "escaped-dir read must see the full write")
    assert(t.countPoints("db1", "m1", key, 0L, 1000L)
      .select("npoints").as[Long].head() == baseRows.size.toLong)
    // idempotent tail overwrite + fresh append through the same dir
    t.writePoints("db1", "m1", key, pts(
      (420L, Some(7L), Some(7.5), Some(7.0f)),
      (500L, Some(8L), Some(8.5), Some(8.0f))))
    // delete-from-front drops whole buckets below the watermark in that dir
    t.deleteUpTo("db1", "m1", key, 199L)
    assert(t.compact("db1", "m1", key) >= 0L)
    val after = t.select("db1", "m1", key, Seq("a"), 0L, 1000L)
      .as[(Long, Option[Long])].collect().toSeq
    assert(after.map(_._1) == Seq(210L, 290L, 305L, 420L, 500L))
    // multi-series faces reach the data through the unescape-matched
    // per-series listing — an escape mismatch would silently drop the key
    assert(t.listActiveSeries("db1", "m1", 0L, 1000L).collect()
      .map(x => (x.getString(0), x.getLong(1))).toSeq == Seq((key, 5L)))
    val wins = t.sumWindowsAll("db1", "m1", "v", 0L, 1000L, 1000L).collect()
    assert(wins.map(_.getString(0)).toSeq == Seq(key) &&
      wins.head.getLong(5) == 5L)
    // PERSISTENCE, not just in-session cache: a FRESH instance over the
    // same root must re-parse the watermark lines for the escaped key
    // (the store's signature cache hides a broken line format from the
    // writing instance — a restart is the only honest test)
    val t2 = new Tsdb(spark, root, requestedBucketWidth = 100L)
    assert(t2.listSeries("db1", "m1") == Seq(key))
    assert(t2.countPoints("db1", "m1", key, 0L, 1000L)
      .select("npoints").as[Long].head() == 5L)
    // raw-length-legal names whose ESCAPED form exceeds the filesystem
    // component limit fail loudly at validation, not mid-write
    intercept[InvalidSchemaException](
      t2.writePoints("db1", "m1", "=" * 100, pts(baseRows.head)))
  }
}
