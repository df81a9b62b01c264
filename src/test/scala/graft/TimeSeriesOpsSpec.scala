package graft

import graft.ops.TimeSeriesOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, sum}

/** Deterministic fixture for the windowed/sequential operator family —
  * the reference's unit-test layer (sum_op_test.cc empty-gap windows,
  * integral_op.cc edge cases, select_op_test.cc ordering), plus the
  * bucket-boundary repair that the Spark implementation adds. */
class TimeSeriesOpsSpec extends SparkTestBase {
  import spark.implicits._

  // series s: points at t=100..900; a gap leaves windows [300,400) and
  // [500,600) empty when windowed by 100
  private def fixture: DataFrame = Seq(
    ("s", 100L, Some(1.0)), ("s", 150L, Some(2.0)), ("s", 210L, Some(3.0)),
    ("s", 290L, Some(4.0)), ("s", 420L, Some(5.0)), ("s", 470L, None),
    ("s", 610L, Some(7.0)), ("s", 900L, Some(9.0))
  ).toDF("series", "ts", "v")

  test("firstWindowStart rounds t0 UP to an absolute multiple; numWindows counts complete windows") {
    assert(TimeSeriesOps.firstWindowStart(0L, 100L) == 0L)
    assert(TimeSeriesOps.firstWindowStart(1L, 100L) == 100L)
    assert(TimeSeriesOps.firstWindowStart(100L, 100L) == 100L)
    assert(TimeSeriesOps.numWindows(100L, 499L, 100L) == 4L) // [100,200)..[400,500): 400..499 ⊆ range
    assert(TimeSeriesOps.numWindows(100L, 498L, 100L) == 3L) // [400,500) no longer complete
    assert(TimeSeriesOps.numWindows(450L, 460L, 100L) == 0L) // no complete window fits
    // negative times round up, never toward zero; the Long edges do not wrap
    assert(TimeSeriesOps.firstWindowStart(-250L, 100L) == -200L)
    assert(TimeSeriesOps.firstWindowStart(-300L, 100L) == -300L)
    assert(TimeSeriesOps.numWindows(-300L, -1L, 100L) == 3L)
    assert(TimeSeriesOps.firstWindowStart(Long.MinValue, 1L << 62) == Long.MinValue)
    assert(TimeSeriesOps.numWindows(Long.MinValue, Long.MaxValue, 1L << 62) == 4L)
    assert(TimeSeriesOps.numWindows(Long.MaxValue - 5, Long.MaxValue, 100L) == 0L)
  }

  test("sumWindows emits EMPTY windows inside the range with zero sum and count 0") {
    val r = TimeSeriesOps.sumWindows(fixture, "ts", "v", 90L, 699L, 100L)
      .collect().map(x => (x.getLong(0), x.getDouble(1), x.getLong(4))).toSeq
    // t0=90 rounds up to 100; complete windows 100..600 ([600,700) ⊆ 699)
    assert(r == Seq(
      (100L, 3.0, 2L),  // 1+2
      (200L, 7.0, 2L),  // 3+4
      (300L, 0.0, 0L),  // EMPTY — emitted (reference sum_op.cc empty gap)
      (400L, 5.0, 1L),  // 5; the NULL at 470 is skipped by count(v) and sum
      (500L, 0.0, 0L),  // EMPTY
      (600L, 7.0, 1L)))
  }

  test("integral: trapezoid value, 1-point series, NULL poisoning") {
    // two points: (100,1) (300,3) -> ∫ = (1+3)/2 * 200 / ups(100) = 4
    val two = Seq(("a", 100L, Some(1.0)), ("a", 300L, Some(3.0)),
                  ("b", 50L, Some(7.5)),                       // single point -> value
                  ("c", 10L, Some(1.0)), ("c", 20L, None)      // NULL poisons
    ).toDF("series", "ts", "v")
    val r = TimeSeriesOps.integrate(two, "series", "ts", "v", 0L, 1000L, 100.0)
      .collect().map(x => (x.getString(0), x.getLong(1),
        if (x.isNullAt(4)) None else Some(x.getDouble(4)))).toSeq
    assert(r == Seq(("a", 2L, Some(4.0)), ("b", 1L, Some(7.5)), ("c", 2L, None)))
  }

  test("integrateMulti: per-field integrals in one pass, per-field NULL poisoning") {
    val df = Seq(
      ("a", 100L, Some(1.0), Some(2.0)), ("a", 300L, Some(3.0), Some(6.0)),
      ("c", 10L, Some(1.0), Some(5.0)), ("c", 20L, None, Some(7.0))
    ).toDF("series", "ts", "x", "y")
    val r = TimeSeriesOps.integrateMulti(df, "series", "ts", Seq("x", "y"),
        0L, 1000L, 100.0, bucketWidth = 100L)
      .collect().map(row => row.getString(0) -> (
        (if (row.isNullAt(4)) None else Some(row.getDouble(4)),
         if (row.isNullAt(5)) None else Some(row.getDouble(5))))).toMap
    assert(r("a") == ((Some(4.0), Some(8.0))))    // y = 2x -> double the integral
    assert(r("c") == ((None, Some(0.6))))         // x poisoned by NULL, y intact
  }

  test("bucket-boundary repair: difference/derivative/integral identical for any bucket width") {
    val wide = TimeSeriesOps.difference(fixture.filter($"v".isNotNull), "series", "ts", "v",
        bucketWidth = 1000000L)
      .select("ts", "difference").collect().map(r =>
        (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    val narrow = TimeSeriesOps.difference(fixture.filter($"v".isNotNull), "series", "ts", "v",
        bucketWidth = 100L) // every point in its own bucket -> all boundaries repaired
      .select("ts", "difference").collect().map(r =>
        (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(wide == narrow)
    assert(narrow(100L).isEmpty)          // first point has no predecessor
    assert(narrow(420L).contains(1.0))    // 5.0 - 4.0 across the gap

    val iWide = TimeSeriesOps.integrate(fixture, "series", "ts", "v", 0L, 299L, 100.0,
      bucketWidth = 1000000L).collect().head.getDouble(4)
    val iNarrow = TimeSeriesOps.integrate(fixture, "series", "ts", "v", 0L, 299L, 100.0,
      bucketWidth = 100L).collect().head.getDouble(4)
    assert(iWide == iNarrow) // partial sums + boundary terms == sequential pass
  }

  test("tare subtracts the series-first value; selectLast emits ascending") {
    val t = TimeSeriesOps.tare(fixture.filter($"v".isNotNull), "series", "ts", "v",
        bucketWidth = 100L)
      .select("ts", "tare").collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(t(100L) == 0.0 && t(290L) == 3.0 && t(900L) == 8.0)
    val last = TimeSeriesOps.selectLast(fixture, "ts", 0L, 1000L, 3, Seq("ts", "v"))
      .collect().map(_.getLong(0)).toSeq
    assert(last == Seq(470L, 610L, 900L)) // last 3, ASCENDING
  }

  test("slidingWindows: overlap factor, alignment, and empty-window emission") {
    // w=200 slide=100 over fixture [90, 699]: starts 100..500 ([s, s+200) ⊆ 699)
    val r = TimeSeriesOps.slidingWindows(fixture, "ts", "v", 90L, 699L, 200L, 100L)
      .collect().map(x => (x.getLong(0), x.getDouble(1), x.getLong(4))).toSeq
    assert(r == Seq(
      (100L, 10.0, 4L),  // 1+2+3+4 in [100,300)
      (200L, 7.0, 2L),   // 3+4 in [200,400)
      (300L, 5.0, 1L),   // 5 in [300,500); NULL at 470 not counted
      (400L, 5.0, 1L),   // 5 in [400,600)
      (500L, 7.0, 1L)))  // 7 at 610 in [500,700)
  }

  test("asofJoin: >= tie semantics, empty-bucket carry, pre-history NULLs") {
    // bucketWidth 100: right has nothing in buckets 2..3 — lefts there must
    // carry bucket 1's last right value across the empty gap; the left row
    // before any right data gets NULLs; equal timestamps match (>=).
    val left = Seq(40L, 120L, 150L, 250L, 360L, 400L)
      .map(t => (t, t * 10.0)).toDF("ts", "lv")
    val right = Seq((50L, 1.0), (120L, 2.0), (199L, 3.0), (400L, 4.0))
      .toDF("ts", "rv")
    val got = TimeSeriesOps.asofJoin(left, right, "ts", "rv", bucketWidth = 100L)
      .select("ts", "asof_time", "asof_rv")
      .collect().map(r => r.getLong(0) -> (
        (if (r.isNullAt(1)) None else Some(r.getLong(1)),
         if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    assert(got(40L) == (None, None))                 // before all right data
    assert(got(120L) == (Some(120L), Some(2.0)))     // equal ts matches
    assert(got(150L) == (Some(120L), Some(2.0)))
    assert(got(250L) == (Some(199L), Some(3.0)))     // bucket 2: cross-bucket carry
    assert(got(360L) == (Some(199L), Some(3.0)))     // bucket 3: across EMPTY bucket
    assert(got(400L) == (Some(400L), Some(4.0)))
  }

  test("sessionize merges sessions across bucket edges and splits at the gap") {
    // buckets of 100, gap 30: one session runs 80..210 ACROSS two bucket
    // edges; silence >30 then a burst 300..310; a lone point at 900
    val pts = Seq(80L, 105L, 130L, 160L, 185L, 210L, 300L, 310L, 900L)
      .map(t => ("s", t)).toDF("series", "ts")
    val got = TimeSeriesOps.sessionize(pts, "series", "ts", gapUs = 30L,
        bucketWidth = 100L)
      .select("session_start", "session_end", "n")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((80L, 210L, 6L), (300L, 310L, 2L), (900L, 900L, 1L)))
  }

  test("gapFill: locf carries forward, linear interpolates, edges take nearest") {
    val df = Seq((150L, 2.0), (160L, 4.0), (410L, 9.0)).toDF("ts", "v")
    val r = TimeSeriesOps.gapFill(df, "ts", "v", 0L, 499L, 100L)
      .collect().map(x => (x.getLong(0),
        if (x.isNullAt(3)) None else Some(x.getDouble(3)),
        if (x.isNullAt(4)) None else Some(x.getDouble(4)))).toSeq
    // windows 0..400: [100] mean 3, [400] mean 9, rest empty
    assert(r == Seq(
      (0L, None, Some(3.0)),           // leading gap: no locf, linear backfills
      (100L, Some(3.0), Some(3.0)),
      (200L, Some(3.0), Some(5.0)),    // 3 + 6 * (100/300)
      (300L, Some(3.0), Some(7.0)),    // 3 + 6 * (200/300)
      (400L, Some(9.0), Some(9.0))))
  }

  test("gapFill chunk-boundary repair: any chunk size gives identical fills") {
    // sparse series over 40 windows; gaps span several 4-window chunks, the
    // leading/trailing gaps cross chunk edges too
    val pts = Seq((120L, 2.0), (1510L, 8.0), (1580L, 10.0), (3270L, 3.0))
      .toDF("ts", "v")
    def run(cw: Long) = TimeSeriesOps.gapFill(pts, "ts", "v", 0L, 3999L, 100L, cw)
      .collect().map(_.toSeq).toSeq
    val oneChunk = run(1024L) // whole spine in one chunk = the naive shape
    assert(run(4L) == oneChunk)  // cross-chunk carry repaired
    assert(run(1L) == oneChunk)  // every window its own chunk: pure repair
    assert(oneChunk.size == 40)
  }

  test("sumWindowsMulti aggregates every field in one pass, empty windows included") {
    val df = Seq((100L, Some(1.0), Some(10L)), (150L, None, Some(20L)),
                 (250L, Some(3.0), None), (460L, Some(4.0), Some(40L)))
      .toDF("ts", "a", "b")
    val r = TimeSeriesOps.sumWindowsMulti(df, "ts", Seq("a", "b"), 100L, 499L, 100L,
        sumFor = { case "b" => sum(col("b")); case c => TimeSeriesOps.sumExact2(col(c)) })
      .collect().map(x => (x.getLong(0), x.getDouble(1), x.getLong(4),
        x.getLong(5), x.getLong(8))).toSeq
    // (window, sum_a, n_a, sum_b, n_b): per-field NULLs counted separately
    assert(r == Seq(
      (100L, 1.0, 1L, 30L, 2L),
      (200L, 3.0, 1L, 0L, 0L),   // b all-NULL in a non-empty window
      (300L, 0.0, 0L, 0L, 0L),   // fully empty window still emitted
      (400L, 4.0, 1L, 40L, 1L)))
  }

  test("rate handles counter resets: post-reset reading is the increase") {
    // counter climbs 10→30, resets to 4 (restart), climbs to 9; ups=1 (ts in s)
    val df = Seq(("c", 10L, 10.0), ("c", 20L, 30.0), ("c", 30L, 4.0), ("c", 40L, 9.0))
      .toDF("series", "ts", "v")
    val got = TimeSeriesOps.rate(df, "series", "ts", "v", 1.0, bucketWidth = 25L)
      .select("ts", "rate").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(10L).isEmpty)               // first point
    assert(got(20L).contains(2.0))         // (30-10)/10
    assert(got(30L).contains(0.4))         // reset: increase = 4, across bucket edge
    assert(got(40L).contains(0.5))         // (9-4)/10
  }

  test("histogram bins by floor(v/width) with per-bin count and actual min/max") {
    val got = TimeSeriesOps.histogram(fixture, "series", "v", binWidth = 2.0)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toSeq
    // values 1,2,3,4,5,7,9 (NULL dropped): bins 0:[1], 1:[2,3], 2:[4,5], 3:[7], 4:[9]
    assert(got == Seq((0L, 1L, 1.0, 1.0), (1L, 2L, 2.0, 3.0),
      (2L, 2L, 4.0, 5.0), (3L, 1L, 7.0, 7.0), (4L, 1L, 9.0, 9.0)))
  }

  test("quantiles pick the value at rank floor((n-1)*q), duplicates and all") {
    // 2 series; 's' has a duplicated value so the cumulative walk must span it
    val df = Seq(("s", 1.0), ("s", 2.0), ("s", 2.0), ("s", 3.0), ("s", 10.0),
                 ("t", 5.0)).toDF("series", "v")
    val got = TimeSeriesOps.quantiles(df, "series", "v", Seq(0.0, 0.5, 0.9, 1.0))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    // s sorted: 1,2,2,3,10 (n=5): q0→idx0=1; q.5→idx2=2; q.9→idx⌊3.6⌋=3; q1→idx4=10
    assert(got(("s", 0.0)) == 1.0 && got(("s", 0.5)) == 2.0)
    assert(got(("s", 0.9)) == 3.0 && got(("s", 1.0)) == 10.0)
    assert(got(("t", 0.5)) == 5.0) // single point: every quantile is it
  }

  test("histogramEqDepth: quartile boundaries give perfect quartile bins") {
    // values 1..8: quantile picks at .25/.5/.75 (lower) = 2, 4, 6 ->
    // bins (-inf,2],(2,4],(4,6],(6,inf) each hold exactly 2 points
    val df = (1 to 8).map(i => ("s", i.toDouble)).toDF("series", "v")
    val got = TimeSeriesOps.histogramEqDepth(df, "series", "v", k = 4)
      .select("bin", "n", "min_value", "max_value")
      .as[(Int, Long, Double, Double)].collect().toSeq
    assert(got == Seq((0, 2L, 1.0, 2.0), (1, 2L, 3.0, 4.0),
      (2, 2L, 5.0, 6.0), (3, 2L, 7.0, 8.0)))
    // heavy duplication: >half the mass on one value -> duplicate
    // boundaries collapse bins; absent bins are empty, counts still exact
    val dup = (Seq.fill(6)(5.0) ++ Seq(1.0, 9.0)).map(("d", _)).toDF("series", "v")
    val bins = TimeSeriesOps.histogramEqDepth(dup, "series", "v", k = 4)
      .select("bin", "n").as[(Int, Long)].collect().toMap
    assert(bins.values.sum == 8L && bins(3) == 1L) // only 9.0 clears all bounds
  }

  test("lttbDownsample: endpoint rule, centroid-anchored max-area pick, time tiebreak") {
    val df = Seq(
      ("s", 1L, 10.0), ("s", 2L, 0.0),    // bucket 0: centroid (1.5, 5.0)
      ("s", 11L, 5.0),                     // bucket 1: area 20*|v-5| = 0
      ("s", 12L, 9.0),                     //   area 80  <- picked (tie, earlier t)
      ("s", 14L, 1.0),                     //   area 80 too, later t
      ("s", 21L, 10.0), ("s", 22L, 0.0)    // bucket 2: centroid (21.5, 5.0)
    ).toDF("series", "time_us", "v")
    val got = TimeSeriesOps.lttbDownsample(df, "series", "time_us", "v", bucketUs = 10L)
      .select("bucket", "time_us", "v").as[(Long, Long, Double)].collect().toSeq
    // first bucket keeps its FIRST point, last keeps its LAST; the middle
    // bucket picks max area vs neighbor centroids, ties -> earliest time
    assert(got == Seq((0L, 1L, 10.0), (1L, 12L, 9.0), (2L, 22L, 0.0)))
  }

  test("madOutliers flags |v-med| > k*MAD with exact lower-median picks") {
    // s: values 1..7 plus a wild 1000 -> n=8, sorted 1,2,3,4,5,6,7,1000,
    // lower median = idx 3 = 4; devs |v-4| = 3,2,1,0,1,2,3,996 sorted
    // 0,1,1,2,2,3,3,996 -> MAD = idx 3 = 2; threshold 3*2=6 flags only 1000.
    // The 1000 itself CANNOT drag the median/MAD — that's the point vs z-score.
    val s = (1 to 7).map(i => ("s", i.toLong, i.toDouble)) :+ ("s", 8L, 1000.0)
    // t: constant-majority series -> MAD 0, every non-median value flags
    val t = Seq(("t", 1L, 5.0), ("t", 2L, 5.0), ("t", 3L, 5.0), ("t", 4L, 9.0))
    val df = (s ++ t).toDF("series", "time_us", "v")
    val got = TimeSeriesOps.madOutliers(df, "series", "time_us", "v", k = 3.0)
      .select("series", "time_us", "v").as[(String, Long, Double)]
      .collect().toSeq
    assert(got == Seq(("s", 8L, 1000.0), ("t", 4L, 9.0)))
    // med/mad columns carry the exact picks
    val full = TimeSeriesOps.madOutliers(df, "series", "time_us", "v", k = 3.0)
      .filter($"series" === "s").select("med", "mad").as[(Double, Double)]
      .collect().head
    assert(full == ((4.0, 2.0)))
  }

  test("rangeJoinAgg counts right rows in the trailing window across bucket edges") {
    val left = Seq(100L, 210L, 400L).map(t => (t, t * 1.0)).toDF("ts", "lv")
    val right = Seq((90L, 1.0), (150L, 2.0), (205L, 3.0), (350L, 4.0))
      .toDF("ts", "rv")
    // lookback 80, buckets of 100: window [130,210] for left 210 crosses the
    // 200 boundary and must see both 150 (prior bucket) and 205
    val got = TimeSeriesOps.rangeJoinAgg(left, right, "ts", "rv",
        lookback = 80L, bucketWidth = 100L)
      .select("ts", "n_in_window", "max_in_window")
      .collect().map(r => r.getLong(0) -> (
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    assert(got(100L) == ((1L, Some(1.0))))   // only 90; 150 is in the future
    assert(got(210L) == ((2L, Some(3.0))))   // 150 + 205, across the edge
    assert(got(400L) == ((1L, Some(4.0))))   // 350 from the prior bucket
  }
}
