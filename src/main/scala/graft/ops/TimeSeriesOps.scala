package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType, DecimalType, DoubleType, FloatType}

/** The reference's complete query-operator surface (SURVEY.md §2.1),
  * re-expressed as declarative DataFrame transforms so Catalyst handles
  * pruning / pushdown / codegen. All ops are time-unit agnostic: pass
  * `unitsPerSecond` (1e9 for ns-native engine tables, 1e6 for the
  * µs-normalized oracle queries).
  *
  * Scale notes (100 TB posture):
  *  - every op is a filter/agg/window over the time+series columns; with the
  *    storage layout partitioned by (series, time bucket) the scans prune to
  *    the touched partitions and the per-series window functions shuffle
  *    once on `series` (reference series are "embarrassingly parallel",
  *    doc/LOCKING.txt:3-8 — same property holds here: partition-by-series).
  *  - windows: every windowed op keys a point by [[windowStart]] (floor
  *    alignment, so negative times land in the window that holds them) and
  *    keeps the points of the COMPLETE windows of `[t0, t1]`, counted in
  *    exact arithmetic. The ops that emit empty windows share one spine:
  *    generated distributed (`spark.range`, never a driver loop),
  *    left-joined to the per-window aggregate, then one global `orderBy`.
  *    Every windowed sum follows [[windowSum]] and every windowed mean
  *    [[windowMean]], here, in the engine and in the streaming ops.
  */
object TimeSeriesOps {

  /** Exact SUM over a fixed-2-decimal double column: aggregate in decimal so
    * the result is independent of partial-aggregation order (bitwise equal
    * across Spark/DuckDB), then surface as double. */
  def sumExact2(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")

  private def isFloat(t: DataType): Boolean = t == DoubleType || t == FloatType

  /** The sum rule of every windowed aggregate, chosen from the type of `c`
    * in `df`:
    *  - floats (F64, F32) take [[sumExact2]], an order-independent decimal
    *    accumulation that is bitwise equal across partial-aggregation
    *    orders and engines. Its domain: values are rounded to 2 decimals,
    *    and the sum must stay below 10^16 (`Decimal(18,2)`), past which it
    *    throws;
    *  - integers and decimals (U64) take the native `sum`, exact in their
    *    own type (a decimal-2 sum overflows past 10^16, a double one is
    *    inexact past 2^53);
    *  - bools count their trues. */
  private[graft] def windowSum(df: DataFrame, c: String): Column = df.schema(c).dataType match {
    case t if isFloat(t) => sumExact2(col(c))
    case BooleanType     => sum(col(c).cast("long"))
    case _               => sum(col(c))
  }

  /** The mean rule of every windowed aggregate: the [[windowSum]] of `c` as
    * a double over its non-null count, the reference clients' MEAN
    * (src/tsdbcli2/main.cc:203-238). A float sum is a double already; a
    * bool mean is the fraction of trues. */
  private[graft] def windowMean(df: DataFrame, c: String): Column = {
    val s = windowSum(df, c)
    (if (isFloat(df.schema(c).dataType)) s else s.cast("double")) / count(col(c))
  }

  /** Op #1 (select_op_first, reference src/libtsdb/select_op.cc:175-231):
    * range scan [t0,t1] inclusive + projection + LIMIT, time-ascending.
    * `tiebreak` makes ordering total (the reference never needs one because
    * series timestamps are unique; a generic engine does). */
  def selectRange(df: DataFrame, tsCol: String, t0: Long, t1: Long,
                  projection: Seq[String], limit: Option[Int],
                  tiebreak: Seq[String] = Nil): DataFrame = {
    val ordered = df
      .filter(col(tsCol) >= t0 && col(tsCol) <= t1)
      .select(projection.map(col): _*)
      .orderBy((tsCol +: tiebreak).map(col): _*)
    limit.fold(ordered)(ordered.limit) // TakeOrderedAndProject when limited
  }

  /** Op #2 (select_op_last, reference src/libtsdb/select_op.cc:233-371):
    * last N points of the range, still emitted ascending. */
  def selectLast(df: DataFrame, tsCol: String, t0: Long, t1: Long, n: Int,
                 projection: Seq[String], tiebreak: Seq[String] = Nil): DataFrame = {
    val keys = tsCol +: tiebreak
    df.filter(col(tsCol) >= t0 && col(tsCol) <= t1)
      .select(projection.map(col): _*)
      .orderBy(keys.map(col(_).desc): _*)
      .limit(n)
      .orderBy(keys.map(col): _*)
  }

  /** Op #5 (count_points, reference src/libtsdb/count.cc:100-112):
    * (npoints, time_first, time_last) of the matching range. The reference
    * answers from index arithmetic; Parquet answers from row-group stats +
    * a single-column scan. */
  def countPoints(df: DataFrame, tsCol: String, t0: Long, t1: Long): DataFrame =
    df.filter(col(tsCol) >= t0 && col(tsCol) <= t1)
      .agg(count(lit(1)).as("npoints"),
           min(tsCol).as("time_first"),
           max(tsCol).as("time_last"))

  /** Op #12 (list_active_series, reference src/libtsdb/measurement.cc:49-63):
    * series with >= 1 point in range, with their counts. */
  def activeSeries(df: DataFrame, seriesCol: String, tsCol: String,
                   t0: Long, t1: Long): DataFrame =
    df.filter(col(tsCol) >= t0 && col(tsCol) <= t1)
      .groupBy(col(seriesCol).as("series")).agg(count(lit(1)).as("npoints"))
      .orderBy("series")

  /** Start of the `w`-wide window that holds `t`: `t` floored to a multiple
    * of `w` (reference src/libtsdb/sum_op.cc:9-10 — windows sit on absolute
    * multiples of window_ns). `pmod` is never negative, so a negative time
    * rounds down into its own window, not toward zero. The one alignment
    * rule of every windowed op, here and in the engine. */
  private[graft] def windowStart(t: Column, w: Long): Column = t - pmod(t, lit(w))

  private def clamp(b: BigInt): Long = b.max(Long.MinValue).min(Long.MaxValue).toLong

  /** The complete windows of `[t0, t1]` that are `width` wide and start on
    * multiples of `step`: `n` of them from `first`. Exact (BigInt, like the
    * engine's zoom width), so no bound wraps at the edges of the `Long`
    * range. */
  private final class Grid(t0: Long, t1: Long, val step: Long, width: Long) {
    require(step > 0 && width > 0, "window width must be positive")
    val first: BigInt = BigInt(t0) + (step - Math.floorMod(t0, step)) % step
    val n: BigInt = {
      val lastStart = BigInt(t1) - width + 1
      if (lastStart < first) 0 else (lastStart - first) / step + 1
    }

    /** True for a point inside one of the windows. The upper bound is the
      * last window's last instant, inclusive, so it never wraps. */
    def covers(ts: Column): Column =
      if (n == 0) lit(false)
      else ts.between(clamp(first), clamp(first + (n - 1) * step + width - 1))
  }

  /** First aligned window start: t0 rounded UP to a multiple of `w`
    * (windows on absolute multiples of `w`, see [[windowStart]]), negative
    * t0 included. Long.MaxValue when no multiple of `w` at or above t0 is a
    * Long; there is then no window. */
  def firstWindowStart(t0: Long, w: Long): Long = clamp(new Grid(t0, t0, w, w).first)

  /** Number of COMPLETE windows inside [t0, t1], exact over the whole Long
    * range (capped at Long.MaxValue). */
  def numWindows(t0: Long, t1: Long, w: Long): Long = clamp(new Grid(t0, t1, w, w).n)

  private val WindowIdx = "_graft_wi"

  /** The spine of the ops that emit EMPTY windows: one row per window of
    * `grid` with its ordinal (`WindowIdx`), left-joined to `perWindow`'s
    * rows (one per non-empty window, keyed `window_start`, aggregated from
    * the points inside the grid); an empty window reads 0 in its `zeros`
    * columns and NULL in the others. Unordered. */
  private def onSpine(df: DataFrame, tsCol: String, grid: Grid, zeros: Seq[String])(
      perWindow: DataFrame => DataFrame): DataFrame = {
    val nW = clamp(grid.n)
    // window i starts at (middle window) + (i - nW/2) * step: offsets from
    // the middle stay inside a Long even when the grid spans all of it
    val mid = nW / 2
    val spine = df.sparkSession.range(nW).select(col("id").as(WindowIdx),
      (lit(clamp(grid.first + BigInt(mid) * grid.step)) + (col("id") - mid) * grid.step)
        .as("window_start"))
    val agg = perWindow(df.filter(grid.covers(col(tsCol))))
    spine.join(agg, Seq("window_start"), "left").select(
      col("window_start") +: col(WindowIdx) +:
        agg.columns.filterNot(_ == "window_start").toSeq.map { c =>
          if (zeros.contains(c)) coalesce(col(c), lit(0).cast(agg.schema(c).dataType)).as(c)
          else col(c)
        }: _*)
  }

  /** Op #6 (sum_op, reference src/libtsdb/sum_op.cc:6-281) over one field:
    * [[sumWindowsMulti]] of `valCol`, its columns named `window_start,
    * sum_value, min_value, max_value, n`. */
  def sumWindows(df: DataFrame, tsCol: String, valCol: String,
                 t0: Long, t1: Long, w: Long): DataFrame =
    sumWindowsMulti(df, tsCol, Seq(valCol), t0, t1, w)
      .toDF("window_start", "sum_value", "min_value", "max_value", "n")

  /** Op #6 (sum_op, reference src/libtsdb/sum_op.cc:6-281, with its field
    * list: every requested field in one pass, src/libtsdb/sum_op.cc:115-183
    * — one timestamp scan, per-field accumulators): tumbling windows on
    * absolute multiples of `w`; per window and field emits
    * `sum_<f>/min_<f>/max_<f>/n_<f>` (n = non-null count). EMPTY windows
    * inside the range ARE emitted (zero sum, count 0 — the CLI prints `-`,
    * reference src/tsdbcli2/main.cc:229-235). Sums follow [[windowSum]]. */
  def sumWindowsMulti(df: DataFrame, tsCol: String, valCols: Seq[String],
                      t0: Long, t1: Long, w: Long): DataFrame = {
    require(valCols.nonEmpty, "need at least one field")
    val aggs = valCols.flatMap { c => Seq(
      windowSum(df, c).as(s"sum_$c"), min(c).as(s"min_$c"),
      max(c).as(s"max_$c"), count(col(c)).as(s"n_$c")) }
    onSpine(df, tsCol, new Grid(t0, t1, w, w), valCols.flatMap(c => Seq(s"sum_$c", s"n_$c"))) {
      _.groupBy(windowStart(col(tsCol), w).as("window_start")).agg(aggs.head, aggs.tail: _*)
    }.drop(WindowIdx).orderBy("window_start")
  }

  /** SLIDING windows (batch; extension — the reference's sum_op is tumbling
    * only): width `w`, starts aligned to multiples of `slide` (w divisible
    * by slide), windows fully inside [t0, t1], EMPTY windows emitted like
    * sumWindows (sums by [[windowSum]]). Each point explodes to its
    * w/slide owning windows and the aggregation is a plain groupBy —
    * map-side partial agg absorbs the overlap factor, and no
    * point-to-spine theta join ever forms. */
  def slidingWindows(df: DataFrame, tsCol: String, valCol: String,
                     t0: Long, t1: Long, w: Long, slide: Long): DataFrame = {
    require(slide > 0 && w % slide == 0, "w must be a positive multiple of slide")
    val aligned = windowStart(col(tsCol), slide)
    onSpine(df, tsCol, new Grid(t0, t1, slide, w), Seq("sum_value", "n")) {
      // a start off the grid (near its edges) meets no spine row
      _.select(col(tsCol), col(valCol))
        .withColumn("window_start", explode(sequence(aligned - (w - slide), aligned, lit(slide))))
        .groupBy("window_start")
        .agg(windowSum(df, valCol).as("sum_value"),
             min(valCol).as("min_value"),
             max(valCol).as("max_value"),
             count(valCol).as("n"))
    }.drop(WindowIdx).orderBy("window_start")
  }

  /** GAP FILLING (extension — InfluxDB `fill(previous|linear)` / Timescale
    * `locf`/`interpolate`; dashboards need continuous lines over sparse
    * series, the reference simply emits empty windows): per tumbling
    * window, the [[windowMean]] of the points in it, and for EMPTY windows
    * both fill policies — LOCF (last observation carried forward; a PICKED
    * value, bitwise-stable) and LINEAR (interpolated between the
    * neighboring non-empty windows; leading/trailing gaps take the nearest
    * value).
    *
    * Scale shape: the points collapse to the WINDOW-spine-sized table
    * before any sequential pass, and the two cumulative fills are
    * CHUNK-PARALLEL — the spine splits into fixed-size chunks, LOCF /
    * nearest-neighbor state is carried within each chunk by a partitioned
    * window, and cross-chunk carry is repaired from a chunk-count-sized
    * table (the same aggregate-then-small-window pattern as `withPrev`).
    * A year of 1-second windows (31M spine rows) fills across ~30k chunk
    * tasks instead of one; only the 30k-row chunk table sees an
    * unpartitioned window. */
  def gapFill(df: DataFrame, tsCol: String, valCol: String,
              t0: Long, t1: Long, w: Long,
              chunkWindows: Long = 1024L): DataFrame = {
    val joined = onSpine(df, tsCol, new Grid(t0, t1, w, w), Seq("n")) {
      _.groupBy(windowStart(col(tsCol), w).as("window_start"))
        .agg(windowMean(df, valCol).as("mean_value"), count(valCol).as("n"))
    }.withColumn("_ck", expr(s"$WindowIdx div ${chunkWindows}L"))
    // (mean, window_start) travel as ONE nullable struct so a carried value
    // always keeps its own timestamp (null exactly when the window is empty)
    val obs = when(col("mean_value").isNotNull,
      struct(col("mean_value").as("v"), col("window_start").as("ws")))
    val asc = Window.partitionBy("_ck").orderBy("window_start")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val desc = Window.partitionBy("_ck").orderBy("window_start")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val inChunk = joined
      .withColumn("_p", last(obs, ignoreNulls = true).over(asc))
      .withColumn("_x", first(obs, ignoreNulls = true).over(desc))
    // chunk-level carry: last/first observation of each chunk, then the
    // running carry across chunks — rows = chunks, not windows
    val obsKey = when(col("mean_value").isNotNull, col("window_start"))
    val perChunk = joined.groupBy("_ck")
      .agg(max_by(obs, obsKey).as("_cl"), min_by(obs, obsKey).as("_cf"))
    val wPrev = Window.orderBy("_ck").rowsBetween(Window.unboundedPreceding, -1)
    val wNext = Window.orderBy("_ck").rowsBetween(1, Window.unboundedFollowing)
    val carry = perChunk.select(col("_ck"),
      last("_cl", ignoreNulls = true).over(wPrev).as("_pc"),
      first("_cf", ignoreNulls = true).over(wNext).as("_nc"))
    val filled = inChunk.join(broadcast(carry), Seq("_ck"), "left")
      .withColumn("_P", coalesce(col("_p"), col("_pc")))
      .withColumn("_N", coalesce(col("_x"), col("_nc")))
    filled.select(col("window_start"), col("n"), col("mean_value"),
        col("_P.v").as("locf_value"),
        when(col("mean_value").isNotNull, col("mean_value"))
          .when(col("_P").isNull, col("_N.v"))
          .when(col("_N").isNull, col("_P.v"))
          .otherwise(col("_P.v") + (col("_N.v") - col("_P.v")) *
            ((col("window_start") - col("_P.ws")) / (col("_N.ws") - col("_P.ws"))))
          .as("linear_value"))
      .orderBy("window_start")
  }

  /** Op #7 (MEAN, derived client-side in the reference:
    * src/tsdbcli2/main.cc:203-238 — sum/count of sum_op output), by
    * [[windowMean]]. Non-empty windows only, grouped per series. */
  def meanWindows(df: DataFrame, seriesCol: String, tsCol: String,
                  valCol: String, t0: Long, t1: Long, w: Long): DataFrame =
    seriesWindows(df, seriesCol, tsCol, t0, t1, w)(
      windowMean(df, valCol).as("mean_value"), count(valCol).as("n"))

  /** Op #8 (min/max zoom, reference grafana datasource.go:384-430). */
  def minMaxWindows(df: DataFrame, seriesCol: String, tsCol: String,
                    valCol: String, t0: Long, t1: Long, w: Long): DataFrame =
    seriesWindows(df, seriesCol, tsCol, t0, t1, w)(
      min(valCol).as("min_value"), max(valCol).as("max_value"), count(valCol).as("n"))

  /** `aggs` per (series, window) over the complete windows of [t0, t1]:
    * non-empty windows only, ordered. */
  private def seriesWindows(df: DataFrame, seriesCol: String, tsCol: String,
                            t0: Long, t1: Long, w: Long)(aggs: Column*): DataFrame =
    df.filter(new Grid(t0, t1, w, w).covers(col(tsCol)))
      .groupBy(col(seriesCol).as("series"), windowStart(col(tsCol), w).as("window_start"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("series", "window_start")

  // -------------------------------------------------------------------------
  // Per-series sequential transforms, BUCKET-PARALLEL.
  //
  // A naive `Window.partitionBy(series)` puts each series' entire history on
  // ONE task — a 5-series table runs 5-way parallel no matter how many
  // executors exist (the reference gets away with per-series sequential scan
  // because it is single-node by design; reference doc/LOCKING.txt:3-8). The
  // scalable shape used by everything below:
  //   1. the heavy pass shuffles on (series, bucket) — parallelism grows with
  //      the time range, not the series count;
  //   2. a bucket-level aggregate (ONE ROW per non-empty bucket) is window-ed
  //      per series — tiny data, negligible task time — to carry boundary
  //      state (previous bucket's last row / first bucket's first row);
  //   3. boundary state joins back on (series, bucket) — the big side is
  //      already hash-partitioned on exactly those keys, so no extra
  //      shuffle of the data.
  // -------------------------------------------------------------------------

  private val B = "_graft_bucket"
  private val RN = "_graft_rn"

  private def orderKey(tsCol: String, tiebreak: Seq[String]): Column =
    struct((tsCol +: tiebreak).map(col): _*)

  /** Adds `_prev_<c>` columns: the previous row's value of each requested
    * column in per-series (ts, tiebreak) order — lag within the bucket,
    * repaired across bucket boundaries via the bucket-level pass. */
  private def withPrev(df: DataFrame, seriesCol: String, tsCol: String,
                       cols: Seq[String], bucketWidth: Long,
                       tiebreak: Seq[String]): DataFrame = {
    val key = orderKey(tsCol, tiebreak)
    val base = df.withColumn(B, expr(s"$tsCol div ${bucketWidth}L"))
    val wb = Window.partitionBy(seriesCol, B).orderBy((tsCol +: tiebreak).map(col): _*)
    val withLag = cols.foldLeft(base.withColumn(RN, row_number().over(wb))) {
      (d, c) => d.withColumn(s"_lag_$c", lag(c, 1).over(wb))
    }
    // one row per (series, bucket): the bucket's LAST row's columns
    val lasts = base.groupBy(col(seriesCol), col(B))
      .agg(max_by(col(cols.head), key).as(s"_bl_${cols.head}"),
           cols.tail.map(c => max_by(col(c), key).as(s"_bl_$c")): _*)
    val ws = Window.partitionBy(seriesCol).orderBy(B)
    val prevLasts = lasts.select(
      col(seriesCol) +: col(B) +:
      cols.map(c => lag(s"_bl_$c", 1).over(ws).as(s"_pl_$c")): _*)
    val joined = withLag.join(prevLasts, Seq(seriesCol, B), "left")
    cols.foldLeft(joined) { (d, c) =>
      d.withColumn(s"_prev_$c",
        when(col(RN) === 1, col(s"_pl_$c")).otherwise(col(s"_lag_$c")))
    }.drop(RN :: B :: cols.flatMap(c => Seq(s"_lag_$c", s"_pl_$c")).toList: _*)
  }

  /** Op #9 (integral_op, reference src/libtsdb/integral_op.cc:5-103) over
    * one field: [[integrateMulti]] of `valCol`, its integral named
    * `integral` (series, npoints, t0_out, t1_out, integral). */
  def integrate(df: DataFrame, seriesCol: String, tsCol: String,
                valCol: String, t0: Long, t1: Long,
                unitsPerSecond: Double, tiebreak: Seq[String] = Nil,
                bucketWidth: Long = 3600L * 1000000000L,
                valueDecimals: Option[Int] = None): DataFrame =
    integrateMulti(df, seriesCol, tsCol, Seq(valCol), t0, t1, unitsPerSecond, tiebreak,
      bucketWidth, valueDecimals).withColumnRenamed(s"integral_$valCol", "integral")

  /** Op #9 (integral_op, reference src/libtsdb/integral_op.cc:5-103, with
    * its field list: every requested field in one scan,
    * src/libtsdb/integral_op.cc:30-88 — shared timestamp walk, per-field
    * accumulators and per-field NULL-poisoning): trapezoidal integral over
    * [t0,t1], dt in SECONDS; any NULL sample poisons that field's result to
    * NULL (integral_op.cc:48,84); 0 points -> no row (reference: NULL);
    * 1 point -> the value itself (integral_op.cc:96-102). Emits
    * `integral_<f>` per field plus the shared npoints and the actual
    * first/last integrated timestamps t0_out/t1_out, so callers can derive
    * the time-average (reference src/tsdbcli2/main.cc:277-287).
    *
    * The trapezoid sum is ASSOCIATIVE, so it is computed as per-(series,
    * bucket) partial sums plus one boundary term per consecutive bucket pair
    * — a partial-aggregation-friendly two-level reduction instead of one
    * sequential pass per series.
    *
    * `valueDecimals = Some(d)` accumulates terms exactly in DecimalType so
    * the result is independent of aggregation order (bitwise reproducible;
    * use when values carry fixed d-decimal precision). The default (None)
    * keeps full double precision like the reference (integral_op.cc:84-88)
    * — no silent rounding of general inputs. */
  def integrateMulti(df: DataFrame, seriesCol: String, tsCol: String,
                     valCols: Seq[String], t0: Long, t1: Long,
                     unitsPerSecond: Double, tiebreak: Seq[String] = Nil,
                     bucketWidth: Long = 3600L * 1000000000L,
                     valueDecimals: Option[Int] = None): DataFrame = {
    require(valCols.nonEmpty, "need at least one field")
    val vAs: Column => Column = valueDecimals match {
      case Some(d) => _.cast(DecimalType(18, d))
      case None    => _.cast("double")
    }
    val key = orderKey(tsCol, tiebreak)
    val base = df.filter(col(tsCol) >= t0 && col(tsCol) <= t1)
      .select(((seriesCol +: tsCol +: valCols) ++ tiebreak).distinct.map(col): _*)
      .withColumn(B, expr(s"$tsCol div ${bucketWidth}L"))
    val wb = Window.partitionBy(seriesCol, B).orderBy((tsCol +: tiebreak).map(col): _*)
    val withLag = valCols.foldLeft(base.withColumn("_prev_t", lag(tsCol, 1).over(wb))) {
      (d, c) => d.withColumn(s"_term_$c",
        (vAs(col(c)) + vAs(lag(col(c), 1).over(wb))) * (col(tsCol) - col("_prev_t")))
    }
    val perBucket = withLag.groupBy(col(seriesCol), col(B))
      .agg(count(lit(1)).as("_n"),
        min(tsCol).as("_tmin") +: max(tsCol).as("_tmax") +:
        min_by(col(tsCol), key).as("_first_t") +:
        max_by(col(tsCol), key).as("_last_t") +:
        valCols.flatMap { c => Seq(
          max(col(c).isNull.cast("int")).as(s"_any_null_$c"),
          sum(s"_term_$c").as(s"_psum_$c"),
          min_by(col(c), key).as(s"_first_v_$c"),
          max_by(col(c), key).as(s"_last_v_$c"),
          min(c).as(s"_only_v_$c")) }: _*)
    val ws = Window.partitionBy(seriesCol).orderBy(B)
    val withBoundary = valCols.foldLeft(
      perBucket.withColumn("_pl_t", lag("_last_t", 1).over(ws))) { (d, c) =>
      d.withColumn(s"_bterm_$c",
        (vAs(col(s"_first_v_$c")) + vAs(lag(s"_last_v_$c", 1).over(ws))) *
          (col("_first_t") - col("_pl_t")))
    }
    val zero = valueDecimals.fold(lit(0.0))(d => lit(0).cast(DecimalType(18, d)))
    // decimal path: convert the EXACT decimal sum to a scaled long before
    // the double division, so both engines perform one identical
    // int64→double rounding. (A direct decimal→double cast diverges from
    // DuckDB by 1 ulp once the scaled sum exceeds 2^53: Spark rounds the
    // rational correctly, DuckDB casts the int128 then divides — two
    // roundings.) Exact while |sum|·10^d < 2^63 — far beyond the test SFs.
    def rawIntegral(c: String): Column = {
      val s = coalesce(sum(s"_psum_$c"), zero) + coalesce(sum(s"_bterm_$c"), zero)
      valueDecimals match {
        case Some(d) =>
          val scale = math.round(math.pow(10, d)) // integer: decimal stays exact
          (s * lit(scale)).cast("long").cast("double") /
            lit(2.0 * unitsPerSecond * scale)
        case None => s.cast("double") / lit(2.0 * unitsPerSecond)
      }
    }
    withBoundary.groupBy(col(seriesCol).as("series"))
      .agg(sum("_n").as("npoints"),
        min("_tmin").as("t0_out") +: max("_tmax").as("t1_out") +:
        valCols.flatMap { c => Seq(
          max(s"_any_null_$c").as(s"_anyn_$c"),
          rawIntegral(c).as(s"_raw_$c"),
          min(s"_only_v_$c").as(s"_only_$c")) }: _*)
      .select(col("series") +: col("npoints") +: col("t0_out") +: col("t1_out") +:
        valCols.map { c =>
          when(col(s"_anyn_$c") === 1, lit(null))
            .when(col("npoints") === 1, col(s"_only_$c"))
            .otherwise(col(s"_raw_$c")).as(s"integral_$c") }: _*)
      .orderBy("series")
  }

  /** §2.3 Tare: v − the series' FIRST value in the frame (reference grafana
    * datasource.go:257-268). The global first is found from per-bucket
    * firsts (tiny bucket-level reduction), then broadcast back — no
    * whole-series window. */
  def tare(df: DataFrame, seriesCol: String, tsCol: String, valCol: String,
           tiebreak: Seq[String] = Nil,
           bucketWidth: Long = 3600L * 1000000000L): DataFrame = {
    val key = orderKey(tsCol, tiebreak)
    val base = df.withColumn(B, expr(s"$tsCol div ${bucketWidth}L"))
    val bucketFirsts = base.groupBy(col(seriesCol), col(B))
      .agg(min_by(col(valCol), key).as("_bf"), min(key).as("_bkey"))
    val seriesFirst = bucketFirsts.groupBy(col(seriesCol))
      .agg(min_by(col("_bf"), col("_bkey")).as("_first_v"))
    base.join(broadcast(seriesFirst), Seq(seriesCol))
      .withColumn("tare", col(valCol) - col("_first_v"))
      .drop("_first_v", B)
  }

  /** §2.3 Difference: v − previous v, bucket-parallel. */
  def difference(df: DataFrame, seriesCol: String, tsCol: String, valCol: String,
                 tiebreak: Seq[String] = Nil,
                 bucketWidth: Long = 3600L * 1000000000L): DataFrame =
    withPrev(df, seriesCol, tsCol, Seq(valCol), bucketWidth, tiebreak)
      .withColumn("difference", col(valCol) - col(s"_prev_$valCol"))
      .drop(s"_prev_$valCol")

  /** Batch sessionization (gaps-and-islands): points of a series separated
    * by more than `gapUs` start a new session; emits per-session
    * (start, end, count). Extension beyond the reference (tumbling windows
    * only, sum_op).
    *
    * Scale shape — the naive formulation is TWO whole-series windows
    * (lag + running sum), a one-task-per-series ceiling. Here: session
    * STARTS come from the bucket-parallel cross-bucket lag (`withPrev`),
    * within-bucket islands from a bucketed running sum, and only the
    * island-level table (session-scale, orders of magnitude smaller than
    * points) passes through a per-series window before the final
    * aggregation — the same aggregate-then-small-window pattern as the
    * integral's boundary repair. Pure longs — bitwise-stable. */
  def sessionize(df: DataFrame, seriesCol: String, tsCol: String, gapUs: Long,
                 tiebreak: Seq[String] = Nil,
                 bucketWidth: Long = 3600L * 1000000000L): DataFrame = {
    require(gapUs > 0 && gapUs <= bucketWidth,
      s"gap must be in (0, bucketWidth]; got $gapUs vs $bucketWidth")
    val prevTs = s"_prev_$tsCol"
    val marked = withPrev(df.select((seriesCol +: tsCol +: tiebreak).map(col): _*),
        seriesCol, tsCol, Seq(tsCol), bucketWidth, tiebreak)
      .withColumn("_start",
        (col(prevTs).isNull || col(tsCol) - col(prevTs) > gapUs).cast("long"))
      .withColumn(B, expr(s"$tsCol div ${bucketWidth}L"))
    val wb = Window.partitionBy(col(seriesCol), col(B))
      .orderBy((tsCol +: tiebreak).map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // island 0 = leading rows continuing the previous bucket's last session
    val islands = marked.withColumn("_isl", sum("_start").over(wb))
    val perIsland = islands.groupBy(col(seriesCol), col(B), col("_isl"))
      .agg(min(tsCol).as("_first"), max(tsCol).as("_last"),
        count(lit(1)).as("_n"))
    // session-scale window: island 0 merges into its predecessor
    val wsr = Window.partitionBy(seriesCol).orderBy(col(B), col("_isl"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perIsland
      .withColumn("_sid", sum(when(col("_isl") > 0, 1L).otherwise(0L)).over(wsr))
      .groupBy(col(seriesCol).as("series"), col("_sid"))
      .agg(min("_first").as("session_start"), max("_last").as("session_end"),
        sum("_n").as("n"))
      .select("series", "session_start", "session_end", "n")
      .orderBy("series", "session_start")
  }

  /** Backward AS-OF join — an extension beyond the reference, which has no
    * join of any kind (SURVEY §2.4): each left row picks the right stream's
    * latest (timestamp, value) at-or-before its own timestamp (sensor
    * alignment, price/quote matching). Rows with equal timestamps match
    * (`>=` semantics, like DuckDB/QuestDB ASOF).
    *
    * Scale shape: both streams bucket by time; the within-bucket carry is a
    * bucketed running `last(ignoreNulls)` (parallelism = touched buckets,
    * never one task per stream), and the cross-bucket carry is repaired
    * from a buckets-count-sized running table broadcast back. Value PICKING
    * only — no arithmetic — so results are bitwise-stable and DuckDB's
    * native ASOF JOIN replays them exactly. */
  def asofJoin(left: DataFrame, right: DataFrame, tsCol: String,
               rightValCol: String,
               bucketWidth: Long = 3600L * 1000000000L): DataFrame = {
    val lcols = left.columns.toSeq
    require(!lcols.exists(Set("_src", "_rv", "_rt", B, "asof_time", s"asof_$rightValCol")),
      "left columns collide with asofJoin internals")
    val l = left.withColumn("_src", lit(1))
    val r = right.select(col(tsCol), col(rightValCol).as("_rv"))
      .withColumn("_rt", col(tsCol)).withColumn("_src", lit(0))
    val tagged = l.unionByName(r, allowMissingColumns = true)
      .withColumn(B, expr(s"$tsCol div ${bucketWidth}L"))
    // right rows sort before left rows at equal ts (_src 0 < 1) -> inclusive
    val wb = Window.partitionBy(B).orderBy(col(tsCol), col("_src"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = tagged
      .withColumn("_cv", last("_rv", ignoreNulls = true).over(wb))
      .withColumn("_ct", last("_rt", ignoreNulls = true).over(wb))
    // cross-bucket repair over the tiny per-bucket table (one row per
    // touched bucket — the unpartitioned window is bucket-count-sized by
    // construction, not data-sized)
    val perBucket = tagged.groupBy(col(B))
      .agg(max(col("_rt")).as("_bt"), max_by(col("_rv"), col("_rt")).as("_bv"))
    val ws = Window.orderBy(B).rowsBetween(Window.unboundedPreceding, -1)
    val prior = perBucket
      .withColumn("_pv", last("_bv", ignoreNulls = true).over(ws))
      .withColumn("_pt", last("_bt", ignoreNulls = true).over(ws))
      .select(col(B), col("_pv"), col("_pt"))
    carried.filter(col("_src") === 1)
      .join(broadcast(prior), Seq(B), "left")
      .withColumn("asof_time", coalesce(col("_ct"), col("_pt")))
      .withColumn(s"asof_$rightValCol", coalesce(col("_cv"), col("_pv")))
      .select(lcols.map(col) :+ col("asof_time") :+ col(s"asof_$rightValCol"): _*)
  }

  /** Bucketed RANGE join — the other classic cross-stream operator Spark
    * has no native plan for (extension; the reference has no joins, SURVEY
    * §2.4): for each left row, aggregate the right rows inside its lookback
    * window `[t - lookback, t]` (count + max: order-independent, so results
    * are bitwise-stable). A naive theta-join is O(|L|×|R|); here both sides
    * shuffle ONCE on bucket id — the right side duplicated into its own and
    * the successor bucket (lookback ≤ bucketWidth ⇒ every window spans at
    * most two buckets), an equi-join Catalyst executes as a hash join with
    * 2× right fan-out, never a nested-loop over the cross product. */
  def rangeJoinAgg(left: DataFrame, right: DataFrame, tsCol: String,
                   rightValCol: String, lookback: Long,
                   bucketWidth: Long = 3600L * 1000000000L): DataFrame = {
    require(lookback >= 0 && lookback <= bucketWidth,
      s"lookback must be in [0, bucketWidth]; got $lookback vs $bucketWidth")
    val lcols = left.columns.toSeq
    require(!lcols.exists(Set("_rt", "_rv", B, "n_in_window", "max_in_window")),
      "left columns collide with rangeJoinAgg internals; left rows must also be distinct (grouped output)")
    val l = left.withColumn(B, expr(s"$tsCol div ${bucketWidth}L"))
    val r = right.select(col(tsCol).as("_rt"), col(rightValCol).as("_rv"))
      .withColumn("_rb", expr(s"_rt div ${bucketWidth}L"))
      .select(explode(array(col("_rb"), col("_rb") + 1)).as(B),
        col("_rt"), col("_rv"))
    l.join(r,
        l(B) === r(B) && col("_rt") <= col(tsCol) &&
          col("_rt") >= col(tsCol) - lookback, "left")
      .groupBy(lcols.map(col): _*)
      .agg(count(col("_rt")).as("n_in_window"),
           max(col("_rv")).as("max_in_window"))
  }

  /** Value histogram per series: fixed-width bins `floor(v / binWidth)` with
    * count + actual min/max per bin (extension — value-distribution zoom for
    * dashboards; the reference has no value-space operators at all, SURVEY
    * §2.4). One hash aggregation keyed on (series, bin) — map-side combined,
    * shuffle rows = series × occupied bins, never the points. */
  def histogram(df: DataFrame, seriesCol: String, valCol: String,
                binWidth: Double): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive; got $binWidth")
    df.filter(col(valCol).isNotNull)
      .groupBy(col(seriesCol).as("series"),
               floor(col(valCol) / binWidth).as("bin"))
      .agg(count(lit(1)).as("n"),
           min(valCol).as("min_v"), max(valCol).as("max_v"))
      .orderBy("series", "bin")
  }

  /** Exact per-series quantiles by DISTRIBUTED COUNTING SORT (extension).
    * The naive shapes both fail at scale: a per-series sort/row_number is
    * one task per series, and sketches (approx_percentile) are inexact.
    * Here phase 1 reduces the points to one row per (series, DISTINCT
    * value) — a map-side-combined hash aggregation — and phase 2 walks that
    * value-space-sized table with a per-series cumulative window (rows =
    * distinct values, not points; for fixed-precision measurements the
    * value space is bounded no matter how many points stream in). Each
    * quantile q picks the stored value at zero-based rank floor((n-1)*q)
    * ("lower" interpolation — a value PICKED, never computed, so results
    * are bitwise-stable across engines). */
  def quantiles(df: DataFrame, seriesCol: String, valCol: String,
                qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"quantiles must be in [0,1]; got $qs")
    val spark = df.sparkSession
    import spark.implicits._
    val cnt = df.filter(col(valCol).isNotNull)
      .groupBy(col(seriesCol).as("series"), col(valCol).as("v"))
      .agg(count(lit(1)).as("c"))
    // cumulative count AND series total from the SAME sorted exchange — a
    // second scan+join for the totals would read the source twice
    val w = Window.partitionBy("series").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("series")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // target = 1-based rank of the chosen value; exactly one (series, v) row
    // spans it: cum - c < target <= cum
    val target = floor((col("n") - 1) * col("q")) + 1
    cnt.withColumn("cum", sum("c").over(w))
      .withColumn("n", sum("c").over(wAll))
      .crossJoin(broadcast(qs.toDF("q")))
      .filter(col("cum") >= target && col("cum") - col("c") < target)
      .select(col("series"), col("q"), col("v").as("quantile_value"))
      .orderBy("series", "q")
  }

  /** EQUI-DEPTH histogram per series (extension; the fixed-width form is
    * [[histogram]]): `k` bins holding ~equal point counts, with boundaries
    * at the exact `i/k` quantiles — the statistic a skew-aware partitioner
    * or range-join planner actually needs (fixed-width bins collapse under
    * heavy-tailed values; equi-depth bins ARE the value-space splits).
    *
    * Boundaries come from the counting-sort [[quantiles]] (exact lower
    * picks, bit-portable); each point's bin is the count of boundaries
    * strictly below it — an integer derived from exact double compares, so
    * the whole histogram replays bitwise in any engine. Duplicate
    * boundary values (a value spanning several quantiles) naturally yield
    * empty bins, which are simply absent rows.
    *
    * Scale shape: the boundary table is k−1 rows per series
    * (collect_list is bounded by k, never by data) and broadcasts; the
    * per-point bin assignment is one map-side fold over that ≤k−1 array;
    * the only shuffles are the quantile value-space aggregation and the
    * final (series, bin) rollup. */
  def histogramEqDepth(df: DataFrame, seriesCol: String, valCol: String,
                       k: Int): DataFrame = {
    require(k >= 2, s"need at least 2 bins, got $k")
    val pts = df.filter(col(valCol).isNotNull)
      .select(col(seriesCol).as("series"), col(valCol).as("v"))
    val bounds = quantiles(pts, "series", "v", (1 until k).map(_.toDouble / k))
      .groupBy("series")
      .agg(sort_array(collect_list("quantile_value")).as("bounds"))
    pts.join(broadcast(bounds), "series")
      .withColumn("bin",
        expr("aggregate(bounds, 0, (acc, b) -> acc + IF(v > b, 1, 0))"))
      .groupBy("series", "bin")
      .agg(count(lit(1)).as("n"), min("v").as("min_value"),
        max("v").as("max_value"))
      .orderBy("series", "bin")
  }

  /** Visualization DOWNSAMPLING, LTTB-style (extension; the Grafana-plugin
    * side of the reference renders series a browser cannot hold — this is
    * the standard largest-triangle-three-buckets reduction, in its
    * bucket-parallel form): one representative point per (series, time
    * bucket), chosen to maximize the triangle area against the NEIGHBOR
    * BUCKETS' centroids. Classic LTTB anchors on the previously *selected*
    * point — an inherently sequential scan; anchoring on the previous
    * bucket's centroid (the published LTTB-threading variant) makes every
    * bucket independent, which is the only form that parallelizes over a
    * 100 TB series. First/last buckets keep their first/last point (LTTB's
    * endpoint-preservation rule).
    *
    * Determinism/portability: centroids are exact DECIMAL sums (time in
    * DECIMAL(38,0) — a bigint sum of epoch-µs overflows around 10⁶ points
    * per bucket; values at the 2-decimal contract) divided in double ONCE;
    * the area is a fixed-shape cross product of those doubles (each IEEE
    * op exactly rounded, so any engine computing the same expression tree
    * gets the same bits); ties break on earliest time.
    *
    * Scale shape: bucket centroids are one map-side-combined aggregation
    * (rows = buckets); lag/lead run on the BUCKET table, not points; the
    * area pick shuffles points once on (series, bucket) — naturally
    * bounded partitions, no global sort, no driver loop. */
  def lttbDownsample(df: DataFrame, seriesCol: String, tsCol: String,
                     valCol: String, bucketUs: Long): DataFrame = {
    require(bucketUs > 0, "bucket width must be positive")
    val pts = df.filter(col(valCol).isNotNull)
      .select(col(seriesCol).as("series"),
        col(tsCol).cast("long").as("t"), col(valCol).as("v"))
      .withColumn("bucket", expr(s"t div $bucketUs"))
    val cent = pts.groupBy("series", "bucket")
      .agg((sum(col("t").cast(DecimalType(38, 0))).cast("double") /
              count(lit(1))).as("c_t"),
        (sum(col("v").cast(DecimalType(18, 2))).cast("double") /
              count(lit(1))).as("c_v"))
    val wb = Window.partitionBy("series").orderBy("bucket")
    val nb = cent
      .withColumn("a_t", lag("c_t", 1).over(wb))
      .withColumn("a_v", lag("c_v", 1).over(wb))
      .withColumn("n_t", lead("c_t", 1).over(wb))
      .withColumn("n_v", lead("c_v", 1).over(wb))
      .drop("c_t", "c_v")
    val joined = pts.join(nb, Seq("series", "bucket"))
    // triangle area (×2) of (anchor, point, next): fixed-shape cross product
    val area = abs((col("a_t") - col("n_t")) * (col("v") - col("a_v")) -
      (col("a_t") - col("t")) * (col("n_v") - col("a_v")))
    val wpick = Window.partitionBy("series", "bucket").orderBy(
      // endpoint buckets (no anchor/next): first bucket keeps its FIRST
      // point, last keeps its LAST — NULL area sorts the time axis instead
      when(col("a_t").isNull, col("t"))
        .when(col("n_t").isNull, -col("t"))
        .otherwise(lit(0L)).asc,
      area.desc_nulls_last, col("t").asc)
    joined.withColumn("rn", row_number().over(wpick))
      .filter(col("rn") === 1)
      .select(col("series"), col("bucket"), col("t").as("time_us"), col("v"))
      .orderBy("series", "bucket")
  }

  /** Robust per-series ANOMALY DETECTION by median absolute deviation
    * (extension): flag points whose |v − median| exceeds `k`·MAD, where
    * both the median and the MAD are EXACT "lower" picks from the
    * distributed counting-sort quantile machinery ([[quantiles]]) — never
    * a sketch, never a mean/stddev (one fat-fingered 1e15 reading drags a
    * z-score threshold; it cannot move a median). Bit-portable across
    * engines: medians are stored values PICKED (not interpolated),
    * |v − med| and k·MAD are single IEEE ops, and the comparison is exact
    * — so a DuckDB oracle replaying the same picks hash-matches.
    *
    * Scale shape: two value-space counting-sort passes (rows = distinct
    * values per series, not points) plus two joins keyed on the series —
    * no per-series sort task, no full-data window. The classic MAD caveat
    * stands and is deliberate: a series that is >50% one constant has
    * MAD 0 and every other value flags. */
  def madOutliers(df: DataFrame, seriesCol: String, tsCol: String,
                  valCol: String, k: Double): DataFrame = {
    val pts = df.filter(col(valCol).isNotNull)
      .select(col(seriesCol).as("series"), col(tsCol).as("time_us"),
        col(valCol).as("v"))
    val med = quantiles(pts, "series", "v", Seq(0.5))
      .select(col("series"), col("quantile_value").as("med"))
    val dev = pts.join(med, "series")
      .withColumn("dev", abs(col("v") - col("med")))
    val mad = quantiles(dev, "series", "dev", Seq(0.5))
      .select(col("series"), col("quantile_value").as("mad"))
    dev.join(mad, "series")
      .filter(col("dev") > lit(k) * col("mad"))
      .select("series", "time_us", "v", "med", "dev", "mad")
      .orderBy("series", "time_us")
  }

  /** §2.3 Derivative: dv/dt in value-units per second, bucket-parallel. */
  def derivative(df: DataFrame, seriesCol: String, tsCol: String, valCol: String,
                 unitsPerSecond: Double, tiebreak: Seq[String] = Nil,
                 bucketWidth: Long = 3600L * 1000000000L): DataFrame =
    withPrev(df, seriesCol, tsCol, Seq(valCol, tsCol), bucketWidth, tiebreak)
      .withColumn("derivative",
        (col(valCol) - col(s"_prev_$valCol")) /
          ((col(tsCol) - col(s"_prev_$tsCol")) / lit(unitsPerSecond)))
      .drop(s"_prev_$valCol", s"_prev_$tsCol")

  /** Counter-reset-aware RATE (extension; Prometheus `rate` semantics over
    * monotonic counters): per-point increase = v − prev_v when the counter
    * kept climbing, or v itself after a reset (restart drops the counter to
    * ~0, so the post-reset reading IS the increase), divided by the elapsed
    * seconds. First point of each series → NULL. Same bucket-parallel shape
    * as difference/derivative. */
  def rate(df: DataFrame, seriesCol: String, tsCol: String, valCol: String,
           unitsPerSecond: Double, tiebreak: Seq[String] = Nil,
           bucketWidth: Long = 3600L * 1000000000L): DataFrame = {
    val pv = col(s"_prev_$valCol")
    val pt = col(s"_prev_$tsCol")
    withPrev(df, seriesCol, tsCol, Seq(valCol, tsCol), bucketWidth, tiebreak)
      .withColumn("rate",
        when(col(valCol) >= pv, col(valCol) - pv).otherwise(col(valCol)) /
          ((col(tsCol) - pt) / lit(unitsPerSecond)))
      .drop(s"_prev_$valCol", s"_prev_$tsCol")
  }
}
