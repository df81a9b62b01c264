package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.ops.TimeSeriesOps

/** Streaming-native query operators over a point stream (schema:
  * `series: String, time_us: Long, v: Double`) — the Structured Streaming
  * face of the batch operator surface:
  *
  *  - `windowedSums`: the reference's tumbling `sum_op` as an incremental
  *    watermarked aggregation — state is bounded by the watermark delay,
  *    late points beyond it are dropped (the reference instead REJECTS
  *    out-of-order writes at ingest, wal.cc:63-68; a streaming engine
  *    tolerates bounded disorder and finalizes windows at the watermark).
  *  - `streamingDifference`: per-series v − prev(v) via
  *    `flatMapGroupsWithState` — carries one (ts, v) pair per series as
  *    state, the streaming form of the batch lag/boundary-repair transform.
  *
  * Scale posture: both operators shuffle once on the group key (series or
  * series×window) and keep O(1) state per key in the state store; watermark
  * eviction bounds total state. No driver-side loops, no per-batch collect.
  */
object StreamingOps {

  /** Tumbling-window sum/min/max/count per series with event-time watermark.
    * `windowUs`/`watermarkUs` in microseconds of the `time_us` axis. Emits
    * finalized windows (Append mode downstream) once the watermark passes.
    * The sum of `v` follows the batch ops' rule `TimeSeriesOps.windowSum`,
    * so a window's incremental aggregate equals the batch aggregate of the
    * same points (for a double `v` the rule is order-independent, and
    * state merges combine partial sums in arbitrary order). */
  def windowedSums(points: DataFrame, windowUs: Long, watermarkUs: Long): DataFrame =
    points
      .withColumn("event_time", timestamp_micros(col("time_us")))
      // intervals built in µs directly — a seconds-based string would
      // silently truncate sub-second or non-second-aligned widths
      .withWatermark("event_time", s"$watermarkUs microseconds")
      .groupBy(col("series"),
        window(col("event_time"), s"$windowUs microseconds"))
      .agg(TimeSeriesOps.windowSum(points, "v").as("sum_value"),
        min("v").as("min_value"),
        max("v").as("max_value"), count("v").as("n"))
      .select(col("series"),
        unix_micros(col("window.start")).as("window_start"),
        col("sum_value"), col("min_value"), col("max_value"), col("n"))

  /** SLIDING-window sums per series: like `windowedSums` but each point
    * contributes to `windowUs / slideUs` overlapping windows (smoothing /
    * rate dashboards). Beyond the reference's tumbling-only `sum_op` —
    * Spark's window(w, slide) assigns the overlap set incrementally; state
    * still bounded by the watermark horizon. `windowUs` must be a multiple
    * of `slideUs` (Spark window-assignment requirement). */
  def windowedSumsSliding(points: DataFrame, windowUs: Long, slideUs: Long,
                          watermarkUs: Long): DataFrame = {
    require(windowUs % slideUs == 0, "windowUs must be a multiple of slideUs")
    points
      .withColumn("event_time", timestamp_micros(col("time_us")))
      .withWatermark("event_time", s"$watermarkUs microseconds")
      .groupBy(col("series"),
        window(col("event_time"), s"$windowUs microseconds",
          s"$slideUs microseconds"))
      .agg(TimeSeriesOps.windowSum(points, "v").as("sum_value"),
        min("v").as("min_value"),
        max("v").as("max_value"), count("v").as("n"))
      .select(col("series"),
        unix_micros(col("window.start")).as("window_start"),
        col("sum_value"), col("min_value"), col("max_value"), col("n"))
  }

  /** SESSION windows per series: activity bursts separated by at least
    * `gapUs` of silence collapse to one row (count + value sum + bounds) —
    * the classic sessionization the reference cannot express. Spark's
    * `session_window` merges window state incrementally; the watermark
    * finalizes a session once no point can extend it. The sum follows
    * `TimeSeriesOps.windowSum`, as in [[windowedSums]]. */
  def sessionCounts(points: DataFrame, gapUs: Long, watermarkUs: Long): DataFrame =
    points
      .withColumn("event_time", timestamp_micros(col("time_us")))
      .withWatermark("event_time", s"$watermarkUs microseconds")
      .groupBy(col("series"),
        session_window(col("event_time"), s"$gapUs microseconds"))
      .agg(count(lit(1)).as("n"),
        TimeSeriesOps.windowSum(points, "v").as("sum_value"))
      .select(col("series"),
        unix_micros(col("session_window.start")).as("session_start"),
        unix_micros(col("session_window.end")).as("session_end"),
        col("n"), col("sum_value"))

  final case class HashedDoc(content_hash: String, doc_id: Long, time_us: Long,
                             text: String)
  /** Pre-state row of [[streamingDedupMinId]]: the watermark column must
    * survive projection up to the stateful operator (event-time timeout
    * requires it in the plan). */
  final case class HashedDocEt(content_hash: String, doc_id: Long, time_us: Long,
                               text: String, event_time: java.sql.Timestamp)

  /** Streaming exact dedup over a document stream (schema: `doc_id: Long,
    * time_us: Long, text: String`) with a DETERMINISTIC winner: among
    * replicas of one content hash inside a micro-batch, the minimum
    * `doc_id` survives. This is the ONLY registered streaming-dedup face —
    * a first-arrival sibling built on `dropDuplicatesWithinWatermark` was
    * deliberately removed: that operator keeps whichever replica reaches
    * the state store first, and Spark guarantees no intra-key arrival
    * order after the exchange (multi-row-group splits reorder it), so its
    * output is nondeterministic under same-batch replicas. Reproducibility
    * is a training-pipeline requirement (re-running a corpus build must
    * keep the SAME representatives), so the winner here is a pure function
    * of the data. Training-pipeline counterpart of the batch `dedup_exact`
    * operator — 32-byte hash keys on the shuffle, never text. Bounded
    * state: one boolean per distinct hash in the state store, evicted once
    * the event-time watermark passes `time_us + watermarkUs` (replicas
    * later than that re-admit — the documented disorder-tolerance
    * tradeoff; unbounded-horizon dedup belongs to the batch pass). */
  def streamingDedupMinId(docs: DataFrame, watermarkUs: Long): Dataset[HashedDoc] = {
    import docs.sparkSession.implicits._
    docs
      .withColumn("event_time", timestamp_micros(col("time_us")))
      .withColumn("content_hash", sha2(col("text"), 256))
      .withWatermark("event_time", s"$watermarkUs microseconds")
      .select("content_hash", "doc_id", "time_us", "text", "event_time")
      .as[HashedDocEt]
      .groupByKey(_.content_hash)
      .flatMapGroupsWithState[Boolean, HashedDoc](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: String, it: Iterator[HashedDocEt], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else if (!it.hasNext) Iterator.empty
          else {
            val rows = it.toVector // replicas of ONE hash in one batch
            val winner = rows.minBy(d => (d.doc_id, d.time_us))
            val out =
              if (state.exists) Iterator.empty // replica of an earlier batch
              else {
                state.update(true)
                Iterator.single(HashedDoc(winner.content_hash, winner.doc_id,
                  winner.time_us, winner.text))
              }
            // evict once the watermark passes the horizon of this hash's
            // last sighting (ms granularity — the state-store timeout axis);
            // clamped above the current watermark (a late replica must not
            // set a timeout the watermark has already passed — that throws)
            state.setTimeoutTimestamp(math.max(
              (rows.map(_.time_us).max + watermarkUs) / 1000L + 1L,
              state.getCurrentWatermarkMs() + 1L))
            out
          }
      }
  }

  final case class Point(series: String, time_us: Long, v: Double)
  final case class DiffRow(series: String, time_us: Long, v: Double, difference: Option[Double])
  final case class LastPoint(time_us: Long, v: Double)

  /** Per-series running difference over a stream: one LastPoint of state per
    * series; each batch's points are processed in event-time order and the
    * boundary to the previous batch is repaired from state. Assumes
    * per-series event-time-ordered arrival batch-over-batch (the validated
    * ingest path enforces exactly that ordering on storage). */
  def streamingDifference(points: Dataset[Point]): Dataset[DiffRow] = {
    import points.sparkSession.implicits._
    points
      .groupByKey(_.series)
      .flatMapGroupsWithState[LastPoint, DiffRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (series: String, it: Iterator[Point], state: GroupState[LastPoint]) =>
          val sorted = it.toSeq.sortBy(_.time_us)
          var prev = state.getOption
          val out = sorted.map { p =>
            val d = prev.map(lp => p.v - lp.v)
            prev = Some(LastPoint(p.time_us, p.v))
            DiffRow(series, p.time_us, p.v, d)
          }
          prev.foreach(state.update)
          out.iterator
      }
  }

  final case class RateRow(series: String, time_us: Long, v: Double, rate: Option[Double])

  /** Per-series counter-reset-aware RATE over a stream (Prometheus `rate`
    * semantics — see the batch `TimeSeriesOps.rate`): increase = v − prev
    * while the counter climbs, or v itself after a restart, per elapsed
    * second. Same O(1)-state shape as `streamingDifference`. */
  def streamingRate(points: Dataset[Point], unitsPerSecond: Double): Dataset[RateRow] = {
    import points.sparkSession.implicits._
    points
      .groupByKey(_.series)
      .flatMapGroupsWithState[LastPoint, RateRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (series: String, it: Iterator[Point], state: GroupState[LastPoint]) =>
          val sorted = it.toSeq.sortBy(_.time_us)
          var prev = state.getOption
          val out = sorted.map { p =>
            val r = prev.map { lp =>
              val inc = if (p.v >= lp.v) p.v - lp.v else p.v
              inc / ((p.time_us - lp.time_us) / unitsPerSecond)
            }
            prev = Some(LastPoint(p.time_us, p.v))
            RateRow(series, p.time_us, p.v, r)
          }
          prev.foreach(state.update)
          out.iterator
      }
  }

  final case class UserPoint(series: String, time_us: Long, user_id: Long)
  final case class DistinctRow(series: String, time_us: Long, user_id: Long,
                               n_kmv: Double)

  /** STREAMING CARDINALITY: per-series running distinct-key estimate via
    * the same KMV sketch as the batch `SketchOps.distinctKmv` — one row
    * out per (deduplicated) input point carrying the estimate *after* that
    * point. State is the ≤k-long sorted sketch per series — bounded
    * FOREVER, unlike exact streaming distinct whose state grows with the
    * key universe; that bound is the whole reason sketches exist on
    * streams. Deterministic despite batching: the sketch after any prefix
    * is a pure function of the prefix SET (k smallest distinct hashes),
    * and within a batch points process in (time, key) order, so micro-
    * batch boundaries cannot move any emitted value — which is what lets
    * a batch SQL oracle replay a stream's output exactly. */
  def streamingDistinct(points: Dataset[UserPoint], k: Int): Dataset[DistinctRow] = {
    import points.sparkSession.implicits._
    points
      .groupByKey(_.series)
      .flatMapGroupsWithState[Array[Long], DistinctRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (series: String, it: Iterator[UserPoint], state: GroupState[Array[Long]]) =>
          var buf = state.getOption.getOrElse(Array.emptyLongArray)
          val out = it.toSeq.sortBy(p => (p.time_us, p.user_id)).map { p =>
            buf = graft.ops.SketchOps.kmvInsert(buf,
              graft.ops.SketchOps.mixScalar(
                graft.ops.SketchOps.polyHashScalar(p.user_id.toString)), k)
            DistinctRow(series, p.time_us, p.user_id,
              graft.ops.SketchOps.kmvEstimate(buf, k))
          }
          state.update(buf)
          out.iterator
      }
  }

  /** Stream-STREAM interval join: every left point pairs with the right
    * points landing in `[l.time_us, l.time_us + windowUs]` — the
    * click→purchase attribution shape, with BOTH sides unbounded streams
    * (the batch face is `TimeSeriesOps.rangeJoinAgg`; the static-dim
    * enrich is an ordinary broadcast join and needs no state at all).
    *
    * Structured Streaming (and every hash-partitioned engine) requires an
    * EQUALITY key in a stream-stream join, and a pure theta range would be
    * a quadratic shape anyway — so time is bucketed at the window span:
    * the left keys on its own bucket, the right fans out to the ≤2 buckets
    * its trailing window can reach (same 2× bounded fan-out as the batch
    * `rangeJoinAgg`), the join is an EQUI-join on the bucket, and the
    * exact `[l, l+window]` predicate prunes inside each bucket pair. A
    * right row's fan-out keys are distinct and a left row owns exactly one
    * bucket, so no match can emit twice.
    *
    * The range condition is stated ONLY on the derived event-time columns:
    * Spark timestamps are µs-precision, so `r_et ∈ [l_et, l_et + window]`
    * is bit-for-bit the integral µs predicate the oracle replays — and
    * Structured Streaming takes its JOIN-STATE EVICTION bound from
    * time-range predicates on watermarked event-time columns (mixing in
    * redundant raw-long copies of the same bounds defeats the
    * StreamingJoinHelper constraint extraction — it cannot evaluate
    * non-watermark attributes and gives up on the whole conjunct). With
    * both watermarks at delay d, a buffered left row is dropped once the
    * right watermark passes `l_et + window + d` — state is bounded by
    * watermark delay plus window span, never by stream length. Inner-join
    * matches emit eagerly (no watermark finalization wait); exactly-once
    * to the sink comes from the checkpointed source offsets like every
    * other face. */
  def streamingIntervalJoin(left: DataFrame, right: DataFrame,
                            windowUs: Long, watermarkUs: Long): DataFrame = {
    require(windowUs > 0, "join window must be positive")
    val l = left
      .withColumn("l_et", timestamp_micros(col("time_us")))
      .withWatermark("l_et", s"$watermarkUs microseconds")
      .select(col("time_us").as("l_time_us"), col("v").as("l_v"), col("l_et"),
        expr(s"CAST(time_us AS BIGINT) div $windowUs").as("bucket"))
    val r = right
      .withColumn("r_et", timestamp_micros(col("time_us")))
      .withWatermark("r_et", s"$watermarkUs microseconds")
      .select(col("time_us").as("r_time_us"), col("v").as("r_v"), col("r_et"),
        explode(array_distinct(array(
          expr(s"CAST(time_us AS BIGINT) div $windowUs"),
          expr(s"CAST(time_us - $windowUs AS BIGINT) div $windowUs")))).as("bucket"))
    l.join(r, Seq("bucket"))
      .filter(
        col("r_et") >= col("l_et") &&
          col("r_et") <= col("l_et") + expr(s"INTERVAL $windowUs MICROSECOND"))
      .select("l_time_us", "l_v", "r_time_us", "r_v")
  }

  final case class UserEvent(user_id: Long, event_type: String, time_us: Long)
  final case class StageReach(user_id: Long, stage_idx: Int, stage: String,
                              reach_us: Long)

  /** STREAMING ordered funnel — the incremental face of the batch
    * `EventOps.funnel`: stage i is reached at the EARLIEST stage-i event
    * at-or-after (and, with `windowUs`, within the conversion window of)
    * the user's earliest reach of stage i−1.
    *
    * State is one Long per stage per user (the reach time, MinValue =
    * unreached) — O(stages), FOREVER, regardless of how many events the
    * user fires; the batch recomputation instead rescans the full history
    * every run. Each (user, stage) emits EXACTLY ONCE, at the batch where
    * the stage is first reached, so Append-mode output is a set of reach
    * facts a downstream aggregation turns into stage counts.
    *
    * Determinism across micro-batch boundaries: processed in
    * (time_us, stage_idx) order within a batch — the stage_idx tie-break
    * makes an equal-timestamp view+click pair count the click, exactly the
    * batch semantics (`t >= rt` is inclusive) — and reach times are
    * final once set (earliest-qualifying under time-ordered processing
    * never revises), so a batch boundary cannot move any emission.
    * Assumes event-time-ordered arrival batch-over-batch, the same
    * stance as `streamingDifference` (the validated ingest path enforces
    * exactly that ordering on storage). */
  def streamingFunnel(events: Dataset[UserEvent], stages: Seq[String],
                      windowUs: Option[Long] = None): Dataset[StageReach] = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    require(windowUs.forall(_ > 0), "conversion window must be positive")
    val idx: Map[String, Int] = stages.zipWithIndex.toMap
    import events.sparkSession.implicits._
    events
      // prune non-stage events BEFORE the state shuffle — at 100 TB the
      // funnel stages are a sliver of the event stream
      .filter(col("event_type").isin(stages: _*))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Array[Long], StageReach](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[UserEvent], state: GroupState[Array[Long]]) =>
          val reach = state.getOption
            .getOrElse(Array.fill(stages.length)(Long.MinValue))
          val out = scala.collection.mutable.ArrayBuffer.empty[StageReach]
          it.toSeq.sortBy(e => (e.time_us, idx(e.event_type))).foreach { e =>
            val i = idx(e.event_type)
            if (reach(i) == Long.MinValue) {
              val prevOk = i == 0 || (reach(i - 1) != Long.MinValue &&
                e.time_us >= reach(i - 1) &&
                windowUs.forall(w => e.time_us <= reach(i - 1) + w))
              if (prevOk) {
                reach(i) = e.time_us
                out += StageReach(uid, i, stages(i), e.time_us)
              }
            }
          }
          state.update(reach)
          out.iterator
      }
  }
}
