package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.engine.Tsdb

/** Structured Streaming ingest into the engine — the Spark replacement for
  * the reference's row WAL + commit machinery (src/libtsdb/wal.cc:248-347,
  * write.cc:36-447) per SURVEY.md §1.4/§7.2.7:
  *
  *  - the micro-batch checkpoint IS the WAL: a crash mid-batch replays that
  *    batch on restart (at-least-once delivery);
  *  - `Tsdb.writeBatch`'s bitwise idempotent tail-overwrite (reference
  *    wal.cc:87-246) turns the replay into a verified no-op, so storage is
  *    exactly-once without any sink-side transaction log;
  *  - a replayed batch whose bytes DIFFER from what was committed fails the
  *    write — the same corruption guard the reference's memcmp gives.
  *
  * Scale posture: each micro-batch commits through ONE `Tsdb.writeBatch`,
  * whose job count is fixed whatever the series count. A per-series
  * `writePoints` loop would launch O(series) jobs per micro-batch (fine at
  * 5 series, ~10⁴ job launches per batch at 10⁴ series); the batch keeps
  * per-series semantics while the job count stays constant. A micro-batch
  * holding several series makes the sink the measurement's only writer
  * (the engine's concurrency contract, see `Tsdb`).
  */
object StreamingIngest {

  /** The foreachBatch body, exposed for direct testing: validated append of
    * one (possibly multi-series) micro-batch in one distributed pass.
    * Replay safety per series comes from `writeBatch`'s bitwise idempotent
    * overwrite, not from any per-series ordering. */
  def ingestBatch(tsdb: Tsdb, db: String, m: String, seriesCol: String)
                 (batch: DataFrame, batchId: Long): Unit = {
    val sCol = graft.engine.MeasurementSchema.SeriesCol
    val renamed =
      if (seriesCol == sCol) batch
      else batch.withColumn(sCol, col(seriesCol)).drop(seriesCol)
    tsdb.writeBatch(db, m, renamed)
  }

  /** Start streaming `points` (schema: seriesCol + time_ns + fields) into
    * `db`/`m`. `Trigger.AvailableNow()` drains what exists and terminates —
    * batch-incremental ingest; pass a processing-time trigger for continuous
    * tailing. */
  def start(tsdb: Tsdb, db: String, m: String, points: DataFrame,
            seriesCol: String, checkpoint: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    points.writeStream
      .queryName(s"graft-ingest-$db-$m")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(ingestBatch(tsdb, db, m, seriesCol) _)
      .start()
}
