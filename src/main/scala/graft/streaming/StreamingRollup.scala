package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import graft.engine.{MeasurementSchema, Tsdb}

/** CONTINUOUS AGGREGATION: maintain a downsampled rollup measurement from a
  * live point stream — the streaming face of `Tsdb.downsample` (the batch
  * rollup workflow, reference clients' zoom tables) and the engine analog
  * of TimescaleDB continuous aggregates / InfluxDB tasks.
  *
  * Pipeline: watermarked tumbling windows (`StreamingOps.windowedSums`,
  * Append mode — a window emits exactly once, when the watermark passes its
  * end) → one validated multi-series `writeBatch` per micro-batch into the
  * rollup measurement. Exactly-once composes the same way ingest does: a
  * replayed micro-batch re-emits the identical finalized windows, and the
  * engine's bitwise idempotent tail overwrite verifies them into a no-op.
  * Window starts are strictly increasing per series across batches (the
  * watermark is monotone), so the engine's append-only rule is satisfied
  * by construction; late points beyond the watermark are dropped by the
  * aggregation and can never un-finalize a written window.
  *
  * Scale posture: one shuffle on (series, window), O(1) state per open
  * window bounded by the watermark horizon, and a fixed number of write
  * jobs per micro-batch whatever the series count.
  */
object StreamingRollup {

  /** The rollup contract shared with `Tsdb.downsample` (`engine.Rollups`);
    * the stream schema's value field is `v`. */
  def rollupMeasurement(m: String, windowUs: Long): String =
    graft.engine.Rollups.name(m, "v", windowUs)

  /** Start the continuous aggregation of `points` (schema: `series`,
    * `time_us`, `v`) into `db`/`rollupMeasurement(m, windowUs)`. The
    * database must exist; the rollup measurement is created idempotently.
    * @return the running query; the rollup is readable through the normal
    *         engine surface (`select`/`sumWindows`/...) as it fills. */
  def start(tsdb: Tsdb, db: String, m: String, points: DataFrame,
            windowUs: Long, watermarkUs: Long, checkpoint: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val rollup = rollupMeasurement(m, windowUs)
    tsdb.createMeasurement(db, rollup, graft.engine.Rollups.Schema)
    StreamingOps.windowedSums(points, windowUs, watermarkUs)
      .withColumnRenamed("window_start", MeasurementSchema.TimeCol)
      .writeStream
      .queryName(s"graft-rollup-$db-$rollup")
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // writeBatch runs several actions (stats, overlap verify, write) —
        // each would RE-EXECUTE the stateful window aggregation including
        // its state-store access without a materialization barrier here
        val pinned = batch.persist()
        try tsdb.writeBatch(db, rollup, pinned): Unit
        finally pinned.unpersist(): Unit
      }
      .start()
  }
}
