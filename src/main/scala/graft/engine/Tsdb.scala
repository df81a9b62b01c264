package graft.engine

import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.{escapePathName, unescapePathName}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.GraftFunctions
import graft.ops.TimeSeriesOps

import java.nio.charset.StandardCharsets

/** Live range of a series. `timeFirst` is the delete watermark (points below
  * it are invisible and silently discarded on write); `timeLast` is the
  * append high-watermark (reference `time_first`/`time_last` files,
  * src/libtsdb/series.cc:56-72, doc/LOCKING.txt:58-76). */
final case class SeriesRange(timeFirst: Long, timeLast: Long) {
  def toJson: String = s"""{"version":1,"time_first":$timeFirst,"time_last":$timeLast}"""
}
object SeriesRange {
  private val Re = """\{"version":1,"time_first":(-?\d+),"time_last":(-?\d+)\}""".r
  def fromJson(s: String): SeriesRange = s.trim match {
    case Re(a, b) => SeriesRange(a.toLong, b.toLong)
    case _        => throw new InvalidSchemaException(s"corrupt watermark json: $s")
  }
}

final case class WriteResult(written: Long, discarded: Long, overwriteVerified: Long)

/** The engine facade — the Spark-native equivalent of the reference's
  * `root → database → measurement → series → points` hierarchy
  * (reference doc/README.txt:20-29) and its full DDL + mutation surface
  * (server command table src/tsdbserver/server.cc:245-327).
  *
  * Storage layout (SURVEY.md §7.1) — engine-managed, pruning-first:
  * {{{
  * rootDir/_config.json                      bucket width (once, validated on open)
  * rootDir/<db>/<meas>/_schema.json          MeasurementSchema (atomic tmp+rename)
  * rootDir/<db>/<meas>/_wm/                  watermark TABLE (see WatermarkStore)
  * rootDir/<db>/<meas>/_meta/.append-<uuid>.pending  append-intent records
  * rootDir/<db>/<meas>/data/series=<s>/bucket=<b>/  parquet, sorted by time_ns
  * }}}
  *
  * This replaces the reference's per-series chunk `index` binary search
  * (select_op.cc:50-59) with Spark partition pruning on `(series, bucket)`
  * plus Parquet row-group min/max stats: a time-range query reads only the
  * touched buckets — at 100 TB the difference between one bucket and a full
  * scan. Series are "embarrassingly parallel" (doc/LOCKING.txt:3-8): the
  * partition layout preserves that property for the cluster.
  *
  * Concurrency: the reference serializes writers per series with flocks
  * (series.h:42-179). Here Spark jobs are the writers, and the contract is:
  * a one-series batch (every `writePoints`, a one-series `writeBatch`, the
  * per-series maintenance ops) may run beside writers of other series; a
  * multi-series batch is the measurement's only writer. Readers always see
  * a consistent snapshot because parquet files are immutable and the
  * watermark swap is atomic (rename).
  *
  * Reads: each read lists, on the driver, the directories of the series it
  * asks for and, under them, only the bucket directories its time range
  * admits. Spark is handed those leaf files in a pre-filled file index and
  * lists nothing itself, so a read spanning many buckets launches no
  * listing job of its own.
  *
  * Metadata scale: watermarks live in ONE log-structured table per
  * measurement ([[WatermarkStore]]): every update — single-series append or
  * a 10⁴-series micro-batch — commits one small atomic delta file, readers
  * list a bounded directory (snapshot + ≤64 deltas) instead of one object
  * per series, and the decoded table is signature-cached so repeat loads
  * cost one `listStatus`. This removes the r1-r5 per-series-JSON ceiling
  * (~10⁵ series: the listing itself became the bottleneck); the reference's
  * per-series `time_first`/`time_last` files (series.cc:56-72) are the
  * single-node analog.
  */
final class Tsdb(val spark: SparkSession, val rootDir: String,
                 requestedBucketWidth: Long = Tsdb.UseExistingWidth) {
  import MeasurementSchema.{BucketCol, SeriesCol, TimeCol}

  GraftFunctions.register(spark)

  private val hconf = spark.sessionState.newHadoopConf()
  private def fs(p: Path): FileSystem = p.getFileSystem(hconf)
  private val root = new Path(rootDir)

  /** Bucket width in time units (reference `chunk_size` config analog,
    * src/libtsdb/root.cc:41-45: persisted once, validated on every open).
    * Opening an existing root with an explicit width that differs from the
    * persisted one is an error — mirroring the reference's config validation
    * on open; omit the argument to adopt whatever the root was created with. */
  val bucketWidth: Long = {
    val explicit = requestedBucketWidth != Tsdb.UseExistingWidth
    if (explicit) require(requestedBucketWidth > 0, "bucket width must be positive")
    val cfg = new Path(root, "_config.json")
    val f = fs(cfg)
    if (f.exists(cfg)) {
      val Re = """\{"version":1,"bucket_width":(\d+)\}""".r
      val persisted = readString(cfg).trim match {
        case Re(w) => w.toLong
        case other => throw new InvalidSchemaException(s"corrupt engine config: $other")
      }
      if (explicit && persisted != requestedBucketWidth)
        throw new InvalidSchemaException(
          s"root $rootDir has bucket_width=$persisted; requested $requestedBucketWidth")
      persisted
    } else {
      val w = if (explicit) requestedBucketWidth else Tsdb.DefaultBucketWidth
      f.mkdirs(root)
      atomicWrite(cfg, s"""{"version":1,"bucket_width":$w}""")
      w
    }
  }

  // ---------------------------------------------------------------- catalog

  /** CREATE DATABASE — idempotent mkdir (reference src/libtsdb/root.cc:147-156). */
  def createDatabase(db: String): Unit = {
    validName(db, "database")
    fs(root).mkdirs(dbPath(db))
  }

  /** Sorted database listing (reference src/libtsdb/root.cc:158-164). */
  def listDatabases(): Seq[String] = listDirs(root).filterNot(_.startsWith("_"))

  /** CREATE MEASUREMENT — idempotent iff the schema is identical; a differing
    * field set raises (reference src/libtsdb/measurement.cc:96-111). Creation
    * is atomic via tmp+rename (measurement.cc:65-151). */
  def createMeasurement(db: String, m: String, schema: MeasurementSchema): Unit = {
    validName(m, "measurement")
    if (!fs(root).exists(dbPath(db))) throw new NoSuchDatabaseException(db)
    schema.validated()
    val sp = schemaPath(db, m)
    if (fs(sp).exists(sp)) {
      val existing = MeasurementSchema.fromJson(readString(sp))
      if (existing != schema)
        throw new MeasurementExistsException(db, m,
          s"existing=${existing.toJson} requested=${schema.toJson}")
    } else {
      fs(sp).mkdirs(measPath(db, m))
      atomicWrite(sp, schema.toJson)
    }
  }

  /** GET SCHEMA (reference src/tsdbserver/server.cc:441-460). */
  def getSchema(db: String, m: String): MeasurementSchema = {
    val sp = schemaPath(db, m)
    if (!fs(sp).exists(sp)) {
      if (!fs(root).exists(dbPath(db))) throw new NoSuchDatabaseException(db)
      throw new NoSuchMeasurementException(db, m)
    }
    MeasurementSchema.fromJson(readString(sp))
  }

  /** LIST MEASUREMENTS (reference src/libtsdb/database.h:18-23). */
  def listMeasurements(db: String): Seq[String] = {
    if (!fs(root).exists(dbPath(db))) throw new NoSuchDatabaseException(db)
    listDirs(dbPath(db))
  }

  /** LIST SERIES — sorted (reference src/libtsdb/measurement.h:72-77).
    * Series exist from their first successful write (auto-create,
    * series.cc:20-109). One bounded directory listing however many series
    * the measurement holds (WatermarkStore). */
  def listSeries(db: String, m: String): Seq[String] = {
    getSchema(db, m) // existence check
    wmStore(db, m).load().keys.toSeq.sorted
  }

  /** Live range of a series; absent ⇒ the series has never been written. */
  def seriesRange(db: String, m: String, series: String): Option[SeriesRange] =
    wmStore(db, m).get(series)

  // ---------------------------------------------------------------- write

  /** Validated append of ONE series — `writeBatch` over the batch with the
    * series column set to `series`; see [[writeBatch]] for the semantics. A
    * one-series batch stages under the series' own directory, so it may run
    * beside writers of OTHER series of the measurement.
    * @return the series' (written, discarded, overwriteVerified); all zero
    *         for an empty batch. */
  def writePoints(db: String, m: String, series: String, points: DataFrame): WriteResult = {
    validSeriesName(series)
    writeBatch(db, m, points.withColumn(SeriesCol, lit(series)))
      .getOrElse(series, WriteResult(0, 0, 0))
  }

  /** Bulk append of a MULTI-series batch — the backfill path (reference
    * analog: large writes bypass the WAL and commit directly,
    * src/libtsdb/wal.cc:248-277). The same single pass as [[writeBatch]],
    * minus the idempotent-rewrite window: any point at-or-below an existing
    * series' `time_last` REJECTS the whole batch (replays belong to
    * `writeBatch`/`writePoints`). Points below a series' delete watermark
    * `time_first` still discard silently. Same concurrency contract and
    * crash safety as `writeBatch`. @return per-series written counts. */
  def bulkLoad(db: String, m: String, points: DataFrame): Map[String, Long] =
    writeBatchImpl(db, m, points, allowOverlap = false)
      .collect { case (sn, r) if r.written > 0 => sn -> r.written }

  /** Validated append — the engine's one write path, with the reference's
    * `write_wal` semantics per series (src/libtsdb/wal.cc:53-347):
    *  - `time_ns` must be non-null and unique per series within the batch
    *    (the strictly-increasing rule, wal.cc:63-68; a DataFrame has no
    *    inherent order, so monotonicity degenerates to uniqueness — the
    *    engine imposes the physical order on write).
    *  - points below the delete watermark `time_first` are silently
    *    discarded (wal.cc:70-85).
    *  - points in `[time_first, time_last]` are an idempotent tail overwrite:
    *    accepted iff BITWISE identical to what is stored — float/double
    *    compared by raw IEEE-754 bits exactly like the reference's memcmp
    *    (wal.cc:87-246, 104, 116) — and the overlapped stored range must be
    *    covered exactly (no gaps, no never-seen past points).
    *  - points above `time_last` are appended, sorted, bucket-partitioned;
    *    the watermark then advances. Idempotent overwrite is what makes
    *    at-least-once streaming replay exactly-once (see graft.streaming).
    * Any validation failure rejects the WHOLE batch before anything lands.
    *
    * A fixed number of Spark queries whatever the series count: one stats
    * aggregation, one bitwise overlap verify (only when a replayed tail
    * exists) and one write; the watermarks commit as one delta. No job is
    * spent on the watermark lookup, nor on range sampling below
    * `Tsdb.RangeWriteThreshold` new points. And a fixed number of metadata
    * files: one intent record and one watermark delta, whatever the series
    * count. A micro-batch of 10⁴ series costs about what one series does,
    * not 10⁴× (the reference's WAL serializes per series because it is
    * single-node, wal.cc:248-277).
    *
    * Concurrency contract: a one-series batch stages under that series'
    * directory and may run beside writers of other series; a multi-series
    * batch stages through the measurement's shared `data/_temporary/` and
    * must be the measurement's only writer (a streaming micro-batch sink is
    * that writer).
    * @return per-series (written, discarded, overwriteVerified). */
  def writeBatch(db: String, m: String, points: DataFrame): Map[String, WriteResult] =
    writeBatchImpl(db, m, points, allowOverlap = true)

  private def writeBatchImpl(db: String, m: String, points: DataFrame,
                             allowOverlap: Boolean): Map[String, WriteResult] = {
    val schema = getSchema(db, m)
    val cols = SeriesCol +: TimeCol +: schema.fields.map(_.name)
    val missing = cols.filterNot(points.columns.contains)
    if (missing.nonEmpty)
      throw new InvalidSchemaException(s"write batch missing columns: ${missing.mkString(",")}")
    val pts = points.select(
      col(SeriesCol).cast(StringType).as(SeriesCol) +:
      col(TimeCol).cast(LongType).as(TimeCol) +:
      schema.fields.map(f => col(f.name).cast(f.ftype.spark).as(f.name)): _*)

    // existing watermarks, looked up per row (catalog-scale; ONE bounded
    // load, not one file per series). NULL _tf/_tl = series with no
    // watermark yet (everything appends) — a real column-null flag, NOT a
    // Long.MinValue sentinel, which would collide with a representable
    // timestamp at the type's edge
    val wms = wmStore(db, m).load()
    withSeriesBounds(wms.map { case (sn, r) => sn -> (r.timeFirst, r.timeLast) }) { (tf, tl) =>
      val tagged = pts.withColumn("_tf", tf).withColumn("_tl", tl)
      // keep = above both watermarks (or a brand-new series); discard =
      // inside the delete window. "Above both": time_first > time_last after
      // a delete-into-the-future, and points between them are discarded
      val known = col("_tf").isNotNull
      val keep = !known || (col(TimeCol) > col("_tl") && col(TimeCol) >= col("_tf"))
      val inTail = known && col(TimeCol).between(col("_tf"), col("_tl"))

      // ONE validation job for every series
      val stats = tagged.groupBy(col(SeriesCol)).agg(
        count(lit(1)).as("n"), count(col(TimeCol)).as("n_ts"),
        countDistinct(col(TimeCol)).as("n_distinct"),
        sum(when(known && col(TimeCol) <= col("_tl"), 1L).otherwise(0L)).as("le_tl"),
        count(when(keep, lit(1))).as("new_n"),
        min(when(keep, col(TimeCol))).as("new_min"),
        max(when(keep, col(TimeCol))).as("new_max"),
        sum(when(known && col(TimeCol) < col("_tf"), 1L).otherwise(0L)).as("disc"),
        sum(when(inTail, 1L).otherwise(0L)).as("ov"),
        min(when(inTail, col(TimeCol))).as("ov_min")).collect()
      // row layout: series(0), n(1), n_ts(2), n_distinct(3), le_tl(4),
      // new_n(5), new_min(6), new_max(7), disc(8), ov(9), ov_min(10)
      stats.foreach { r =>
        val sn = r.getString(0)
        validSeriesName(sn)
        if (r.getLong(3) < r.getLong(1))
          throw new OutOfOrderTimestampsException(
            s"$sn: ${r.getLong(1) - r.getLong(3)} duplicate/NULL timestamps in batch")
        if (!allowOverlap && r.getLong(4) > 0)
          throw new OverwriteMismatchException(
            s"$sn: ${r.getLong(4)} points at-or-below time_last — bulk load is append-only")
      }
      // replayed tails: ONE distributed bitwise verify over every overlapping
      // series at once (reference wal.cc:87-246 memcmp)
      if (allowOverlap) {
        val ovRows = stats.filter(_.getLong(9) > 0)
        if (ovRows.nonEmpty)
          verifyOverlapBatch(db, m, schema, tagged.filter(inTail), ovRows.map { r =>
            r.getString(0) -> (r.getLong(10), wms(r.getString(0)).timeLast)
          }.toMap)
      }
      // crash recovery (reference write.cc:93-252: time_last-governed tail
      // truncation on open): a crash BETWEEN the data append and the watermark
      // advance leaves committed rows above time_last, and the batch's
      // append-intent record; replaying the batch would duplicate them. One
      // listing of `_meta` finds leftover records (the clean path finds none
      // and pays nothing more). Each series of THIS batch that one names is
      // recovered — its tail truncated (bucket-pruned) above time_last or,
      // with NO watermark yet (a crashed FIRST append), its data dir dropped
      // — and struck from the record: a fresh record names the rest, then
      // the old one goes (a crash between the two leaves both, and
      // recovering a series twice is idempotent). Series of other writers
      // stay named: their writer recovers them.
      val batch = stats.map(_.getString(0)).toSet
      val meta = metaDir(db, m)
      val leftovers = try fs(meta).listStatus(meta).toSeq.map(_.getPath)
        .filter(_.getName.endsWith(".pending"))
      catch { case _: java.io.FileNotFoundException => Nil }
      leftovers.foreach { p =>
        val (mine, rest) = readIntent(p).partition(batch)
        mine.foreach { sn =>
          wms.get(sn) match {
            case Some(r) => truncateAbove(db, m, sn, schema, r.timeLast)
            case None    => fs(p).delete(seriesDir(db, m, sn), true)
          }
        }
        if (mine.nonEmpty) {
          if (rest.nonEmpty) writeIntent(newIntent(db, m), rest)
          fs(p).delete(p, false)
        }
      }

      // a fully-replayed / fully-discarded batch writes nothing
      val toWrite = stats.filter(_.getLong(5) > 0)
      if (toWrite.nonEmpty) {
        // the write job, bracketed by ONE append-intent record naming every
        // series it writes (removed after the watermarks advance). A
        // one-series write stages under its own series directory (partitioned
        // by bucket below it), so different-series writers never share a
        // `_temporary/` dir — concurrent same-directory jobs corrupt each
        // other's staging. Readers see the same layout either way (`series=`
        // is a partition directory under basePath).
        val intent = newIntent(db, m)
        writeIntent(intent, toWrite.map(_.getString(0)))
        val (target, parts) =
          if (toWrite.length == 1)
            (seriesDir(db, m, toWrite.head.getString(0)), Seq(BucketCol))
          else (dataDir(db, m), Seq(SeriesCol, BucketCol))
        // Small batches hash-partition on the partition columns: each bucket
        // lands whole in one task → one sorted file per bucket, and no extra
        // pass over the data (repartitionByRange samples the batch to compute
        // range bounds — a whole job the common streaming micro-batch doesn't
        // need). Huge batches pay that sampling pass so a hot bucket can split
        // into several disjoint-range sorted files instead of one giant task.
        // Full parallelism even for small batches: per-bucket FILE CREATION is
        // the fixed cost (one parquet writer per bucket dir), so buckets must
        // spread across tasks; empty partitions are ~free.
        val par = spark.sparkContext.defaultParallelism
        val keys = (parts :+ TimeCol).map(col)
        // floor-division bucket id in exact integer arithmetic (`div` truncates
        // toward zero and double-based floor() loses precision above 2^53 —
        // time_ns at ns scale exceeds that). pmod is non-negative, so
        // (t - pmod(t, w)) is exactly divisible and the quotient is floorDiv —
        // matching Math.floorDiv on every read/truncate/delete path.
        val rows = tagged.filter(keep)
          .withColumn(BucketCol,
            expr(s"($TimeCol - pmod($TimeCol, ${bucketWidth}L)) div ${bucketWidth}L"))
          .select(keys ++ schema.fields.map(f => col(f.name)): _*)
        val arranged =
          if (toWrite.map(_.getLong(5)).sum <= Tsdb.RangeWriteThreshold)
            rows.repartition(par, parts.map(col): _*)
          else rows.repartitionByRange(par, keys: _*)
        // sorted by time within each file: parquet row-group min/max stats get
        // their pruning power
        arranged.sortWithinPartitions(keys: _*)
          .write.mode("append").partitionBy(parts: _*)
          .parquet(target.toString)
        // ONE watermark commit for the whole batch (one delta file however many
        // series landed), then the intent record drops
        wmStore(db, m).update(toWrite.map { r =>
          val sn = r.getString(0)
          val (mn, mx) = (r.getLong(6), r.getLong(7))
          sn -> (wms.get(sn) match {
            case Some(prev) => SeriesRange(prev.timeFirst, math.max(prev.timeLast, mx))
            case None       => SeriesRange(mn, mx)
          })
        }.toMap)
        fs(intent).delete(intent, false)
      }
      stats.map(r =>
        r.getString(0) -> WriteResult(r.getLong(5), r.getLong(8), r.getLong(9))).toMap
    }
  }

  /** Per-series `(lo, hi)` bounds as two columns of the row's series, looked
    * up without a Spark job: the table rides a broadcast variable into a UDF
    * (a broadcast JOIN of a local relation launches a job in every query
    * that uses it). NULL for a series the table lacks. The broadcast is
    * released when `body` returns. */
  private def withSeriesBounds[A](table: Map[String, (Long, Long)])(
      body: (Column, Column) => A): A = {
    val bc = spark.sparkContext.broadcast(table)
    try {
      val lo = udf((s: String) => bc.value.get(s).map(_._1))
      val hi = udf((s: String) => bc.value.get(s).map(_._2))
      body(lo(col(SeriesCol)), hi(col(SeriesCol)))
    } finally bc.destroy()
  }

  /** Bitwise comparison of the replayed tails against storage: one
    * full-outer join on (series, time_ns) checks EVERY replayed series at
    * once over its stored `[ov_min, time_last]` window, read from the
    * admitted bucket directories only. Any row present on one side only, or
    * any field whose raw bits differ, rejects the write (reference memcmp of
    * the raw chunk bytes, src/libtsdb/wal.cc:104,116). */
  private def verifyOverlapBatch(db: String, m: String, schema: MeasurementSchema,
                                 batchOverlap: DataFrame,
                                 ranges: Map[String, (Long, Long)]): Unit = {
    def bits(df: DataFrame, prefix: String): DataFrame =
      df.select(col(SeriesCol) +: col(TimeCol) +:
        schema.fields.map(f => GraftFunctions.bitwiseComparable(col(f.name), f.ftype.spark)
          .as(s"$prefix${f.name}")) :+ lit(true).as(s"${prefix}present"): _*)
    val joined = bits(scan(db, m, schema, ranges), "s_")
      .join(bits(batchOverlap, "w_"), Seq(SeriesCol, TimeCol), "full_outer")
    val bad = joined.filter(
        col("s_present").isNull || col("w_present").isNull ||
        schema.fields.map(f => !(col(s"s_${f.name}") <=> col(s"w_${f.name}")))
          .reduceOption(_ || _).getOrElse(lit(false)))
      .groupBy(col(SeriesCol)).count().collect()
    if (bad.nonEmpty)
      throw new OverwriteMismatchException(
        s"$db/$m: replayed tail differs from storage — " +
          bad.map { r =>
            val (lo, hi) = ranges(r.getString(0))
            s"${r.getString(0)}: ${r.getLong(1)} points in [$lo,$hi]"
          }.mkString("; "))
  }

  /** Remove stored rows with `time_ns > tl` (orphans of a crashed append —
    * invisible to readers because every read clamps to the watermark, but
    * they would collide with the re-append on replay). Whole buckets above
    * `tl` are dropped; a partially-affected boundary bucket is rewritten
    * truncated (reference `replace_with_truncated`, root.cc:179-194)
    * through `compact`'s per-bucket swap, so the bucket's committed points
    * at or below `tl` survive a crash at any step. The procedure is
    * idempotent: the intent record outlives it, so a crash mid-recovery
    * reruns it, first restoring a bucket caught mid-swap. */
  private def truncateAbove(db: String, m: String, series: String,
                            schema: MeasurementSchema, tl: Long): Unit = {
    val sdir = seriesDir(db, m, series)
    val f = fs(sdir)
    recoverCompact(sdir)
    val cutBucket = Math.floorDiv(tl, bucketWidth)
    val dirs = bucketDirs(sdir)
    dirs.foreach { case (b, d) => if (b > cutBucket) f.delete(d, true) }
    val boundary = dirs.filter(_._1 == cutBucket)
    if (boundary.isEmpty) return
    val bdf = scan(db, m, schema, boundary.map { case (_, d) => d -> f.listStatus(d) })
    // footer-stats-only job: cheap when the bucket is clean (the usual case)
    val mx = bdf.agg(max(TimeCol)).head()
    if (mx.isNullAt(0) || mx.getLong(0) <= tl) return
    swapBuckets(sdir, boundary) { tmp =>
      bdf.filter(col(TimeCol) <= tl).select(schema.dataStruct.fieldNames.map(col): _*)
        .repartition(1).sortWithinPartitions(TimeCol)
        .write.parquet(new Path(tmp, s"$BucketCol=$cutBucket").toString)
    }
  }

  // ---------------------------------------------------------------- compact

  /** Compact a series: rewrite every bucket directory holding more than one
    * file into time-sorted zstd parquet (reference analog: full chunks
    * become gzip-compressed read-only, src/libtsdb/write.cc:266-315 — here
    * the append path stays on fast codecs and compaction produces the dense
    * immutable form). Streaming micro-batch ingest is exactly the workload
    * that fragments buckets; at scale, scan cost is per-FILE as much as
    * per-byte, so this is the maintenance op that keeps reads O(buckets).
    *
    * One distributed job rewrites ALL fragmented buckets (bucket-pruned
    * read, range-partitioned by (bucket, time) so hot buckets split into
    * several disjoint-range sorted files), then [[swapBuckets]] puts the
    * new directories in place. Contract: a one-series writer (see the class
    * doc) — no append to THIS series may run concurrently; writers of other
    * series may.
    *
    * @return number of buckets rewritten */
  def compact(db: String, m: String, series: String): Long = {
    val schema = getSchema(db, m)
    val sdir = seriesDir(db, m, series)
    val f = fs(sdir)
    recoverCompact(sdir)
    val fragmented = bucketDirs(sdir).map { case (b, d) => (b, d, f.listStatus(d)) }
      .filter(_._3.count(_.getPath.getName.endsWith(".parquet")) > 1)
    if (fragmented.isEmpty) return 0L
    // one distributed rewrite of every fragmented bucket, read from exactly
    // the leaf files listed above
    swapBuckets(sdir, fragmented.map { case (b, d, _) => b -> d }) { tmp =>
      scan(db, m, schema, fragmented.map { case (_, d, leaves) => d -> leaves })
        .select(schema.dataStruct.fieldNames.map(col) :+ col(BucketCol): _*)
        .repartitionByRange(col(BucketCol), col(TimeCol))
        .sortWithinPartitions(BucketCol, TimeCol)
        .write.option("compression", "zstd").partitionBy(BucketCol)
        .parquet(tmp.toString)
    }
    fragmented.size.toLong
  }

  /** Replace bucket directories of one series with rewritten copies:
    * `write` puts each new copy under `<tmp>/bucket=<b>`, then each bucket
    * swaps in on its own (old dir → trash, new dir → live, trash dropped
    * last). A bucket can never be lost because its old files are not
    * deleted until its new files are in place — `recoverCompact` restores
    * any bucket caught mid-swap. */
  private def swapBuckets(sdir: Path, buckets: Seq[(Long, Path)])(write: Path => Unit): Unit = {
    val f = fs(sdir)
    val tmp = new Path(sdir, Tsdb.CompactTmp)
    val trash = new Path(sdir, Tsdb.CompactTrash)
    f.delete(tmp, true)
    f.delete(trash, true)
    write(tmp)
    f.mkdirs(trash)
    val fc = FileContext.getFileContext(sdir.toUri, hconf)
    buckets.foreach { case (b, live) =>
      val next = new Path(tmp, s"$BucketCol=$b")
      if (f.exists(next)) { // empty buckets can't exist, but stay defensive
        fc.rename(live, new Path(trash, live.getName), Options.Rename.OVERWRITE)
        fc.rename(next, live, Options.Rename.NONE)
      }
    }
    f.delete(trash, true)
    f.delete(tmp, true)
  }

  /** Crash recovery for [[swapBuckets]]: any bucket moved to trash whose
    * live dir never appeared is restored (compacted data was equal by
    * construction, and a truncation reruns from its intent record, so
    * restoring the original files is always correct); leftover tmp/trash
    * dirs are then dropped. Idempotent. */
  private def recoverCompact(sdir: Path): Unit = {
    val f = fs(sdir)
    val trash = new Path(sdir, Tsdb.CompactTrash)
    if (f.exists(trash)) {
      val fc = FileContext.getFileContext(sdir.toUri, hconf)
      f.listStatus(trash).foreach { st =>
        val live = new Path(sdir, st.getPath.getName)
        if (!f.exists(live)) fc.rename(st.getPath, live, Options.Rename.NONE)
      }
      f.delete(trash, true)
    }
    f.delete(new Path(sdir, Tsdb.CompactTmp), true)
  }

  // ---------------------------------------------------------------- delete

  /** Delete-from-front: `DELETE WHERE time_ns <= t` advances `time_first` to
    * the first surviving timestamp — or to `t+1` when none exists, the
    * reference's "delete into the future" which also pre-filters future
    * writes below it (src/libtsdb/delete.cc:10-162, 82-98). Buckets entirely
    * below the new watermark are physically dropped (partition drop — the
    * reference unlinks orphaned chunk files, delete.cc:119-148); the
    * first partially-covered bucket is masked by the read-side clamp. A
    * one-series [[deleteUpToBatch]]; `t = Long.MaxValue` is rejected (no
    * `t+1` exists). */
  def deleteUpTo(db: String, m: String, series: String, t: Long): Unit = {
    getSchema(db, m)
    if (seriesRange(db, m, series).isEmpty) throw new NoSuchSeriesException(db, m, series)
    deleteUpToBatch(db, m, Map(series -> t))
  }

  /** Retention sweep: `DELETE WHERE time_ns <= t` for EVERY series of the
    * measurement — the policy form of `deleteUpTo` (the reference only has
    * the per-series verb, src/libtsdb/delete.cc:10-162; a fleet applies the
    * same horizon to thousands of series). One distributed aggregation over
    * the affected series' buckets at and above the cut finds every first
    * surviving timestamp (the per-series path would launch one min() job
    * per series); watermark advances and bucket drops then run per series
    * on the driver, metadata-scale. `t = Long.MaxValue` is rejected.
    * @return the new `time_first` per affected series. */
  def applyRetention(db: String, m: String, t: Long): Map[String, Long] =
    deleteUpToBatch(db, m,
      wmStore(db, m).load().keys.map(_ -> t).toMap)

  /** Batched `deleteUpTo` with a PER-SERIES horizon — `applyRetention`'s
    * general form (one shared horizon is the policy case; the reflector
    * flush cuts each series at its own flushed watermark), and the one
    * delete path. One distributed aggregation over each affected series'
    * `(cut, time_last]` finds its first surviving timestamp; watermark
    * advances and bucket drops then run per series on the driver,
    * metadata-scale. A cut of `Long.MaxValue` is rejected before any
    * watermark moves: `cut+1` would wrap to `Long.MinValue`.
    * @return the new `time_first` per affected series. */
  def deleteUpToBatch(db: String, m: String, cuts: Map[String, Long]): Map[String, Long] = {
    require(!cuts.values.exists(_ == Long.MaxValue),
      s"$db/$m: cannot delete up to Long.MaxValue (no time_first above it)")
    val schema = getSchema(db, m)
    val wms = wmStore(db, m).load()
    val affected = cuts.toSeq.flatMap { case (sn, t) =>
      // below-watermark cuts are no-ops; unknown series are ignored
      wms.get(sn).filter(r => t >= r.timeFirst).map(r => (sn, t, r))
    }
    if (affected.isEmpty) return Map.empty
    // each series directory is listed once: for the survivor scan and for
    // the bucket drops below
    val listed = affected.map { case (sn, _, _) => sn -> bucketDirs(seriesDir(db, m, sn)) }.toMap
    // survivors lie in (cut, time_last]: crashed-append orphans above
    // time_last never count
    val surv = scan(db, m, schema,
        affected.map { case (sn, t, r) => sn -> (t + 1, r.timeLast) }.toMap, listed)
      .groupBy(col(SeriesCol)).agg(min(TimeCol).as("mn"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val advanced = affected.map { case (sn, t, r) =>
      // none survive -> delete into the future
      sn -> SeriesRange(surv.getOrElse(sn, t + 1), r.timeLast)
    }.toMap
    // ONE watermark commit for every swept series, then the bucket drops
    wmStore(db, m).update(advanced)
    advanced.foreach { case (sn, r) =>
      val cutBucket = Math.floorDiv(r.timeFirst, bucketWidth)
      listed(sn).foreach { case (b, d) => if (b < cutBucket) fs(d).delete(d, true) }
    }
    advanced.map { case (sn, r) => sn -> r.timeFirst }
  }

  // ---------------------------------------------------------------- read

  /** The `bucket=<b>` directories of one series directory with their bucket
    * ids; none when the series has no data directory. The one parser of
    * bucket directory names. */
  private def bucketDirs(sdir: Path): Seq[(Long, Path)] = {
    val bpfx = s"$BucketCol="
    val listed =
      try fs(sdir).listStatus(sdir).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    listed.flatMap { st =>
      val n = st.getPath.getName
      if (!st.isDirectory || !n.startsWith(bpfx)) None
      else n.substring(bpfx.length).toLongOption.map(_ -> st.getPath)
    }
  }

  /** Stored points under the given bucket directories, NOT watermark
    * clamped, read from the leaf files the caller already listed: the file
    * index gets them through a pre-filled status cache, so Spark lists
    * nothing (past 32 paths its own listing is a job). Names starting with
    * `_` or `.` are left out, as Spark's listing does. */
  private def scan(db: String, m: String, schema: MeasurementSchema,
                   leaves: Seq[(Path, Array[FileStatus])]): DataFrame = {
    val files = leaves.map { case (d, ls) =>
      d -> ls.filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    }.filter(_._2.nonEmpty).toMap
    if (files.isEmpty)
      return spark.createDataFrame(java.util.Collections.emptyList[Row](), readStructOf(schema))
    val listed = new FileStatusCache {
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] = files.get(p)
      override def putLeafFiles(p: Path, ls: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, files.keys.toSeq,
      Map("basePath" -> dataDir(db, m).toString), Some(readStructOf(schema)), listed)
    // every column nullable, as `spark.read` makes a given schema: the plans
    // and the files that compaction writes back stay what they were
    val data = StructType(schema.dataStruct.map(_.copy(nullable = true)))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      data, None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** Stored points of each asked series in its own `[t0, t1]`, NOT
    * watermark clamped: lists each asked series' directory and the bucket
    * directories its range admits, then [[scan]]s them. Like the
    * reference's per-series chunk index (select_op.cc:50-59), a read never
    * discovers the rest of the measurement. Empty ranges are skipped. */
  private def scan(db: String, m: String, schema: MeasurementSchema,
                   ranges: Map[String, (Long, Long)]): DataFrame =
    scan(db, m, schema, ranges, sn => bucketDirs(seriesDir(db, m, sn)))

  /** [[scan]] of each asked series' range over the bucket directories
    * `listed` gives for it (a listing the caller made, or one it narrowed). */
  private def scan(db: String, m: String, schema: MeasurementSchema,
                   ranges: Map[String, (Long, Long)],
                   listed: String => Seq[(Long, Path)]): DataFrame = {
    def buckets(r: (Long, Long)) =
      (Math.floorDiv(r._1, bucketWidth), Math.floorDiv(r._2, bucketWidth))
    val asked = ranges.filter { case (_, (t0, t1)) => t0 <= t1 }
    val raw = scan(db, m, schema, asked.toSeq.flatMap { case (series, r) =>
      val (b0, b1) = buckets(r)
      listed(series).collect { case (b, d) if b >= b0 && b <= b1 => d }
    }.map(d => d -> fs(d).listStatus(d)))
    if (asked.isEmpty) return raw
    // constant bounds over all asked series: the bucket bounds are redundant
    // with the directory selection but keep the audited PartitionFilters
    // shape (TsdbEngineSpec pins them); the time bounds reach the parquet
    // reader. When every series asks the same range they are exact.
    val (t0, t1) = (asked.values.map(_._1).min, asked.values.map(_._2).max)
    val (b0, b1) = buckets((t0, t1))
    val bounds = col(BucketCol).between(b0, b1) && col(TimeCol).between(t0, t1)
    if (asked.size == 1) raw.filter(col(SeriesCol) === asked.head._1 && bounds)
    else if (asked.values.toSet.size == 1) raw.filter(bounds)
    else { // each series' own range: a lookup over the asked-for map, with
      // no literal series list, so the plan does not grow with the series count
      val lo = udf((s: String) => asked.get(s).map(_._1))
      val hi = udf((s: String) => asked.get(s).map(_._2))
      raw.filter(bounds && col(TimeCol).between(lo(col(SeriesCol)), hi(col(SeriesCol))))
    }
  }

  /** Visible points of EVERY series in `[t0, t1]`: each series' range is
    * clamped to its own watermark on the driver, so series whose visible
    * range misses the ask never reach the filesystem, and bucket admission
    * and the parquet pushdown see the clamped bounds. */
  private def visibleRange(db: String, m: String, t0: Long, t1: Long): DataFrame =
    scan(db, m, getSchema(db, m), wmStore(db, m).load().map { case (sn, r) =>
      sn -> (math.max(t0, r.timeFirst), math.min(t1, r.timeLast))
    })

  private def readStructOf(schema: MeasurementSchema): StructType =
    StructType(schema.dataStruct.fields.toSeq :+
      StructField(SeriesCol, StringType) :+ StructField(BucketCol, LongType))

  /** All VISIBLE points of a measurement: every series clamped to its own
    * `[time_first, time_last]` (reference read clamp
    * src/libtsdb/select_op.cc:18-19). Columns: series, time_ns, the fields,
    * bucket. */
  def visible(db: String, m: String): DataFrame = {
    val df = visibleRange(db, m, Long.MinValue, Long.MaxValue)
    df.select(col(SeriesCol) +: df.columns.filterNot(_ == SeriesCol).map(col): _*)
  }

  /** Visible points of ONE series in `[t0, t1]` — the range is clamped on
    * the driver from the watermark, so both bucket pruning and the parquet
    * pushdown see tight constants. */
  def visibleSeries(db: String, m: String, series: String, t0: Long, t1: Long): DataFrame =
    seriesFrame(db, m, series, Nil, t0, t1)._2

  /** One series' visible points in `[t0, t1]` (see [[visibleSeries]]) with
    * the series column set to it, and the fields an op reads (none named =
    * every field). Each named field is checked first, so an unknown one
    * fails with [[InvalidSchemaException]] before anything is read or
    * written. */
  private def seriesFrame(db: String, m: String, series: String, fields: Seq[String],
                          t0: Long, t1: Long): (Seq[Field], DataFrame) = {
    val schema = getSchema(db, m)
    val checked = if (fields.isEmpty) schema.fields else fields.map(fieldOf(schema, _))
    val wm = seriesRange(db, m, series)
      .getOrElse(throw new NoSuchSeriesException(db, m, series))
    (checked, scan(db, m, schema,
      Map(series -> (math.max(t0, wm.timeFirst), math.min(t1, wm.timeLast))))
      .withColumn(SeriesCol, lit(series)))
  }

  /** SELECT fields FROM db/m/series WHERE t0 <= time <= t1 [LIMIT n | LAST n]
    * (reference select_op_first/last, src/libtsdb/select_op.cc:175-371). */
  def select(db: String, m: String, series: String, fields: Seq[String],
             t0: Long, t1: Long, limit: Option[Int] = None,
             last: Option[Int] = None): DataFrame = {
    val (fs, base) = seriesFrame(db, m, series, fields, t0, t1)
    val proj = TimeCol +: fs.map(_.name)
    last match {
      case Some(k) => TimeSeriesOps.selectLast(base, TimeCol, t0, t1, k, proj)
      case None    => TimeSeriesOps.selectRange(base, TimeCol, t0, t1, proj, limit)
    }
  }

  /** COUNT (npoints, time_first, time_last) of the range (reference
    * count_points, src/libtsdb/count.cc:100-112). */
  def countPoints(db: String, m: String, series: String, t0: Long, t1: Long): DataFrame =
    TimeSeriesOps.countPoints(visibleSeries(db, m, series, t0, t1), TimeCol, t0, t1)

  /** Windowed sum/min/max/count incl. empty windows (reference sum_op) of
    * one field: [[sumWindowsMulti]] of `field`, its columns named
    * `window_start, sum_value, min_value, max_value, n`. */
  def sumWindows(db: String, m: String, series: String, field: String,
                 t0: Long, t1: Long, windowWidth: Long): DataFrame =
    sumWindowsMulti(db, m, series, Seq(field), t0, t1, windowWidth)
      .toDF("window_start", "sum_value", "min_value", "max_value", "n")

  /** Multi-field windowed aggregation — the reference sum_op's actual
    * signature (field LIST, one pass: src/libtsdb/sum_op.cc:115-183).
    * Empty fields list = all schema fields. The default sum expression is
    * the per-type rule [[sumOf]]. Pass `sumFor` to override. */
  def sumWindowsMulti(db: String, m: String, series: String, fields: Seq[String],
                      t0: Long, t1: Long, windowWidth: Long,
                      sumFor: Option[String => Column] = None): DataFrame = {
    val (fs, pts) = seriesFrame(db, m, series, fields, t0, t1)
    val byName = fs.map(f => f.name -> f).toMap
    TimeSeriesOps.sumWindowsMulti(pts, TimeCol, fs.map(_.name), t0, t1, windowWidth,
      sumFor.getOrElse(c => sumOf(byName(c))))
  }

  /** The exact windowed sum of a field, by type: floats take the
    * order-independent decimal-2 accumulation, integers the native exact
    * sum (a decimal-2 accumulation overflows past 10^16 and would come back
    * as double, inexact past 2^53), bools count trues. */
  private def sumOf(f: Field): Column = f.ftype match {
    case FieldType.F64 | FieldType.F32 => TimeSeriesOps.sumExact2(col(f.name))
    case FieldType.Bool                => sum(col(f.name).cast("long"))
    case _                             => sum(col(f.name))
  }

  /** Windowed sum/min/max/count for EVERY series of a measurement in ONE
    * scan + one (series, window)-keyed aggregation — the multi-series
    * dashboard panel shape. The reference serves this as N per-series
    * `sum_op` round trips (the Grafana datasource fans out one query per
    * series, datasource.go); at 100 TB one job with map-side partial
    * aggregation beats S sequential scans of the same measurement.
    * Windows align to absolute multiples of `windowWidth` (same rule as
    * `sum_op`, src/libtsdb/sum_op.cc:9-10); NON-EMPTY windows only — the
    * empty-window spine is a per-series range concept the single-series
    * faces emit; materializing S×W spine cells here would dwarf the data.
    * Sums follow the per-type rule [[sumOf]]. */
  def sumWindowsAll(db: String, m: String, field: String,
                    t0: Long, t1: Long, windowWidth: Long): DataFrame = {
    val f = fieldOf(getSchema(db, m), field)
    require(windowWidth > 0, "window width must be positive")
    visibleRange(db, m, t0, t1)
      .groupBy(col(SeriesCol),
        TimeSeriesOps.windowStart(col(TimeCol), windowWidth).as("window_start"))
      .agg(sumOf(f).as("sum_value"),
        min(col(field)).as("min_value"), max(col(field)).as("max_value"),
        count(col(field)).as("n"))
  }

  /** Windowed MEAN — derived sum/count like the reference clients
    * (src/tsdbcli2/main.cc:203-238); non-empty windows only. */
  def meanWindows(db: String, m: String, series: String, field: String,
                  t0: Long, t1: Long, windowWidth: Long): DataFrame =
    TimeSeriesOps.meanWindows(seriesFrame(db, m, series, Seq(field), t0, t1)._2,
      SeriesCol, TimeCol, field, t0, t1, windowWidth)

  /** Grafana-style ZOOM dispatch (reference datasource.go:236-249: the
    * panel issues a raw select when the range holds few enough points,
    * otherwise a windowed MEAN at panel resolution): `npoints <=
    * maxDataPoints` → raw points; else per-window decimal-2 means over
    * `ceil(span / maxDataPoints)`-wide absolute-aligned windows (non-empty
    * windows — the renderer interpolates gaps). The decision is one
    * O(index-scale) count over the same read as the data, exactly the
    * reference's npoints check. Unified output: (time_ns, v, n, zoom_mode)
    * with n = points behind each row. */
  def zoom(db: String, m: String, series: String, field: String,
           t0: Long, t1: Long, maxDataPoints: Int): DataFrame = {
    require(maxDataPoints > 0, "maxDataPoints must be positive")
    val base = seriesFrame(db, m, series, Seq(field), t0, t1)._2
    val np = TimeSeriesOps.countPoints(base, TimeCol, t0, t1)
      .select("npoints").head().getLong(0)
    if (np <= maxDataPoints)
      base.select(col(TimeCol), col(field).cast("double").as("v"),
        when(col(field).isNotNull, 1L).otherwise(0L).as("n"),
        lit("raw").as("zoom_mode"))
    else {
      val w = zoomWidth(t0, t1, maxDataPoints)
      base.filter(col(field).isNotNull)
        .groupBy(TimeSeriesOps.windowStart(col(TimeCol), w).as(TimeCol))
        .agg((TimeSeriesOps.sumExact2(col(field)) / count(col(field))).as("v"),
          count(col(field)).as("n"))
        .select(col(TimeCol), col("v"), col("n"), lit("mean").as("zoom_mode"))
    }
  }

  /** Mean-window width of a zoom over `[t0, t1]`: `ceil(span /
    * maxDataPoints)`, computed without overflow (the span of all of time is
    * 2^64) and clamped to `[1, Long.MaxValue]`. */
  private def zoomWidth(t0: Long, t1: Long, maxDataPoints: Int): Long =
    ((BigInt(t1) - t0 + maxDataPoints) / maxDataPoints)
      .max(1).min(Long.MaxValue).toLong

  /** Grafana "All"-series ZOOM dispatch — the reference datasource's
    * per-series loop (datasource.go:209-221 fans out one count + one
    * select/mean round trip per series) collapsed into TWO jobs total:
    * a count pre-pass (one aggregate-only scan — column-pruned to series +
    * time at the parquet reader) collects one count per series, the scale
    * of the watermark table, and drives the per-series raw-vs-mean
    * decision exactly like [[zoom]]'s npoints check; then ONE data scan +
    * ONE shuffle where the grouping key is conditional: raw series group by
    * their own timestamp (groups of ONE row — the validated append path
    * enforces strictly increasing timestamps per series, reference
    * doc/README.txt:20-29, so a (series, ts) group can never hold two
    * points and the aggregate returns each point verbatim), dense series by
    * the absolute-aligned window. The decision is a lookup over the
    * collected set, like [[scan]]'s per-series ranges, so the plan carries
    * no series literal however many series there are. Per-series
    * semantics are identical to S independent [[zoom]] calls: raw rows
    * keep NULL field values (n = 0), mean windows are non-empty decimal-2
    * means. Output: (series, time_ns, v, n, zoom_mode). */
  def zoomAll(db: String, m: String, field: String,
              t0: Long, t1: Long, maxDataPoints: Int): DataFrame = {
    require(maxDataPoints > 0, "maxDataPoints must be positive")
    fieldOf(getSchema(db, m), field)
    val base = visibleRange(db, m, t0, t1)
    val w = zoomWidth(t0, t1, maxDataPoints)
    val rawSeries = base.groupBy(col(SeriesCol)).count()
      .filter(col("count") <= maxDataPoints).select(col(SeriesCol))
      .collect().map(_.getString(0)).toSet
    val isRaw = udf((s: String) => rawSeries(s)).apply(col(SeriesCol))
    base
      .filter(isRaw || col(field).isNotNull) // mean side drops nulls pre-shuffle
      .groupBy(col(SeriesCol),
        when(isRaw, col(TimeCol))
          .otherwise(TimeSeriesOps.windowStart(col(TimeCol), w)).as(TimeCol))
      .agg(first(col(field)).as("raw_v"),
        (TimeSeriesOps.sumExact2(col(field)) / count(col(field))).as("mean_v"),
        count(col(field)).as("n"))
      .select(col(SeriesCol), col(TimeCol),
        when(isRaw, col("raw_v").cast("double")).otherwise(col("mean_v")).as("v"),
        col("n"),
        when(isRaw, "raw").otherwise("mean").as("zoom_mode"))
  }

  /** Windowed MIN/MAX zoom (reference grafana datasource.go:384-430). */
  def minMaxWindows(db: String, m: String, series: String, field: String,
                    t0: Long, t1: Long, windowWidth: Long): DataFrame =
    TimeSeriesOps.minMaxWindows(seriesFrame(db, m, series, Seq(field), t0, t1)._2,
      SeriesCol, TimeCol, field, t0, t1, windowWidth)

  /** Trapezoidal integral (reference integral_op) of one field:
    * [[integrateMulti]] of `field`, its integral named `integral`. */
  def integrate(db: String, m: String, series: String, field: String,
                t0: Long, t1: Long, unitsPerSecond: Double = 1e9,
                valueDecimals: Option[Int] = None): DataFrame =
    integrateMulti(db, m, series, Seq(field), t0, t1, unitsPerSecond, valueDecimals)
      .withColumnRenamed(s"integral_$field", "integral")

  /** Multi-field trapezoidal integral — integral_op's field-LIST signature
    * (reference src/libtsdb/integral_op.cc:30-88): every requested field in
    * one timestamp walk. Empty fields list = all schema fields. Partial
    * sums are computed per STORAGE bucket (the op's bucketing aligns with
    * the engine's layout, so each task integrates the files it reads);
    * `valueDecimals` passes through to the op for order-independent exact
    * accumulation of fixed-precision fields. */
  def integrateMulti(db: String, m: String, series: String, fields: Seq[String],
                     t0: Long, t1: Long, unitsPerSecond: Double = 1e9,
                     valueDecimals: Option[Int] = None): DataFrame = {
    val (fs, pts) = seriesFrame(db, m, series, fields, t0, t1)
    TimeSeriesOps.integrateMulti(pts, SeriesCol, TimeCol, fs.map(_.name), t0, t1,
      unitsPerSecond, bucketWidth = bucketWidth, valueDecimals = valueDecimals)
  }

  /** LIST ACTIVE SERIES: series with ≥1 visible point in range, with counts
    * (reference src/libtsdb/measurement.cc:49-63). */
  def listActiveSeries(db: String, m: String, t0: Long, t1: Long): DataFrame =
    TimeSeriesOps.activeSeries(visibleRange(db, m, t0, t1),
      SeriesCol, TimeCol, t0, t1)

  // -------------------------------------------------- value min-max index

  private def vindexDir(db: String, m: String, field: String) =
    new Path(measPath(db, m), s"_vindex/$field")

  /** The field's value index, read with its known schema (inferring it
    * would cost a job); none when the field has no index. */
  private def valueIndex(db: String, m: String, f: Field): Option[DataFrame] = {
    val ip = vindexDir(db, m, f.name)
    if (!fs(ip).exists(ip)) None
    else Some(spark.read.schema(StructType(Seq(
      StructField(SeriesCol, StringType), StructField(BucketCol, LongType),
      StructField("vmin", f.ftype.spark), StructField("vmax", f.ftype.spark),
      StructField("tl_at_build", LongType)))).parquet(ip.toString))
  }

  private def fieldOf(schema: MeasurementSchema, field: String): Field =
    schema.fields.find(_.name == field)
      .getOrElse(throw new InvalidSchemaException(s"unknown field: $field"))

  /** Build (or rebuild) the per-(series, bucket) MIN/MAX sidecar for one
    * field — the engine's DATA-SKIPPING index for value predicates. The
    * reference's `index` file binary-searches TIME only
    * (src/libtsdb/select_op.cc:50-59); parquet footers do prune row groups
    * on values, but the planner still has to LIST and OPEN every bucket's
    * files to find that out — at 100 TB (millions of bucket dirs) the
    * listing/footer I/O is the cost, not the decode. The sidecar holds
    * bucket-count-scale rows, so a selective value band later drops bucket
    * directories from the read's listing, before any file is opened.
    * A build is [[refreshValueIndex]] keeping no old rows.
    *
    * Staleness: each row carries its series' `time_last` when the row was
    * written (`tl_at_build`). Appends are strictly monotone past
    * `time_last` — the only other write shape is the bitwise-identical
    * tail replay, which changes no value — so only buckets at or above
    * `floorDiv(tl_at_build, bucketWidth)` can gain data afterwards. A
    * value-pruned read always scans those buckets whatever their indexed
    * min/max and prunes only among strictly-older, immutable ones: an old
    * index prunes fewer buckets, never wrong ones. `compact` rewrites
    * layout, never values.
    *
    * Dead rows: rows of buckets that a delete or retention has removed
    * prune nothing (a read's listing no longer holds those buckets), and
    * the next build or refresh drops them, so the sidecar follows the
    * live buckets.
    *
    * Crash safety: the sidecar is written beside the live one and swapped
    * in by delete + rename, so a failed or crashed write leaves the old
    * index or none, and a read without an index is the plain (correct)
    * scan. Same single-writer contract as every other maintenance op
    * (doc/LOCKING.txt).
    *
    * @return number of (series, bucket) entries indexed */
  def buildValueIndex(db: String, m: String, field: String): Long =
    writeValueIndex(db, m, field, keepOld = false)

  /** INCREMENTAL maintenance of the value sidecar (see [[buildValueIndex]]
    * for its contract): appends past `tl_at_build` widen the always-scanned
    * span, so an old index prunes less and less of a read. A refresh
    * re-aggregates only each indexed series' buckets at or above its stale
    * floor, and every bucket of a series the index has never seen, and
    * keeps the older rows of buckets still stored, so per-refresh cost
    * scales with the data appended since the last write (the reference
    * maintains its time index on every commit,
    * src/libtsdb/write.cc:36-447). Without an index it is a build.
    * @return total (series, bucket) entries after the refresh */
  def refreshValueIndex(db: String, m: String, field: String): Long =
    writeValueIndex(db, m, field, keepOld = true)

  /** The one sidecar writer: fresh rows from one [[scan]] over each
    * series' buckets from its stale floor up (all of them without an old
    * row), the old rows below the floor when `keepOld`, all of them cut at
    * each series' delete watermark bucket; the floor, the cut and the new
    * `tl_at_build` are per-series lookups, so the plan carries no series
    * literal however many series there are. */
  private def writeValueIndex(db: String, m: String, field: String, keepOld: Boolean): Long = {
    val schema = getSchema(db, m)
    val f = fieldOf(schema, field)
    val old = if (keepOld) valueIndex(db, m, f) else None
    val wms = wmStore(db, m).load()
    // each indexed series' stale floor: the bucket of its time_last when
    // its rows were written
    val floors = old.fold(Map.empty[String, Long])(_.groupBy(col(SeriesCol))
      .agg(min("tl_at_build")).collect()
      .map(r => r.getString(0) -> Math.floorDiv(r.getLong(1), bucketWidth)).toMap)
    // every stored point, not only the visible range: bucket admission is
    // the narrowed listing
    val allOfTime = wms.map { case (sn, _) => sn -> (Long.MinValue, Long.MaxValue) }
    val fresh = scan(db, m, schema, allOfTime, sn =>
        bucketDirs(seriesDir(db, m, sn)).filter { case (b, _) => floors.get(sn).forall(b >= _) })
      .groupBy(col(SeriesCol), col(BucketCol))
      .agg(min(col(field)).as("vmin"), max(col(field)).as("vmax"))
    val out = vindexDir(db, m, field)
    val tmp = new Path(measPath(db, m), s"_vindex/.$field.refreshing")
    fs(tmp).delete(tmp, true)
    val written = Observation()
    withSeriesBounds(wms.map { case (sn, r) =>
      sn -> (Math.floorDiv(r.timeFirst, bucketWidth), floors.getOrElse(sn, Long.MinValue))
    }) { (live, floor) =>
      withSeriesBounds(wms.map { case (sn, r) => sn -> (r.timeLast, r.timeLast) }) { (tl, _) =>
        // old rows below the floor and fresh rows at or above it are
        // disjoint; rows below the delete watermark's bucket, or of a
        // series with no watermark (NULL bounds), drop
        old.fold(fresh)(_.filter(col(BucketCol) < floor).drop("tl_at_build")
            .unionByName(fresh))
          .filter(col(BucketCol) >= live)
          .withColumn("tl_at_build", tl)
          .observe(written, count(lit(1)).as("n"))
          // bucket-count-scale output: one small file keeps the read-side
          // driver lookup a single-footer operation
          .coalesce(1).write.parquet(tmp.toString)
      }
    }
    fs(out).delete(out, true)
    FileContext.getFileContext(out.toUri, hconf).rename(tmp, out, Options.Rename.NONE)
    written.get("n").asInstanceOf[Long]
  }

  /** SELECT `(time_ns, field)` of one series in `[t0, t1]` with
    * `field ∈ [vLo, vHi]` — value-pruned by directory: of the bucket
    * directories the range admits, the read drops each one the min-max
    * index (see [[buildValueIndex]]) proves cannot match, and [[scan]]s the
    * rest with the value filter pushed to parquet. A bucket is dropped only
    * if it has an index row, lies strictly below the bucket of its build
    * watermark (immutable since the build), and its `[vmin, vmax]` misses
    * the band or it holds only NULLs (NULL never matches SQL BETWEEN).
    * Without an index, or for a series newer than the build, nothing is
    * dropped: the plain filtered scan, identical rows. */
  def selectValueRange(db: String, m: String, series: String, field: String,
                       vLo: Double, vHi: Double, t0: Long, t1: Long): DataFrame = {
    val schema = getSchema(db, m)
    val f = fieldOf(schema, field)
    val wm = seriesRange(db, m, series)
      .getOrElse(throw new NoSuchSeriesException(db, m, series))
    val (c0, c1) = (math.max(t0, wm.timeFirst), math.min(t1, wm.timeLast))
    val index = if (c0 > c1) None else valueIndex(db, m, f)
    val dropped: Set[Long] = index.fold(Set.empty[Long]) { idx =>
      // driver-side lookup is index-row-scale for ONE series' bucket
      // range — the same order as the read's own bucket listing
      val rows = idx
        .filter(col(SeriesCol) === series && col(BucketCol)
          .between(Math.floorDiv(c0, bucketWidth), Math.floorDiv(c1, bucketWidth)))
        .select(col(BucketCol), col("vmin").cast("double"),
          col("vmax").cast("double"), col("tl_at_build"))
        .collect()
      // the double casts above round ≤1 ulp, so widen by one ulp each way
      // rather than ever dropping a boundary bucket
      rows.filter { r =>
        r.getLong(0) < Math.floorDiv(r.getLong(3), bucketWidth) && (r.isNullAt(1) ||
          Math.nextUp(r.getDouble(2)) < vLo || Math.nextDown(r.getDouble(1)) > vHi)
      }.map(_.getLong(0)).toSet
    }
    scan(db, m, schema, Map(series -> (c0, c1)),
        sn => bucketDirs(seriesDir(db, m, sn)).filterNot { case (b, _) => dropped(b) })
      .filter(col(field).between(vLo, vHi)).select(TimeCol, field)
  }

  /** §2.3 client-side transforms (reference grafana datasource.go:257-268)
    * over the visible range of one series, server-side here: tare,
    * difference, derivative, and the reset-aware rate extension. All
    * bucket-parallel (see TimeSeriesOps). */
  def tare(db: String, m: String, series: String, field: String,
           t0: Long, t1: Long): DataFrame =
    TimeSeriesOps.tare(
      seriesFrame(db, m, series, Seq(field), t0, t1)._2,
      SeriesCol, TimeCol, field, bucketWidth = bucketWidth)

  def difference(db: String, m: String, series: String, field: String,
                 t0: Long, t1: Long): DataFrame =
    TimeSeriesOps.difference(
      seriesFrame(db, m, series, Seq(field), t0, t1)._2,
      SeriesCol, TimeCol, field, bucketWidth = bucketWidth)

  def derivative(db: String, m: String, series: String, field: String,
                 t0: Long, t1: Long, unitsPerSecond: Double = 1e9): DataFrame =
    TimeSeriesOps.derivative(
      seriesFrame(db, m, series, Seq(field), t0, t1)._2,
      SeriesCol, TimeCol, field, unitsPerSecond, bucketWidth = bucketWidth)

  def rate(db: String, m: String, series: String, field: String,
           t0: Long, t1: Long, unitsPerSecond: Double = 1e9): DataFrame =
    TimeSeriesOps.rate(
      seriesFrame(db, m, series, Seq(field), t0, t1)._2,
      SeriesCol, TimeCol, field, unitsPerSecond, bucketWidth = bucketWidth)

  /** Gap filling over the visible range: per-window mean plus LOCF and
    * linear-interpolation fills for empty windows (extension — see
    * TimeSeriesOps.gapFill). */
  def gapFill(db: String, m: String, series: String, field: String,
              t0: Long, t1: Long, windowWidth: Long): DataFrame =
    TimeSeriesOps.gapFill(seriesFrame(db, m, series, Seq(field), t0, t1)._2,
      TimeCol, field, t0, t1, windowWidth)

  /** Per-series value histogram over the visible range (extension — see
    * TimeSeriesOps.histogram). */
  def histogram(db: String, m: String, series: String, field: String,
                t0: Long, t1: Long, binWidth: Double): DataFrame =
    TimeSeriesOps.histogram(
      seriesFrame(db, m, series, Seq(field), t0, t1)._2,
      SeriesCol, field, binWidth)

  /** Exact per-series quantiles over the visible range (extension — see
    * TimeSeriesOps.quantiles: distributed counting sort, values picked not
    * interpolated). */
  def quantiles(db: String, m: String, series: String, field: String,
                t0: Long, t1: Long, qs: Seq[Double]): DataFrame =
    TimeSeriesOps.quantiles(
      seriesFrame(db, m, series, Seq(field), t0, t1)._2,
      SeriesCol, field, qs)

  /** MAD-based anomaly flags over the visible range (extension — see
    * TimeSeriesOps.madOutliers: exact lower-median picks, no sketches). */
  def anomalies(db: String, m: String, series: String, field: String,
                t0: Long, t1: Long, k: Double): DataFrame =
    TimeSeriesOps.madOutliers(
      seriesFrame(db, m, series, Seq(field), t0, t1)._2,
      SeriesCol, TimeCol, field, k)

  /** Batch sessionization of the visible range (extension — see
    * TimeSeriesOps.sessionize: bucket-parallel gaps-and-islands). */
  def sessionize(db: String, m: String, series: String, t0: Long, t1: Long,
                 gapUs: Long): DataFrame =
    TimeSeriesOps.sessionize(
      seriesFrame(db, m, series, Nil, t0, t1)._2.select(SeriesCol, TimeCol),
      SeriesCol, TimeCol, gapUs, bucketWidth = bucketWidth)

  /** LTTB-style visual downsample of the visible range (extension — see
    * TimeSeriesOps.lttbDownsample; unlike [[downsample]] this REDUCES for
    * a renderer rather than aggregating into a rollup measurement). */
  def lttb(db: String, m: String, series: String, field: String,
           t0: Long, t1: Long, bucketWidth: Long): DataFrame =
    TimeSeriesOps.lttbDownsample(
      seriesFrame(db, m, series, Seq(field), t0, t1)._2,
      SeriesCol, TimeCol, field, bucketWidth)

  /** Downsample a series into a ROLLUP measurement: the windowed
    * sum/min/max/count aggregate (reference sum_op semantics incl. empty
    * windows) written back through the validated append path as a derived
    * measurement `<m>__rollup_<w>` — the standard TSDB rollup-table
    * workflow (dashboards zoom on the rollup, raw data keeps full
    * resolution; the reference computes sum_op on every query instead,
    * sum_op.cc:6-281). The rollup is a first-class measurement: same
    * layout, same catalog, same clamped reads, further downsample-able.
    * @return the rollup measurement name. */
  def downsample(db: String, m: String, series: String, field: String,
                 t0: Long, t1: Long, windowWidth: Long): String = {
    // planned first: an unknown field or series fails before the rollup
    // measurement exists
    val agg = sumWindows(db, m, series, field, t0, t1, windowWidth)
      .select(col("window_start").as(TimeCol),
        col("sum_value"), col("min_value"), col("max_value"), col("n"))
    val rollup = Rollups.name(m, field, windowWidth)
    createMeasurement(db, rollup, Rollups.Schema) // idempotent iff same schema
    writePoints(db, rollup, series, agg)
    rollup
  }

  // ---------------------------------------------------------------- paths/io

  private def dbPath(db: String) = new Path(root, db)
  private def measPath(db: String, m: String) = new Path(dbPath(db), m)
  private def schemaPath(db: String, m: String) = new Path(measPath(db, m), "_schema.json")
  private def metaDir(db: String, m: String) = new Path(measPath(db, m), "_meta")
  /** Append-intent record: present iff an append is in flight (or died). It
    * names the batch's series one a line, Hive-escaped like seriesDir, so a
    * line never holds a newline, '{' or '"'. A record is written once,
    * under a fresh name, and never rewritten. */
  private def newIntent(db: String, m: String): Path =
    new Path(metaDir(db, m), s".append-${java.util.UUID.randomUUID}.pending")
  private def writeIntent(p: Path, series: Seq[String]): Unit =
    atomicWrite(p, series.map(escapePathName(_) + "\n").mkString)
  /** The series a record names; none if it vanished (its writer finished).
    * Any other `.pending` file is corrupt and fails the write loudly. */
  private def readIntent(p: Path): Seq[String] = {
    def corrupt = new InvalidSchemaException(s"corrupt append-intent record: $p")
    if (!Tsdb.IntentName.matches(p.getName)) throw corrupt
    val lines = try readString(p).split("\n").toSeq
      catch { case _: java.io.FileNotFoundException => return Nil }
    if (lines.exists(l => l.isEmpty || escapePathName(unescapePathName(l)) != l)) throw corrupt
    lines.map(unescapePathName)
  }
  private def dataDir(db: String, m: String) = new Path(measPath(db, m), "data")

  /** Canonical on-disk directory for one series' data. The name is
    * Hive-escaped EXACTLY like Spark's own partitioned writer would escape
    * it (ExternalCatalogUtils.escapePathName), so (a) writers and the
    * pruned reader agree on one physical path for keys holding '=', ':',
    * '%', '#' — typical of tag-encoded TSDB series — and (b) Spark's
    * partition-dir parser unescapes it back to the raw key on read, keeping
    * `col(series) === raw` predicates true. Plain names escape to
    * themselves, so pre-existing layouts are untouched. */
  private def seriesDir(db: String, m: String, series: String): Path =
    new Path(dataDir(db, m),
      s"$SeriesCol=" + escapePathName(series))

  /** One signature-cached watermark store per measurement (see
    * [[WatermarkStore]] for format, caching and the concurrency contract). */
  private val wmStores =
    scala.collection.concurrent.TrieMap.empty[(String, String), WatermarkStore]
  private def wmStore(db: String, m: String): WatermarkStore =
    wmStores.getOrElseUpdate((db, m),
      new WatermarkStore(new Path(measPath(db, m), "_wm"), hconf))

  private def validName(s: String, what: String): Unit =
    if (s == null || !s.matches("[A-Za-z0-9_.-]{1,123}") || s.startsWith("_") ||
        s == "." || s == "..")
      throw new InvalidSchemaException(s"invalid $what name '$s'")

  /** Series names follow the REFERENCE's looser rule (series.cc:24-25:
    * reject only '/', ' ', '\\') — tag-encoded keys like
    * "host=web-01,dc=us" are legal series. Safe on disk because seriesDir
    * Hive-escapes the physical directory name; db/measurement names stay
    * strict (they name catalog paths and parquet column namespaces). */
  private def validSeriesName(s: String): Unit = {
    if (s == null || s.isEmpty || s.length > 123 ||
        s.exists(c => c == '/' || c == ' ' || c == '\\') ||
        s.startsWith("_") || s == "." || s == "..")
      throw new InvalidSchemaException(s"invalid series name '$s'")
    // the RAW bound is not enough: Hive escaping expands each special
    // char to %XX, and the series data directory "series=" + escaped must
    // stay under the 255-byte filesystem component limit — fail LOUDLY here
    // instead of an ENAMETOOLONG from the write job, after the intent record
    // landed. Measure BYTES, not UTF-16 chars: escapePathName passes >0x7F
    // through, so a 123-char non-ASCII name is up to ~369 bytes on disk.
    if (escapePathName(s).getBytes(StandardCharsets.UTF_8).length > 240)
      throw new InvalidSchemaException(
        s"series name escapes past the filesystem path-component limit: '$s'")
  }

  private def listDirs(p: Path): Seq[String] = {
    val f = fs(p)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(_.startsWith("_")).sorted
  }

  private def readString(p: Path): String = StorageIO.readString(p, hconf)

  private def atomicWrite(p: Path, content: String): Unit =
    StorageIO.atomicWrite(p, content, hconf)
}

object Tsdb {
  /** 1 hour of nanoseconds — ~3.6 GB/bucket at 1M points/sec × 1 KB rows;
    * tune per deployment via the constructor (persisted like the reference's
    * `chunk_size`, src/libtsdb/constants.h:9). */
  val DefaultBucketWidth: Long = 3600L * 1000000000L

  /** Constructor sentinel: adopt the persisted width (or the default when
    * creating a new root) rather than requesting a specific one. */
  val UseExistingWidth: Long = Long.MinValue
  /** New-point count of a write batch above which the append pays
    * repartitionByRange's sampling pass to split hot buckets across tasks;
    * at or below it, hash on the partition columns (bucket, or series and
    * bucket). */
  val RangeWriteThreshold: Long = 32L * 1000 * 1000
  /** Hidden staging dirs of `swapBuckets` (leading dot: invisible to
    * Spark's file index, so readers never see half-written output). */
  private[engine] val CompactTmp = ".compacting"
  private[engine] val CompactTrash = ".compact-trash"
  /** File name of an append-intent record under `_meta`. */
  private val IntentName = """\.append-[0-9a-f-]{36}\.pending""".r
}
