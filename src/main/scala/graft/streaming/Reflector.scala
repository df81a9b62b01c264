package graft.streaming

import org.apache.spark.sql.DataFrame
import graft.engine.{MeasurementSchema, Tsdb, WriteResult}

/** The remote side of a reflector link — the subset of the engine surface a
  * reflector needs (the reference reflector socket likewise supports only
  * schema retrieval and writes, doc/REFLECTOR.txt:86-90). Production
  * deployments adapt a `Tsdb` rooted on the remote storage; tests inject
  * failures to model an unreachable upstream. */
trait ReflectorRemote {
  def createDatabase(db: String): Unit
  def createMeasurement(db: String, m: String, schema: MeasurementSchema): Unit
  def writePoints(db: String, m: String, series: String, points: DataFrame): WriteResult
  def writeBatch(db: String, m: String, points: DataFrame): Map[String, WriteResult]
}

object ReflectorRemote {
  /** The production adapter: the "remote" is an engine root on another
    * storage system (the transport/auth layer of the reference's SSL client
    * is below a storage-API library's waterline). */
  def apply(t: Tsdb): ReflectorRemote = new ReflectorRemote {
    def createDatabase(db: String): Unit = t.createDatabase(db)
    def createMeasurement(db: String, m: String, schema: MeasurementSchema): Unit =
      t.createMeasurement(db, m, schema)
    def writePoints(db: String, m: String, series: String, points: DataFrame): WriteResult =
      t.writePoints(db, m, series, points)
    def writeBatch(db: String, m: String, points: DataFrame): Map[String, WriteResult] =
      t.writeBatch(db, m, points)
  }
}

/** Fault-injection decorator over a [[ReflectorRemote]]: while `down`,
  * every operation throws `IOException` — the unreachable-upstream model
  * shared by the specs and the `engine_reflector` correctness query. */
final class FaultInjectedRemote(underlying: ReflectorRemote) extends ReflectorRemote {
  @volatile var down = false
  private def live[A](a: => A): A =
    if (down) throw new java.io.IOException("remote unreachable") else a
  def createDatabase(db: String): Unit = live(underlying.createDatabase(db))
  def createMeasurement(db: String, m: String, schema: MeasurementSchema): Unit =
    live(underlying.createMeasurement(db, m, schema))
  def writePoints(db: String, m: String, series: String, points: DataFrame): WriteResult =
    live(underlying.writePoints(db, m, series, points))
  def writeBatch(db: String, m: String, points: DataFrame): Map[String, WriteResult] =
    live(underlying.writeBatch(db, m, points))
}

/** Store-and-forward ingest proxy — the reference's tsdbreflector
  * (src/tsdbserver/reflector.cc:152-227, doc/REFLECTOR.txt:1-24): writes
  * pass straight through to a remote instance; when the remote is
  * unreachable OR a local backlog exists (ordering — the engine appends
  * monotonically, so newer points must not overtake spooled older ones,
  * reflector.cc:176-181), points spool into a local engine root; `flush()`
  * later drains the spool to the remote and deletes it locally
  * (reflector.cc:308-357's per-chunk write-then-delete_points loop).
  *
  * `dbMap` renames local databases to remote ones (doc/REFLECTOR.txt:17-26:
  * every data logger writes "sensor_data" locally, each maps to its own
  * remote database).
  *
  * Exactly-once without a transaction log: flush writes to the remote FIRST
  * and only then advances the local delete watermark. A crash between the
  * two replays the same points on the next flush, and the remote's bitwise
  * idempotent tail overwrite (reference wal.cc:87-246) verifies the replay
  * into a no-op — the same guarantee the streaming sink leans on.
  *
  * Scale posture: flush drains ALL spooled series of a measurement in ONE
  * `writeBatch` (fixed job count whatever the series count) and cuts the
  * local watermarks in ONE `deleteUpToBatch` survivor pass — the reference
  * flushes per series because it is single-node (reflector.cc:308-327).
  * Contract: `flush()` writes many series at once, so under the engine's
  * concurrency contract (a multi-series batch is the measurement's only
  * writer, see `Tsdb`) it is the exclusive writer of the spool measurement
  * while it runs (the reference's series_total_lock, reflector.cc:312);
  * route concurrent `writePoints` calls through the same Reflector instance
  * or pause them across a flush.
  */
final class Reflector(val local: Tsdb, val remote: ReflectorRemote,
                      val dbMap: Map[String, String]) {

  private def remoteDb(db: String): String =
    dbMap.getOrElse(db, throw new graft.engine.NoSuchDatabaseException(db))

  /** Does the spool hold unflushed points for this series? Watermark
    * arithmetic only — a fully-drained series has `time_first > time_last`
    * (delete-into-the-future), a never-spooled one has no watermark. No
    * Spark job (the reference runs count_points per write,
    * reflector.cc:177-179, because its watermarks aren't a catalog). */
  def spooled(db: String, m: String, series: String): Boolean =
    local.seriesRange(db, m, series).exists(r => r.timeFirst <= r.timeLast)

  /** Reflect one write: remote when reachable and no backlog, local spool
    * otherwise (reflector.cc:184-224). The local measurement must exist —
    * the reflector serves schemas FROM the spool (doc/REFLECTOR.txt:88-90).
    * @return (result, true) when the write landed remotely, (result, false)
    *         when it spooled. */
  def writePoints(db: String, m: String, series: String,
                  points: DataFrame): (WriteResult, Boolean) = {
    val rdb = remoteDb(db)
    local.getSchema(db, m) // local measurement is the schema authority
    if (!spooled(db, m, series)) {
      // a TsdbException is the REMOTE ENGINE speaking (validation rejection,
      // diverging replay bytes) — spooling it would bury the corruption
      // signal and poison every later flush; only transport failure means
      // "down" (reference catches the connection error, reflector.cc:205-212)
      try return (remote.writePoints(rdb, m, series, points), true)
      catch {
        case e: graft.engine.TsdbException    => throw e
        case scala.util.control.NonFatal(_) => () // remote down -> spool
      }
    }
    (local.writePoints(db, m, series, points), false)
  }

  /** Reflect one MULTI-series batch — the micro-batch form of `writePoints`
    * with the same routing per series: series with a spool backlog write
    * locally (ordering), the rest try the remote together; if the remote is
    * down everything spools. Two `writeBatch` calls at most (one remote,
    * one local) whatever the series count — the streaming-sink shape.
    *
    * Replay safety composes with the routing: a crashed micro-batch that
    * already landed remotely replays as a remote bitwise no-op (no backlog
    * was created, so the replay routes remote again); one that spooled
    * replays as a LOCAL bitwise no-op (the spooled points themselves are
    * the backlog that forces the same local route). One interleaving is
    * only EVENTUALLY exactly-once: a batch that landed remotely whose
    * redelivery arrives while the remote is DOWN spools a local copy
    * (unreachable remote watermarks cannot be consulted), so remote+spool
    * transiently double-count it — the next flush bitwise-verifies the
    * replay into a remote no-op and deletes the local copy, converging
    * storage back to exactly-once. Readers of the spool must treat it as a
    * buffer, not a second table.
    * @return per-series results, paired with true when that series' points
    *         landed remotely. */
  def writeBatch(db: String, m: String,
                 points: DataFrame): Map[String, (WriteResult, Boolean)] = {
    import org.apache.spark.sql.functions.col
    val rdb = remoteDb(db)
    local.getSchema(db, m)
    val backlogged = local.listSeries(db, m)
      .filter(sn => spooled(db, m, sn)).toSet
    val sCol = MeasurementSchema.SeriesCol
    val toRemote =
      if (backlogged.isEmpty) points
      // NULL-series rows route with the remote share so the engine rejects
      // them loudly (three-valued isInCollection would otherwise silently
      // drop them from BOTH sides)
      else points.filter(col(sCol).isNull || !col(sCol).isInCollection(backlogged))
    val remoteRes =
      // validation/corruption rejections surface (see writePoints); only
      // transport failure routes to the spool
      try Some(remote.writeBatch(rdb, m, toRemote))
      catch {
        case e: graft.engine.TsdbException    => throw e
        case scala.util.control.NonFatal(_) => None
      }
    remoteRes match {
      case None => // remote down: EVERYTHING spools, backlogged or not
        local.writeBatch(db, m, points).map { case (sn, r) => sn -> (r, false) }
      case Some(rr) =>
        val localRes =
          if (backlogged.isEmpty) Map.empty[String, WriteResult]
          else local.writeBatch(db, m,
            points.filter(col(sCol).isInCollection(backlogged)))
        rr.map { case (sn, r) => sn -> (r, true) } ++
          localRes.map { case (sn, r) => sn -> (r, false) }
    }
  }

  /** Start a Structured Streaming ingest THROUGH the reflector: each
    * micro-batch routes via [[writeBatch]] — the disconnected-edge-node
    * workflow as a streaming sink (spool while the upstream is down, keep
    * ordering while backlogged, [[flush]] drains when convenient). The
    * checkpoint + the engine's bitwise replay give exactly-once to
    * whichever store each series lands in. */
  def startStream(db: String, m: String, points: DataFrame, seriesCol: String,
                  checkpoint: String,
                  trigger: org.apache.spark.sql.streaming.Trigger =
                    org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.functions.col
    points.writeStream
      .queryName(s"graft-reflect-$db-$m")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val renamed =
          if (seriesCol == MeasurementSchema.SeriesCol) batch
          else batch.withColumn(MeasurementSchema.SeriesCol, col(seriesCol))
            .drop(seriesCol)
        writeBatch(db, m, renamed): Unit
      }
      .start()
  }

  /** Mirror every mapped local measurement's schema to the remote
    * (reflector.cc:269-305's create_remote_measurements): `createMeasurement`
    * is idempotent iff the schema is identical, so a diverged remote schema
    * surfaces as `MeasurementExistsException` instead of corrupt writes. */
  def syncSchemas(): Unit =
    for {
      (db, rdb) <- dbMap.toSeq.sortBy(_._1)
      if local.listDatabases().contains(db)
      _ = remote.createDatabase(rdb)
      m <- local.listMeasurements(db)
    } remote.createMeasurement(rdb, m, local.getSchema(db, m))

  /** Drain spooled points of `db`/`m` to the remote, then delete the
    * flushed range locally. Remote-first ordering + the remote's idempotent
    * replay make a crash anywhere in between safe to re-run.
    *
    * `maxPoints` is the flush BACKPRESSURE cap: after a long outage the
    * spool may hold a week of data, and draining it as one batch is one
    * giant remote write. With a cap, each call drains the OLDEST whole
    * buckets whose point total fits the cap (always at least one bucket, so
    * progress is guaranteed — the cap is a soft bound at bucket
    * granularity). Partial drains are safe for the same reason full ones
    * are: each series' drained slice is a time-prefix of its backlog
    * (buckets are time-ordered), the remote append is replay-tolerant, and
    * the local delete advances only past what landed. Repeat until the
    * return is empty to drain fully ([[flushAll]] does).
    * @return flushed point count per series; empty when nothing remained. */
  def flush(db: String, m: String, maxPoints: Option[Long] = None): Map[String, Long] = {
    val rdb = remoteDb(db)
    val allCuts: Map[String, Long] = local.listSeries(db, m)
      .flatMap(sn => local.seriesRange(db, m, sn)
        .filter(r => r.timeFirst <= r.timeLast).map(r => sn -> r.timeLast)).toMap
    if (allCuts.isEmpty) return Map.empty
    import org.apache.spark.sql.functions.{col, count, lit, max}
    val bCol = MeasurementSchema.BucketCol
    val visible = local.visible(db, m)
    // one distributed read of the (capped) spool backlog, one validated
    // remote append (replay-tolerant), one batched local delete at each
    // series' flushed watermark
    val (backlog, cuts) = maxPoints match {
      case None => (visible.drop(bCol), allCuts)
      case Some(cap) =>
        require(cap > 0, s"maxPoints must be positive: $cap")
        // bucket-count-scale aggregate, oldest-first prefix under the cap
        val perBucket = visible.groupBy(col(bCol)).agg(count(lit(1)).as("n"))
          .orderBy(col(bCol)).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        var acc = 0L
        val taken = perBucket.takeWhile { case (_, n) =>
          val fits = acc == 0L || acc + n <= cap; if (fits) acc += n; fits
        }
        if (taken.isEmpty) return Map.empty // raced to empty
        val maxBucket = taken.last._1
        val slice = visible.filter(col(bCol) <= maxBucket)
        val sliceCuts = slice.groupBy(col(MeasurementSchema.SeriesCol))
          .agg(max(col(MeasurementSchema.TimeCol)).as("t")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        (slice.drop(bCol), sliceCuts)
    }
    val results = remote.writeBatch(rdb, m, backlog)
    local.deleteUpToBatch(db, m, cuts)
    cuts.map { case (sn, _) =>
      sn -> results.get(sn).map(r => r.written + r.overwriteVerified).getOrElse(0L)
    }
  }

  /** Flush every mapped database's every measurement — the background flush
    * thread's sweep (reflector.cc:418-454). With `maxPoints`, each
    * measurement drains in capped oldest-first rounds, at most `maxRounds`
    * of them (bounded remote batch sizes however long the outage was).
    * The round bound matters under SUSTAINED ingest: while a backlog
    * exists, concurrent writes keep routing to the spool, so "drain until
    * empty" could spin on one measurement forever and starve the rest of
    * the sweep — a bounded sweep leaves the residual to the next sweep,
    * exactly how a background flush thread wants to behave. Uncapped
    * flushes drain the whole backlog in their single round, as before. */
  def flushAll(maxPoints: Option[Long] = None,
               maxRounds: Int = 64): Map[(String, String, String), Long] = {
    require(maxRounds > 0, s"maxRounds must be positive: $maxRounds")
    val acc = scala.collection.mutable.Map.empty[(String, String, String), Long]
    for {
      (db, _) <- dbMap.toSeq.sortBy(_._1)
      if local.listDatabases().contains(db)
      m <- local.listMeasurements(db)
    } {
      val rounds = if (maxPoints.isDefined) maxRounds else 1
      var i = 0
      var drained = false
      while (i < rounds && !drained) {
        val r = flush(db, m, maxPoints)
        r.foreach { case (sn, n) =>
          acc((db, m, sn)) = acc.getOrElse((db, m, sn), 0L) + n }
        drained = r.isEmpty
        i += 1
      }
    }
    acc.toMap
  }
}
