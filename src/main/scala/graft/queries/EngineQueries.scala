package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine._
import graft.streaming.StreamingOps
import graft.tables.Tables
import Params._

/** Write-then-read correctness for the ENGINE half (catalog + validated
  * append + delete-front + watermark-clamped reads). Each query routes the
  * events data through the full Tsdb machinery — create, multi-batch append
  * with an idempotent overlapping tail rewrite, delete-from-front with
  * below-watermark discard — then reads back through the engine layout. The
  * DuckDB oracle models only the expected VISIBILITY from the source table,
  * so a bug anywhere in the write/delete/read pipeline breaks the match
  * (this retires round 1's self-confirming `tsdb_delete_front_view`).
  *
  * The engine is time-unit agnostic; these tables use µs on the `time_ns`
  * axis so the oracle can address the same instants (DuckDB reads the
  * events `ts` at µs precision). Bucket width = 1 day of µs.
  */
object EngineQueries {

  /** Canonical per-series points: events collapsed to one deterministic row
    * per timestamp (engine timestamps are unique per series — reference
    * doc/README.txt:20-29; events can collide at µs resolution). */
  private val PTS =
    """(SELECT event_type AS series, epoch_us(ts) AS time_us, min(value) AS v
      |  FROM events GROUP BY 1, 2)""".stripMargin.replace("\n", " ")

  /** Canonical points staged to local parquet ONCE per JVM per sf dir: the
    * engine queries measure the ENGINE (validated write, delete, read), not
    * the repeated re-canonicalization of the driver's events table — a real
    * caller's input batch is already materialized. */
  private object CanonicalStage {
    private val staged = scala.collection.mutable.Map[String, String]()
    def df(s: SparkSession, dir: String): DataFrame = synchronized {
      val p = staged.getOrElseUpdate(dir, {
        val out = java.nio.file.Files.createTempDirectory("graft-canon-").toString
        Tables.eventsTsdb(s, dir)
          .groupBy("series", "time_us").agg(min("value").as("v"))
          .write.mode("overwrite").parquet(out)
        out
      })
      s.read.parquet(p)
    }
  }

  private def canonicalPoints(s: SparkSession, dir: String): DataFrame =
    CanonicalStage.df(s, dir)

  private val schema = MeasurementSchema(Seq(Field("v", FieldType.F64)))
  private val BucketW = DAY // 1 day of µs

  private def freshTsdb(s: SparkSession): Tsdb =
    new Tsdb(s, java.nio.file.Files.createTempDirectory("graft-engine-q-").toString,
      requestedBucketWidth = BucketW)

  /** Mid-range split point for the two-batch append. */
  private val MID = 1705500000000000L

  /** Delete-into-the-future watermark for `engine_delete_future`. */
  private val FUT = MID + 3 * DAY

  /** Session gap for the streaming sessionization face (5 min of µs — the
    * same gap as the batch tsdb_sessionize). */
  private val SESSION_GAP = 5 * 60000000L

  /** File-stream source schema for the streaming-face queries. */
  private val PointSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("series",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("time_us",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("v",
      org.apache.spark.sql.types.DoubleType)))

  /** Shared STREAM-SOURCE batch files, staged once per JVM per (sf dir,
    * family) — VERDICT r12 #4: the 12 streaming faces each paid
    * persist + two filtered parquet writes (+ horizon aggregates) per
    * invocation to stage the SAME canonical batches; only the two-drain
    * checkpoint lifecycle is the thing under test, so the input batches
    * are staged once and per-query stage dirs are fed by FILE COPY (no
    * Spark job). Checkpoints stay strictly per-invocation — state
    * carry-over across drains is exactly the semantics the faces gate.
    * Families:
    *  - pv: canonical (series, time_us, v) — b1 (<= MID), b2 (> MID),
    *    all, sentinel (one horizon-derived row), b2s (b2 + sentinel)
    *  - pn: click series as (series, time_ns, v) — b1/b2 (ingest face)
    *  - us: distinct (series, time_us, user_id) — b1/b2
    *  - ue: (user_id, event_type, time_us) — b1/b2
    *  - dc: (doc_id, time_us = doc_id + DAY, text) — b1/b2 at the doc
    *    median (multi-file per batch, exactly like the original staging)
    * Metadata (maxTs / docMid / docMax) is computed once with the files. */
  private object StreamSrcStage {
    private val dirs = scala.collection.mutable.Map[(String, String), String]()
    private val meta = scala.collection.mutable.Map[String, Map[String, Long]]()

    def metaOf(s: SparkSession, dir: String): Map[String, Long] = synchronized {
      meta.getOrElseUpdate(dir, {
        val pts = canonicalPoints(s, dir)
        val maxTs = pts.agg(max("time_us")).head().getLong(0)
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), (col("doc_id") + DAY).as("time_us"))
        val r = docs.agg(
          expr("percentile_approx(doc_id, 0.5)"), max("time_us")).head()
        Map("maxTs" -> maxTs, "docMid" -> r.getLong(0), "docMax" -> r.getLong(1))
      })
    }

    private def family(s: SparkSession, dir: String, fam: String): String =
      synchronized {
        dirs.getOrElseUpdate((dir, fam), {
          val base = java.nio.file.Files
            .createTempDirectory(s"graft-streamsrc-$fam-").toString
          import s.implicits._
          fam match {
            case "pv" =>
              val pts = canonicalPoints(s, dir)
                .select(col("series"), col("time_us"), col("v")).persist()
              val sentinelTs = metaOf(s, dir)("maxTs") + 30 * DAY
              val sentinel = Seq(("zzz_sentinel", sentinelTs, 0.0))
                .toDF("series", "time_us", "v")
              try {
                pts.filter(col("time_us") <= MID).repartition(1)
                  .write.parquet(s"$base/b1")
                pts.filter(col("time_us") > MID).repartition(1)
                  .write.parquet(s"$base/b2")
                pts.repartition(1).write.parquet(s"$base/all")
                sentinel.repartition(1).write.parquet(s"$base/sentinel")
                pts.filter(col("time_us") > MID).union(sentinel)
                  .repartition(1).write.parquet(s"$base/b2s")
              } finally pts.unpersist()
            case "pn" =>
              val pts = canonicalPoints(s, dir).filter(col("series") === "click")
                .select(col("series"), col("time_us").as("time_ns"), col("v"))
                .persist()
              try {
                pts.filter(col("time_ns") <= MID).repartition(1)
                  .write.parquet(s"$base/b1")
                pts.filter(col("time_ns") > MID).repartition(1)
                  .write.parquet(s"$base/b2")
              } finally pts.unpersist()
            case "us" =>
              val us = Tables.eventsTsdb(s, dir)
                .select(col("series"), col("time_us"), col("user_id"))
                .distinct().persist()
              try {
                us.filter(col("time_us") <= MID).repartition(1)
                  .write.parquet(s"$base/b1")
                us.filter(col("time_us") > MID).repartition(1)
                  .write.parquet(s"$base/b2")
              } finally us.unpersist()
            case "ue" =>
              val ue = Tables.eventsTsdb(s, dir)
                .select(col("user_id"), col("series").as("event_type"),
                  col("time_us")).persist()
              try {
                ue.filter(col("time_us") <= MID).repartition(1)
                  .write.parquet(s"$base/b1")
                ue.filter(col("time_us") > MID).repartition(1)
                  .write.parquet(s"$base/b2")
              } finally ue.unpersist()
            case "dc" =>
              val docMid = metaOf(s, dir)("docMid")
              val docs = Tables(s, dir, "documents")
                .select(col("doc_id"), (col("doc_id") + DAY).as("time_us"),
                  col("text")).persist()
              try {
                docs.filter(col("doc_id") <= docMid).write.parquet(s"$base/b1")
                docs.filter(col("doc_id") > docMid).write.parquet(s"$base/b2")
              } finally docs.unpersist()
          }
          base
        })
      }

    /** Feed one staged batch into a query's stage dir by FILE COPY with a
      * collision-proof name prefix (the file-stream source tracks seen
      * files by name in the checkpoint, so batch 2's files must not shadow
      * batch 1's). */
    def feed(s: SparkSession, dir: String, fam: String, batch: String,
             dest: String): Unit = {
      val src = java.nio.file.Paths.get(family(s, dir, fam), batch)
      val d = java.nio.file.Paths.get(dest)
      val stream = java.nio.file.Files.list(src)
      try stream.forEach { p =>
        val n = p.getFileName.toString
        if (n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))
          java.nio.file.Files.copy(p, d.resolve(s"$batch-$n"))
      } finally stream.close()
    }
  }

  /** Shared READ-ONLY engine root, built once per JVM per sf dir: every
    * canonical series written through the full validated append path
    * (concurrently — series are independent, reference doc/LOCKING.txt:3-8).
    * Read-side queries
    * (count/integral/windowed/select/catalog) run against it — "write once,
    * query many" is the engine's real usage shape, and rebuilding the root
    * per query would just re-bench writePoints, which has its own dedicated
    * queries (engine_write_read, engine_delete_front, engine_compact). */
  private object Fixture {
    private val roots = scala.collection.mutable.Map[String, String]()
    def tsdb(s: SparkSession, dir: String): Tsdb = synchronized {
      val root = roots.getOrElseUpdate(dir, {
        val r = java.nio.file.Files.createTempDirectory("graft-engine-fx-").toString
        val t = new Tsdb(s, r, requestedBucketWidth = BucketW)
        t.createDatabase("bench")
        t.createMeasurement("bench", "events", schema)
        val pts = canonicalPoints(s, dir).persist()
        try {
          val names = pts.select("series").distinct()
            .collect().map(_.getString(0)).sorted
          import scala.concurrent.{Await, Future}
          import scala.concurrent.duration.Duration
          import scala.concurrent.ExecutionContext.Implicits.global
          Await.result(Future.sequence(names.toSeq.map { sn =>
            Future {
              t.writePoints("bench", "events", sn,
                pts.filter(col("series") === sn)
                  .select(col("time_us").as("time_ns"), col("v")))
            }
          }), Duration.Inf)
        } finally pts.unpersist()
        r
      })
      new Tsdb(s, root) // adopts the persisted bucket width
    }
  }

  val defs: Seq[QueryDef] = Seq(

    // Ops #10 + catalog (write_wal + create/auto-series): two-batch append
    // where batch 2 re-sends a 2-day tail (accepted iff bitwise identical,
    // reference wal.cc:87-246), read back through the bucket-partitioned
    // layout. Oracle = the canonical points, written independently.
    QueryDef.withOracle("engine_write_read",
      s"""SELECT time_us, v FROM $PTS
         |WHERE series = 'purchase' ORDER BY time_us""".stripMargin) { (s, dir) =>
      val t = freshTsdb(s)
      t.createDatabase("bench")
      t.createMeasurement("bench", "events", schema)
      // cached: each writePoints runs several actions over the batch
      val pts = canonicalPoints(s, dir).filter(col("series") === "purchase")
        .select(col("time_us").as("time_ns"), col("v")).persist()
      try {
        t.writePoints("bench", "events", "purchase", pts.filter(col("time_ns") <= MID))
        // batch 2 overlaps the last 2 days of batch 1 -> idempotent rewrite
        t.writePoints("bench", "events", "purchase",
          pts.filter(col("time_ns") > MID - 2 * DAY))
      } finally pts.unpersist()
      t.select("bench", "events", "purchase", Seq("v"), 0L, Long.MaxValue - 1)
        .select(col("time_ns").as("time_us"), col("v"))
    },

    // Op #11 (delete_points + read clamp, reference delete.cc:10-162,
    // select_op.cc:18-19): write, delete-from-front, then a second write
    // whose below-watermark points must be silently discarded and whose
    // tail rewrite must verify. Oracle = points above the cut, only.
    QueryDef.withOracle("engine_delete_front",
      s"""SELECT time_us, v FROM $PTS
         |WHERE series = 'purchase' AND time_us > $CUT ORDER BY time_us""".stripMargin) { (s, dir) =>
      val t = freshTsdb(s)
      t.createDatabase("bench")
      t.createMeasurement("bench", "events", schema)
      val pts = canonicalPoints(s, dir).filter(col("series") === "purchase")
        .select(col("time_us").as("time_ns"), col("v")).persist()
      try {
        t.writePoints("bench", "events", "purchase", pts)
        t.deleteUpTo("bench", "events", "purchase", CUT)
        // re-send everything from 2 days before the cut: pre-watermark points
        // are discarded, the rest is a full-tail bitwise rewrite (no-op)
        t.writePoints("bench", "events", "purchase",
          pts.filter(col("time_ns") > CUT - 2 * DAY))
      } finally pts.unpersist()
      t.select("bench", "events", "purchase", Seq("v"), 0L, Long.MaxValue - 1)
        .select(col("time_ns").as("time_us"), col("v"))
    },

    // Op #6 THROUGH the engine (sum_op over the bucket-partitioned layout,
    // reference sum_op.cc:6-281): write the click series, then windowed
    // sum/min/max/count incl. empty-window emission via the facade. Proves
    // the windowed family reads clamped, bucket-pruned engine data — not
    // just the driver's flat parquet.
    QueryDef.withOracle("engine_window_sum", {
      val w0 = graft.ops.TimeSeriesOps.firstWindowStart(T0, DAY)
      val nW = graft.ops.TimeSeriesOps.numWindows(T0, T1, DAY)
      s"""WITH spine AS (
         |  SELECT unnest(generate_series($w0, ${w0 + (nW - 1) * DAY}, $DAY)) AS window_start
         |), agg AS (
         |  SELECT time_us - (time_us % $DAY) AS window_start,
         |         CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
         |         MIN(v) AS min_value, MAX(v) AS max_value, COUNT(v) AS n
         |  FROM $PTS
         |  WHERE series = 'click' AND time_us >= $w0 AND time_us < ${w0 + nW * DAY}
         |  GROUP BY 1
         |)
         |SELECT s.window_start, coalesce(a.sum_value, 0.0) AS sum_value,
         |       a.min_value, a.max_value, coalesce(a.n, 0) AS n
         |FROM spine s LEFT JOIN agg a USING (window_start)
         |ORDER BY window_start""".stripMargin
    }) { (s, dir) =>
      Fixture.tsdb(s, dir).sumWindows("bench", "events", "click", "v", T0, T1, DAY)
    },

    // Op #7 THROUGH the engine (windowed MEAN — derived sum/count like the
    // reference clients, src/tsdbcli2/main.cc:203-238): non-empty windows of
    // the click series, read from the bucket-pruned engine layout.
    QueryDef.withOracle("engine_window_mean", {
      val w0 = graft.ops.TimeSeriesOps.firstWindowStart(T0, DAY)
      val hi = w0 + graft.ops.TimeSeriesOps.numWindows(T0, T1, DAY) * DAY
      s"""SELECT 'click' AS series, time_us - (time_us % $DAY) AS window_start,
         |       CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / COUNT(v) AS mean_value,
         |       COUNT(v) AS n
         |FROM $PTS WHERE series = 'click' AND time_us >= $w0 AND time_us < $hi
         |GROUP BY 1, 2 ORDER BY series, window_start""".stripMargin
    }) { (s, dir) =>
      Fixture.tsdb(s, dir).meanWindows("bench", "events", "click", "v", T0, T1, DAY)
    },

    // Op #8 THROUGH the engine (min/max zoom, reference grafana
    // datasource.go:384-430) — same engine-layout read path.
    QueryDef.withOracle("engine_window_minmax", {
      val w0 = graft.ops.TimeSeriesOps.firstWindowStart(T0, DAY)
      val hi = w0 + graft.ops.TimeSeriesOps.numWindows(T0, T1, DAY) * DAY
      s"""SELECT 'click' AS series, time_us - (time_us % $DAY) AS window_start,
         |       MIN(v) AS min_value, MAX(v) AS max_value, COUNT(v) AS n
         |FROM $PTS WHERE series = 'click' AND time_us >= $w0 AND time_us < $hi
         |GROUP BY 1, 2 ORDER BY series, window_start""".stripMargin
    }) { (s, dir) =>
      Fixture.tsdb(s, dir).minMaxWindows("bench", "events", "click", "v", T0, T1, DAY)
    },

    // Op #2 THROUGH the engine (select_op_last, select_op.cc:233-371):
    // LAST 100 of the range on engine-written data, emitted ascending.
    QueryDef.withOracle("engine_select_last",
      s"""SELECT * FROM (
         |  SELECT time_us, v FROM $PTS
         |  WHERE series = 'click' AND time_us BETWEEN $T0 AND $T1
         |  ORDER BY time_us DESC LIMIT 100
         |) ORDER BY time_us""".stripMargin) { (s, dir) =>
      Fixture.tsdb(s, dir)
        .select("bench", "events", "click", Seq("v"), T0, T1, last = Some(100))
        .select(col("time_ns").as("time_us"), col("v"))
    },

    // Compaction (reference analog: full chunks become gzip-compressed
    // read-only, write.cc:266-315): three micro-batch appends fragment the
    // buckets, compact() rewrites them into dense zstd files, and the read
    // back must still hash-match the canonical points — proving the
    // maintenance op changes the physical layout only.
    QueryDef.withOracle("engine_compact",
      s"""SELECT time_us, v FROM $PTS
         |WHERE series = 'purchase' ORDER BY time_us""".stripMargin) { (s, dir) =>
      val t = freshTsdb(s)
      t.createDatabase("bench")
      t.createMeasurement("bench", "events", schema)
      val pts = canonicalPoints(s, dir).filter(col("series") === "purchase")
        .select(col("time_us").as("time_ns"), col("v")).persist()
      try {
        // three disjoint ascending batches land in overlapping bucket dirs
        t.writePoints("bench", "events", "purchase", pts.filter(col("time_ns") <= MID - DAY))
        t.writePoints("bench", "events", "purchase",
          pts.filter(col("time_ns") > MID - DAY && col("time_ns") <= MID + DAY))
        t.writePoints("bench", "events", "purchase", pts.filter(col("time_ns") > MID + DAY))
      } finally pts.unpersist()
      t.compact("bench", "events", "purchase")
      t.select("bench", "events", "purchase", Seq("v"), 0L, Long.MaxValue - 1)
        .select(col("time_ns").as("time_us"), col("v"))
    },

    // Op #12 on engine data (list_active_series, measurement.cc:49-63) over
    // per-series watermarks: one series is front-deleted, so its visible
    // count differs from its stored count.
    QueryDef.withOracle("engine_active_series",
      s"""SELECT series, count(*) AS npoints FROM $PTS
         |WHERE time_us BETWEEN $T0 AND $T1
         |  AND (series <> 'error' OR time_us > $CUT)
         |GROUP BY series ORDER BY series""".stripMargin) { (s, dir) =>
      val t = freshTsdb(s)
      t.createDatabase("bench")
      t.createMeasurement("bench", "events", schema)
      // one-pass population (concurrent per-series writes are exercised by
      // the shared Fixture build and the engine_write_* queries); what THIS
      // query pins is active-series visibility over per-series watermarks.
      // cached: bulkLoad runs a validation action + a write action
      val pts = canonicalPoints(s, dir).select(
        col("series"), col("time_us").as("time_ns"), col("v")).persist()
      try t.bulkLoad("bench", "events", pts) finally pts.unpersist()
      t.deleteUpTo("bench", "events", "error", CUT)
      t.listActiveSeries("bench", "events", T0, T1)
    },

    // Op #5 THROUGH the engine (count_points, reference count.cc:100-112):
    // (npoints, time_first, time_last) of a range, answered from the
    // bucket-pruned engine layout (row-group stats play the reference's
    // index arithmetic).
    QueryDef.withOracle("engine_count",
      s"""SELECT count(*) AS npoints, min(time_us) AS time_first,
         |       max(time_us) AS time_last
         |FROM $PTS WHERE series = 'purchase'
         |  AND time_us BETWEEN $T0 AND $T1""".stripMargin) { (s, dir) =>
      Fixture.tsdb(s, dir)
        .countPoints("bench", "events", "purchase", T0, T1)
        .select(col("npoints"), col("time_first"), col("time_last"))
    },

    // Op #9 THROUGH the engine (integral_op, reference integral_op.cc:5-103):
    // trapezoidal integral over engine-written data, dt in seconds of the µs
    // axis, exact 2-decimal accumulation (the canonical v carries 2-decimal
    // precision) so the result is aggregation-order independent and matches
    // DuckDB bitwise.
    QueryDef.withOracle("engine_integral",
      s"""WITH base AS (
         |  SELECT series, time_us, v,
         |         lag(v) OVER w AS prev_v, lag(time_us) OVER w AS prev_t
         |  FROM $PTS
         |  WHERE series = 'purchase' AND time_us BETWEEN $T0 AND $T1
         |  WINDOW w AS (PARTITION BY series ORDER BY time_us)
         |)
         |SELECT series, count(*) AS npoints,
         |       min(time_us) AS t0_out, max(time_us) AS t1_out,
         |       CASE WHEN max(CASE WHEN v IS NULL THEN 1 ELSE 0 END) = 1 THEN NULL
         |            WHEN count(*) = 1 THEN min(v)
         |            ELSE CAST(CAST(sum((CAST(v AS DECIMAL(18,2)) + CAST(prev_v AS DECIMAL(18,2)))
         |                          * (time_us - prev_t)) * 100 AS BIGINT) AS DOUBLE) / 200000000.0
         |       END AS integral
         |FROM base GROUP BY series""".stripMargin) { (s, dir) =>
      Fixture.tsdb(s, dir)
        .integrate("bench", "events", "purchase", "v", T0, T1, UPS,
          valueDecimals = Some(2))
    },

    // §2.2 catalog surface as one driver-visible query: LIST DATABASES ×
    // LIST MEASUREMENTS × LIST SERIES × GET SCHEMA (reference root.cc:158-164,
    // database.h:18-23, measurement.h:72-77, server.cc:441-460). Series
    // auto-created by the fixture's writes; the oracle derives the same
    // catalog from the source table, so a missing/extra series or a wrong
    // schema string breaks the match. Catalog listings are driver-scale
    // metadata (like spark.catalog), hence the local DataFrame.
    QueryDef.withOracle("engine_catalog",
      s"""SELECT 'bench' AS database_name, 'events' AS measurement_name,
         |       event_type AS series_name, 'v:f64' AS field_schema
         |FROM (SELECT DISTINCT event_type FROM events)
         |ORDER BY series_name""".stripMargin) { (s, dir) =>
      val t = Fixture.tsdb(s, dir)
      val rows = for {
        db <- t.listDatabases()
        m  <- t.listMeasurements(db)
        sch = t.getSchema(db, m).fields
          .map(f => s"${f.name}:${f.ftype.code}").mkString(",")
        sn <- t.listSeries(db, m)
      } yield (db, m, sn, sch)
      import s.implicits._
      rows.toDF("database_name", "measurement_name", "series_name", "field_schema")
        .orderBy("series_name")
    },

    // Delete INTO THE FUTURE (reference delete.cc:82-98): the watermark
    // advances past all stored data to t+1, and PRE-FILTERS future writes —
    // the second batch's points at or below the watermark are discarded on
    // write, not at read. Oracle = only points above the future cut.
    QueryDef.withOracle("engine_delete_future",
      s"""SELECT time_us, v FROM $PTS
         |WHERE series = 'purchase' AND time_us > $FUT
         |ORDER BY time_us""".stripMargin) { (s, dir) =>
      val t = freshTsdb(s)
      t.createDatabase("bench")
      t.createMeasurement("bench", "events", schema)
      val pts = canonicalPoints(s, dir).filter(col("series") === "purchase")
        .select(col("time_us").as("time_ns"), col("v")).persist()
      try {
        t.writePoints("bench", "events", "purchase", pts.filter(col("time_ns") <= MID))
        // nothing survives <= FUT -> time_first = FUT+1 > time_last
        t.deleteUpTo("bench", "events", "purchase", FUT)
        // re-send the whole remainder: (MID, FUT] must be silently discarded
        t.writePoints("bench", "events", "purchase", pts.filter(col("time_ns") > MID))
      } finally pts.unpersist()
      t.select("bench", "events", "purchase", Seq("v"), 0L, Long.MaxValue - 1)
        .select(col("time_ns").as("time_us"), col("v"))
    },

    // Multi-FIELD windowed aggregation through the engine — the reference
    // sum_op's real signature takes a field LIST and aggregates all of them
    // in one timestamp scan (sum_op.cc:115-183). Two fields of different
    // types (f64 + i64) windowed together; per-field exact sums (decimal-2
    // for the double, native integer for the bigint), empty windows
    // emitted with zero sums and NULL min/max.
    QueryDef.withOracle("engine_window_multifield", {
      val w0 = graft.ops.TimeSeriesOps.firstWindowStart(T0, DAY)
      val nW = graft.ops.TimeSeriesOps.numWindows(T0, T1, DAY)
      s"""WITH spine AS (
         |  SELECT unnest(generate_series($w0, ${w0 + (nW - 1) * DAY}, $DAY)) AS window_start
         |), pts AS (
         |  SELECT time_us, v, CAST(floor(v) AS BIGINT) AS whole FROM $PTS
         |  WHERE series = 'purchase' AND time_us >= $w0 AND time_us < ${w0 + nW * DAY}
         |), agg AS (
         |  SELECT time_us - (time_us % $DAY) AS window_start,
         |         CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
         |         MIN(v) AS min_v, MAX(v) AS max_v, COUNT(v) AS n_v,
         |         CAST(SUM(whole) AS BIGINT) AS sum_whole,
         |         MIN(whole) AS min_whole, MAX(whole) AS max_whole,
         |         COUNT(whole) AS n_whole
         |  FROM pts GROUP BY 1
         |)
         |SELECT s.window_start,
         |       coalesce(a.sum_v, 0.0) AS sum_v, a.min_v, a.max_v,
         |       coalesce(a.n_v, 0) AS n_v,
         |       coalesce(a.sum_whole, 0) AS sum_whole, a.min_whole, a.max_whole,
         |       coalesce(a.n_whole, 0) AS n_whole
         |FROM spine s LEFT JOIN agg a USING (window_start)
         |ORDER BY window_start""".stripMargin
    }) { (s, dir) =>
      val t = freshTsdb(s)
      t.createDatabase("bench")
      t.createMeasurement("bench", "events", MeasurementSchema(Seq(
        Field("v", FieldType.F64), Field("whole", FieldType.I64))))
      val pts = canonicalPoints(s, dir).filter(col("series") === "purchase")
        .select(col("time_us").as("time_ns"), col("v"),
          floor(col("v")).as("whole")).persist()
      try t.writePoints("bench", "events", "purchase", pts) finally pts.unpersist()
      // schema-derived default: I64 `whole` gets the native exact integer
      // sum, F64 `v` the order-independent decimal-2 accumulation
      t.sumWindowsMulti("bench", "events", "purchase", Nil, T0, T1, DAY)
    },

    // EXTENSION: measurement-wide windowed aggregation — EVERY series in
    // ONE scan + one (series, window)-keyed partial-agg shuffle (the
    // multi-series dashboard panel; the reference datasource fans out one
    // per-series sum_op round trip per panel line instead). Non-empty
    // windows only (the S×W spine is the single-series faces' concept).
    QueryDef.withOracle("engine_window_all_series",
      s"""SELECT series,
         |  time_us - (time_us % $DAY) AS window_start,
         |  CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
         |  MIN(v) AS min_value, MAX(v) AS max_value, COUNT(v) AS n
         |FROM $PTS WHERE time_us BETWEEN $T0 AND $T1
         |GROUP BY 1, 2
         |ORDER BY series, window_start""".stripMargin) { (s, dir) =>
      Fixture.tsdb(s, dir)
        .sumWindowsAll("bench", "events", "v", T0, T1, DAY)
        .orderBy("series", "window_start")
    },

    // Value-space op THROUGH the engine: exact quantiles of the visible
    // range by distributed counting sort (see TimeSeriesOps.quantiles),
    // read from the bucket-pruned engine layout.
    QueryDef.withOracle("engine_quantile",
      s"""WITH pts AS (
         |  SELECT 'purchase' AS series, v FROM $PTS
         |  WHERE series = 'purchase' AND v IS NOT NULL
         |    AND time_us BETWEEN $T0 AND $T1),
         |cnt AS (SELECT series, v, count(*) AS c FROM pts GROUP BY 1, 2),
         |cum AS (SELECT series, v, c,
         |          sum(c) OVER (PARTITION BY series ORDER BY v
         |                       ROWS UNBOUNDED PRECEDING) AS cum,
         |          sum(c) OVER (PARTITION BY series) AS n
         |        FROM cnt),
         |qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q)
         |SELECT c.series, qs.q, c.v AS quantile_value
         |FROM cum c CROSS JOIN qs
         |WHERE c.cum >= CAST(floor((c.n - 1) * qs.q) AS BIGINT) + 1
         |  AND c.cum - c.c < CAST(floor((c.n - 1) * qs.q) AS BIGINT) + 1
         |ORDER BY series, q""".stripMargin) { (s, dir) =>
      Fixture.tsdb(s, dir)
        .quantiles("bench", "events", "purchase", "v", T0, T1, Seq(0.5, 0.9, 0.99))
    },

    // Value histogram THROUGH the engine (facade .histogram over the
    // bucket-pruned visible range).
    QueryDef.withOracle("engine_histogram",
      s"""SELECT 'purchase' AS series, CAST(floor(v / 10.0) AS BIGINT) AS bin,
         |       count(*) AS n, min(v) AS min_v, max(v) AS max_v
         |FROM $PTS
         |WHERE series = 'purchase' AND v IS NOT NULL
         |  AND time_us BETWEEN $T0 AND $T1
         |GROUP BY 1, 2 ORDER BY series, bin""".stripMargin) { (s, dir) =>
      Fixture.tsdb(s, dir)
        .histogram("bench", "events", "purchase", "v", T0, T1, binWidth = 10.0)
    },

    // MAD anomaly detection THROUGH the engine layout (facade `.anomalies`
    // — create → validated append → watermark-clamped read; the
    // flat-parquet face is tsdb_anomaly). The oracle models the same
    // lower-median picks over the SOURCE table's visible range, so a
    // visibility bug on the engine read breaks the flagged set.
    QueryDef.withOracle("engine_anomaly",
      s"""WITH pts AS (
         |  SELECT time_us, v FROM $PTS
         |  WHERE series = 'purchase' AND v IS NOT NULL
         |    AND time_us BETWEEN $T0 AND $T1),
         |cnt AS (SELECT v, count(*) AS c FROM pts GROUP BY 1),
         |cum AS (SELECT v, c, sum(c) OVER (ORDER BY v
         |                       ROWS UNBOUNDED PRECEDING) AS cum FROM cnt),
         |tot AS (SELECT sum(c) AS n FROM cnt),
         |med AS (SELECT c.v AS med FROM cum c, tot
         |        WHERE c.cum >= CAST(floor((tot.n - 1) * 0.5) AS BIGINT) + 1
         |          AND c.cum - c.c < CAST(floor((tot.n - 1) * 0.5) AS BIGINT) + 1),
         |dv AS (SELECT p.time_us, p.v, m.med, abs(p.v - m.med) AS dev
         |       FROM pts p, med m),
         |dcnt AS (SELECT dev, count(*) AS c FROM dv GROUP BY 1),
         |dcum AS (SELECT dev, c, sum(c) OVER (ORDER BY dev
         |                        ROWS UNBOUNDED PRECEDING) AS cum FROM dcnt),
         |dtot AS (SELECT sum(c) AS n FROM dcnt),
         |mad AS (SELECT c.dev AS mad FROM dcum c, dtot
         |        WHERE c.cum >= CAST(floor((dtot.n - 1) * 0.5) AS BIGINT) + 1
         |          AND c.cum - c.c < CAST(floor((dtot.n - 1) * 0.5) AS BIGINT) + 1)
         |SELECT 'purchase' AS series, d.time_us, d.v, d.med, d.dev, m.mad
         |FROM dv d, mad m WHERE d.dev > 3.0 * m.mad
         |ORDER BY time_us""".stripMargin) { (s, dir) =>
      Fixture.tsdb(s, dir)
        .anomalies("bench", "events", "purchase", "v", T0, T1, k = 3.0)
        .orderBy("time_us")
    },

    // EXTENSION: value-predicate DATA SKIPPING through the engine layout —
    // buildValueIndex writes the per-(series, bucket) min-max sidecar, then
    // selectValueRange drops the bucket directories the band cannot match
    // from its listing, before any file opens (the reference's
    // `index` file binary-searches time only, select_op.cc:50-59; parquet
    // footers prune row groups but still cost a listing + footer read per
    // file — at 100 TB the listing IS the query). Stale-index safety (every
    // bucket at/above the build watermark is always scanned) is spec-gated
    // with an executable files-opened count in TsdbEngineSpec; this query
    // gates the RESULT through the oracle. Values here are uncorrelated
    // with time, so at test scale most buckets match — the honest caveat:
    // directory-level skipping pays off exactly when value locality exists
    // (monotone counters, regime shifts, per-tenant bands).
    QueryDef.withOracle("engine_value_prune",
      s"""SELECT time_us, v FROM $PTS
         |WHERE series = 'view' AND v BETWEEN 180.0 AND 200.0
         |  AND time_us BETWEEN $T0 AND $T1
         |ORDER BY time_us""".stripMargin) { (s, dir) =>
      val t = Fixture.tsdb(s, dir)
      t.buildValueIndex("bench", "events", "v")
      t.selectValueRange("bench", "events", "view", "v", 180.0, 200.0, T0, T1)
        .select(col("time_ns").as("time_us"), col("v"))
        .orderBy("time_us")
    },

    // LTTB visual downsample THROUGH the engine layout (facade `.lttb`):
    // one representative point per day, chosen against neighbor-bucket
    // centroids computed from the engine-visible points only.
    QueryDef.withOracle("engine_lttb",
      s"""WITH pts AS (
         |  SELECT time_us AS t, v FROM $PTS
         |  WHERE series = 'purchase' AND v IS NOT NULL
         |    AND time_us BETWEEN $T0 AND $T1),
         |b AS (SELECT t // $DAY AS bucket, t, v FROM pts),
         |cent AS (SELECT bucket,
         |           CAST(SUM(CAST(t AS HUGEINT)) AS DOUBLE) / count(*) AS c_t,
         |           CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS c_v
         |         FROM b GROUP BY 1),
         |nb AS (SELECT bucket,
         |         lag(c_t) OVER w AS a_t, lag(c_v) OVER w AS a_v,
         |         lead(c_t) OVER w AS n_t, lead(c_v) OVER w AS n_v
         |       FROM cent WINDOW w AS (ORDER BY bucket)),
         |j AS (SELECT b.bucket, b.t, b.v, a_t, a_v, n_t, n_v
         |      FROM b JOIN nb USING (bucket)),
         |r AS (SELECT bucket, t, v,
         |        row_number() OVER (PARTITION BY bucket ORDER BY
         |          CASE WHEN a_t IS NULL THEN t
         |               WHEN n_t IS NULL THEN -t ELSE 0 END ASC,
         |          abs((a_t - n_t) * (v - a_v) - (a_t - t) * (n_v - a_v))
         |            DESC NULLS LAST,
         |          t ASC) AS rn
         |      FROM j)
         |SELECT 'purchase' AS series, bucket, t AS time_us, v
         |FROM r WHERE rn = 1 ORDER BY bucket""".stripMargin) { (s, dir) =>
      Fixture.tsdb(s, dir)
        .lttb("bench", "events", "purchase", "v", T0, T1, bucketWidth = DAY)
        .orderBy("bucket")
    },

    // GAP FILLING through the engine (facade .gapFill over the bucket-pruned
    // visible range of the sparse error series; 30-min µs windows leave real
    // gaps for both fill policies).
    QueryDef.withOracle("engine_gap_fill", {
      val W = 1800000000L
      val w0 = graft.ops.TimeSeriesOps.firstWindowStart(T0, W)
      val nW = graft.ops.TimeSeriesOps.numWindows(T0, T1, W)
      s"""WITH spine AS (
         |  SELECT unnest(generate_series($w0, ${w0 + (nW - 1) * W}, $W)) AS window_start
         |), agg AS (
         |  SELECT time_us - (time_us % $W) AS window_start,
         |         CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / COUNT(v) AS mean_value,
         |         COUNT(v) AS n
         |  FROM $PTS
         |  WHERE series = 'error' AND time_us >= $w0 AND time_us < ${w0 + nW * W}
         |  GROUP BY 1
         |), j AS (
         |  SELECT s.window_start, coalesce(a.n, 0) AS n, a.mean_value
         |  FROM spine s LEFT JOIN agg a USING (window_start)
         |), f AS (
         |  SELECT window_start, n, mean_value,
         |    last_value(mean_value IGNORE NULLS) OVER wa AS pv,
         |    last_value(CASE WHEN mean_value IS NOT NULL THEN window_start END IGNORE NULLS)
         |      OVER wa AS pw,
         |    first_value(mean_value IGNORE NULLS) OVER wd AS nv,
         |    first_value(CASE WHEN mean_value IS NOT NULL THEN window_start END IGNORE NULLS)
         |      OVER wd AS nw
         |  FROM j
         |  WINDOW wa AS (ORDER BY window_start ROWS UNBOUNDED PRECEDING),
         |         wd AS (ORDER BY window_start
         |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
         |)
         |SELECT window_start, n, mean_value, pv AS locf_value,
         |       CASE WHEN mean_value IS NOT NULL THEN mean_value
         |            WHEN pv IS NULL THEN nv
         |            WHEN nv IS NULL THEN pv
         |            ELSE pv + (nv - pv) * ((window_start - pw) / (nw - pw))
         |       END AS linear_value
         |FROM f ORDER BY window_start""".stripMargin
    }) { (s, dir) =>
      Fixture.tsdb(s, dir)
        .gapFill("bench", "events", "error", "v", T0, T1, 1800000000L)
    },

    // Counter-reset-aware RATE through the engine (facade .rate; µs axis,
    // so unitsPerSecond = 1e6).
    QueryDef.withOracle("engine_rate",
      s"""SELECT 'purchase' AS series, time_us AS time_ns,
         |       (CASE WHEN v >= lag(v) OVER w THEN v - lag(v) OVER w
         |             ELSE v END) /
         |         ((time_us - lag(time_us) OVER w) / 1000000.0) AS rate
         |FROM $PTS WHERE series = 'purchase' AND time_us BETWEEN $T0 AND $T1
         |WINDOW w AS (ORDER BY time_us)
         |ORDER BY time_ns""".stripMargin) { (s, dir) =>
      Fixture.tsdb(s, dir)
        .rate("bench", "events", "purchase", "v", T0, T1, unitsPerSecond = UPS)
        .select(col("series"), col("time_ns"), col("rate"))
        .orderBy("time_ns")
    },

    // §2.3 client-side transforms THROUGH the engine layout (facade
    // .tare/.difference/.derivative — reference grafana
    // datasource.go:257-268 runs them against SERVED data, i.e. the
    // watermark-clamped visible range): same routing proven for
    // histogram/rate/anomaly/lttb; these three close the facade transform
    // matrix (only the flat-parquet faces were oracled before).
    QueryDef.withOracle("engine_tare",
      s"""SELECT 'purchase' AS series, time_us AS time_ns, v,
         |       v - first_value(v) OVER
         |         (ORDER BY time_us
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tare
         |FROM $PTS WHERE series = 'purchase' AND time_us BETWEEN $T0 AND $T1
         |ORDER BY time_ns""".stripMargin) { (s, dir) =>
      Fixture.tsdb(s, dir)
        .tare("bench", "events", "purchase", "v", T0, T1)
        .select(col("series"), col("time_ns"), col("v"), col("tare"))
        .orderBy("time_ns")
    },

    QueryDef.withOracle("engine_difference",
      s"""SELECT 'purchase' AS series, time_us AS time_ns, v,
         |       v - lag(v) OVER (ORDER BY time_us) AS difference
         |FROM $PTS WHERE series = 'purchase' AND time_us BETWEEN $T0 AND $T1
         |ORDER BY time_ns""".stripMargin) { (s, dir) =>
      Fixture.tsdb(s, dir)
        .difference("bench", "events", "purchase", "v", T0, T1)
        .select(col("series"), col("time_ns"), col("v"), col("difference"))
        .orderBy("time_ns")
    },

    QueryDef.withOracle("engine_derivative",
      s"""SELECT 'purchase' AS series, time_us AS time_ns, v,
         |       (v - lag(v) OVER w) /
         |         ((time_us - lag(time_us) OVER w) / 1000000.0) AS derivative
         |FROM $PTS WHERE series = 'purchase' AND time_us BETWEEN $T0 AND $T1
         |WINDOW w AS (ORDER BY time_us)
         |ORDER BY time_ns""".stripMargin) { (s, dir) =>
      Fixture.tsdb(s, dir)
        .derivative("bench", "events", "purchase", "v", T0, T1, unitsPerSecond = UPS)
        .select(col("series"), col("time_ns"), col("v"), col("derivative"))
        .orderBy("time_ns")
    },

    // Grafana-style ZOOM dispatch through the engine (reference
    // datasource.go:236-249): raw points when the range holds <=
    // maxDataPoints, windowed decimal-2 means at panel resolution
    // otherwise. The oracle reproduces the DECISION too (count-guarded
    // branches), so a wrong npoints count flips the branch and breaks the
    // match.
    QueryDef.withOracle("engine_zoom", {
      val MAXP = 500
      val W = (T1 - T0 + 1 + MAXP - 1) / MAXP
      s"""WITH pts AS (SELECT time_us, v FROM $PTS
         |             WHERE series = 'purchase' AND time_us BETWEEN $T0 AND $T1),
         |c AS (SELECT count(*) AS np FROM pts),
         |raw AS (SELECT time_us AS time_ns, v,
         |               CASE WHEN v IS NULL THEN 0 ELSE 1 END AS n,
         |               'raw' AS zoom_mode FROM pts),
         |agg AS (SELECT time_us - (time_us % $W) AS time_ns,
         |               CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / COUNT(v) AS v,
         |               COUNT(v) AS n, 'mean' AS zoom_mode
         |        FROM pts WHERE v IS NOT NULL GROUP BY 1)
         |SELECT * FROM (
         |  SELECT * FROM raw WHERE (SELECT np FROM c) <= $MAXP
         |  UNION ALL
         |  SELECT * FROM agg WHERE (SELECT np FROM c) > $MAXP
         |) ORDER BY time_ns""".stripMargin
    }) { (s, dir) =>
      Fixture.tsdb(s, dir)
        .zoom("bench", "events", "purchase", "v", T0, T1, maxDataPoints = 500)
        .orderBy("time_ns")
    },

    // Grafana "All"-series zoom: the per-series count-guarded raw-vs-mean
    // dispatch of engine_zoom over EVERY series in one data scan + one
    // conditional-key shuffle (the reference datasource loops one count +
    // one select/mean round trip per series, datasource.go:209-221).
    // maxDataPoints = 1150 splits the sf0.01 fixture: click/purchase/view
    // land raw, error/signup land mean — BOTH branches and the per-series
    // decision replay are under the oracle.
    QueryDef.withOracle("engine_zoom_all_series", {
      val MAXP = 1150
      val W = (T1 - T0 + 1 + MAXP - 1) / MAXP
      s"""WITH pts AS (SELECT series, time_us, v FROM $PTS
         |             WHERE time_us BETWEEN $T0 AND $T1),
         |c AS (SELECT series, count(*) AS np FROM pts GROUP BY 1),
         |raw AS (SELECT p.series, time_us AS time_ns, v,
         |               CASE WHEN v IS NULL THEN 0 ELSE 1 END AS n,
         |               'raw' AS zoom_mode
         |        FROM pts p JOIN c ON c.series = p.series WHERE c.np <= $MAXP),
         |agg AS (SELECT p.series, time_us - (time_us % $W) AS time_ns,
         |               CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / COUNT(v) AS v,
         |               COUNT(v) AS n, 'mean' AS zoom_mode
         |        FROM pts p JOIN c ON c.series = p.series
         |        WHERE c.np > $MAXP AND v IS NOT NULL GROUP BY 1, 2)
         |SELECT * FROM (SELECT * FROM raw UNION ALL SELECT * FROM agg)
         |ORDER BY series, time_ns""".stripMargin
    }) { (s, dir) =>
      Fixture.tsdb(s, dir)
        .zoomAll("bench", "events", "v", T0, T1, maxDataPoints = 1150)
        .orderBy("series", "time_ns")
    },

    // Sessionization THROUGH the engine layout (facade .sessionize over
    // the watermark-clamped visible range; the flat-parquet face is
    // tsdb_sessionize): activity bursts split at >30 min silence.
    QueryDef.withOracle("engine_sessionize", {
      val GAP = 30 * 60000000L
      s"""WITH pts AS (SELECT 'purchase' AS series, time_us FROM $PTS
         |             WHERE series = 'purchase' AND time_us BETWEEN $T0 AND $T1),
         |m AS (
         |  SELECT series, time_us,
         |    CASE WHEN lag(time_us) OVER w IS NULL
         |           OR time_us - lag(time_us) OVER w > $GAP
         |         THEN 1 ELSE 0 END AS s
         |  FROM pts WINDOW w AS (PARTITION BY series ORDER BY time_us)),
         |g AS (SELECT series, time_us,
         |        sum(s) OVER (PARTITION BY series ORDER BY time_us
         |                     ROWS UNBOUNDED PRECEDING) AS sid
         |      FROM m)
         |SELECT series, min(time_us) AS session_start,
         |       max(time_us) AS session_end, count(*) AS n
         |FROM g GROUP BY series, sid
         |ORDER BY series, session_start""".stripMargin
    }) { (s, dir) =>
      Fixture.tsdb(s, dir)
        .sessionize("bench", "events", "purchase", T0, T1, gapUs = 30 * 60000000L)
        .orderBy("series", "session_start")
    },

    // Downsample-to-rollup: the windowed aggregate written BACK through the
    // validated append path as a derived measurement, then read from its own
    // bucket layout (the standard rollup-table workflow; the reference
    // recomputes sum_op per query instead). The oracle recomputes the same
    // windows from the source — a bug in the agg, the rollup write, or the
    // rollup read breaks the match. Empty windows persist as NULL-field
    // points (count 0), exactly like sum_op emission.
    QueryDef.withOracle("engine_rollup", {
      val w0 = graft.ops.TimeSeriesOps.firstWindowStart(T0, DAY)
      val nW = graft.ops.TimeSeriesOps.numWindows(T0, T1, DAY)
      s"""WITH spine AS (
         |  SELECT unnest(generate_series($w0, ${w0 + (nW - 1) * DAY}, $DAY)) AS time_us
         |), agg AS (
         |  SELECT time_us - (time_us % $DAY) AS time_us,
         |         CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
         |         MIN(v) AS min_value, MAX(v) AS max_value, COUNT(v) AS n
         |  FROM $PTS
         |  WHERE series = 'click' AND time_us >= $w0 AND time_us < ${w0 + nW * DAY}
         |  GROUP BY 1
         |)
         |SELECT s.time_us, coalesce(a.sum_value, 0.0) AS sum_value,
         |       a.min_value, a.max_value, coalesce(a.n, 0) AS n
         |FROM spine s LEFT JOIN agg a USING (time_us)
         |ORDER BY time_us""".stripMargin
    }) { (s, dir) =>
      val t = freshTsdb(s)
      t.createDatabase("bench")
      t.createMeasurement("bench", "events", schema)
      val pts = canonicalPoints(s, dir).filter(col("series") === "click")
        .select(col("time_us").as("time_ns"), col("v")).persist()
      try t.writePoints("bench", "events", "click", pts) finally pts.unpersist()
      val rollup = t.downsample("bench", "events", "click", "v", T0, T1, DAY)
      t.select("bench", rollup, "click", Nil, 0L, Long.MaxValue - 1)
        .select(col("time_ns").as("time_us"), col("sum_value"),
          col("min_value"), col("max_value"), col("n"))
    },

    // TWO fields of one measurement downsampled at the same window resolve
    // to DISTINCT rollup measurements (the field is part of the rollup
    // identity, Rollups.name) — proving end-to-end that the former
    // two-fields-collide-on-identical-timestamps bug stays fixed. w = -v
    // keeps every aggregate bit-exact (negation is exact in IEEE754; the
    // 2-decimal cast chain is unchanged).
    QueryDef.withOracle("engine_rollup_two_fields", {
      val w0 = graft.ops.TimeSeriesOps.firstWindowStart(T0, DAY)
      val nW = graft.ops.TimeSeriesOps.numWindows(T0, T1, DAY)
      s"""WITH spine AS (
         |  SELECT unnest(generate_series($w0, ${w0 + (nW - 1) * DAY}, $DAY)) AS time_us
         |), agg AS (
         |  SELECT time_us - (time_us % $DAY) AS time_us,
         |         CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
         |         MIN(v) AS min_v, MAX(v) AS max_v, COUNT(v) AS n_v,
         |         CAST(SUM(CAST(-v AS DECIMAL(18,2))) AS DOUBLE) AS sum_w,
         |         MIN(-v) AS min_w, MAX(-v) AS max_w, COUNT(v) AS n_w
         |  FROM $PTS
         |  WHERE series = 'click' AND time_us >= $w0 AND time_us < ${w0 + nW * DAY}
         |  GROUP BY 1)
         |SELECT s.time_us, coalesce(a.sum_v, 0.0) AS sum_v, a.min_v, a.max_v,
         |       coalesce(a.n_v, 0) AS n_v, coalesce(a.sum_w, 0.0) AS sum_w,
         |       a.min_w, a.max_w, coalesce(a.n_w, 0) AS n_w
         |FROM spine s LEFT JOIN agg a USING (time_us)
         |ORDER BY time_us""".stripMargin
    }) { (s, dir) =>
      val t = freshTsdb(s)
      t.createDatabase("bench")
      t.createMeasurement("bench", "events2", MeasurementSchema(Seq(
        Field("v", FieldType.F64), Field("w", FieldType.F64))))
      val pts = canonicalPoints(s, dir).filter(col("series") === "click")
        .select(col("time_us").as("time_ns"), col("v"),
          (-col("v")).as("w")).persist()
      try t.writePoints("bench", "events2", "click", pts) finally pts.unpersist()
      val rv = t.downsample("bench", "events2", "click", "v", T0, T1, DAY)
      val rw = t.downsample("bench", "events2", "click", "w", T0, T1, DAY)
      val a = t.select("bench", rv, "click", Nil, 0L, Long.MaxValue - 1)
        .select(col("time_ns").as("time_us"), col("sum_value").as("sum_v"),
          col("min_value").as("min_v"), col("max_value").as("max_v"),
          col("n").as("n_v"))
      val b = t.select("bench", rw, "click", Nil, 0L, Long.MaxValue - 1)
        .select(col("time_ns").as("time_us"), col("sum_value").as("sum_w"),
          col("min_value").as("min_w"), col("max_value").as("max_w"),
          col("n").as("n_w"))
      a.join(b, Seq("time_us")).orderBy("time_us")
    },

    // Retention sweep (policy form of Op #11): ONE distributed aggregation
    // advances every series' watermark past the horizon; the read back must
    // show exactly the surviving points of ALL series. A series whose whole
    // history falls below the cut would take the delete-into-the-future
    // path (covered per-series by engine_delete_future).
    QueryDef.withOracle("engine_retention",
      s"""SELECT series, time_us, v FROM $PTS
         |WHERE time_us > $CUT ORDER BY series, time_us""".stripMargin) { (s, dir) =>
      val t = freshTsdb(s)
      t.createDatabase("bench")
      t.createMeasurement("bench", "events", schema)
      val pts = canonicalPoints(s, dir).select(
        col("series"), col("time_us").as("time_ns"), col("v")).persist()
      try t.bulkLoad("bench", "events", pts) finally pts.unpersist()
      t.applyRetention("bench", "events", CUT)
      t.visible("bench", "events")
        .select(col("series"), col("time_ns").as("time_us"), col("v"))
        .orderBy("series", "time_us")
    },

    // Structured Streaming ingest END-TO-END in the correctness gate
    // (SURVEY §7.2.7; replaces the reference's WAL+commit, wal.cc:248-347):
    // two AvailableNow drains over a growing parquet staging dir, SAME
    // checkpoint — the second run must resume from the checkpoint and pick
    // up only the new files. Replay/crash semantics have dedicated tests
    // (StreamingIngestSpec); the oracle here pins the resulting visibility.
    QueryDef.withOracle("engine_stream_ingest",
      s"""SELECT time_us, v FROM $PTS
         |WHERE series = 'click' ORDER BY time_us""".stripMargin) { (s, dir) =>
      val t = freshTsdb(s)
      t.createDatabase("bench")
      t.createMeasurement("bench", "events", schema)
      val stage = java.nio.file.Files.createTempDirectory("graft-stage-").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt-").toString
      val srcSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("series",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("time_ns",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.DoubleType)))
      def drain(): Unit = {
        val src = s.readStream.schema(srcSchema).parquet(stage)
        graft.streaming.StreamingIngest
          .start(t, "bench", "events", src, "series", ckpt)
          .awaitTermination()
      }
      // run 1: everything up to MID; run 2 appends the remainder (later
      // times only, so micro-batch boundaries respect the append contract)
      StreamSrcStage.feed(s, dir, "pn", "b1", stage)
      drain()
      StreamSrcStage.feed(s, dir, "pn", "b2", stage)
      drain()
      t.select("bench", "events", "click", Seq("v"), 0L, Long.MaxValue - 1)
        .select(col("time_ns").as("time_us"), col("v"))
    },

    // Multi-field schema through the FULL pipeline: f64 + i64 + bool + f32
    // fields derived deterministically from the canonical points, written
    // through validated append, read back through the engine layout. The
    // oracle re-derives the same columns — any type-mapping bug (cast,
    // NULL propagation, float narrowing) breaks the bitwise match. (u64's
    // DecimalType(20,0) round-trip is covered by TsdbEngineSpec.)
    QueryDef.withOracle("engine_multifield",
      s"""SELECT time_us, v, CAST(floor(v) AS BIGINT) AS whole,
         |       v > 50.0 AS flag, CAST(v - floor(v) AS REAL) AS frac
         |FROM $PTS WHERE series = 'purchase' ORDER BY time_us""".stripMargin) { (s, dir) =>
      val t = freshTsdb(s)
      t.createDatabase("bench")
      t.createMeasurement("bench", "events", MeasurementSchema(Seq(
        Field("v", FieldType.F64), Field("whole", FieldType.I64),
        Field("flag", FieldType.Bool), Field("frac", FieldType.F32))))
      t.writePoints("bench", "events", "purchase",
        canonicalPoints(s, dir).filter(col("series") === "purchase")
          .select(col("time_us").as("time_ns"), col("v"),
            floor(col("v")).as("whole"), (col("v") > 50.0).as("flag"),
            (col("v") - floor(col("v"))).cast("float").as("frac")))
      t.select("bench", "events", "purchase", Nil, 0L, Long.MaxValue - 1)
        .select(col("time_ns").as("time_us"), col("v"), col("whole"),
          col("flag"), col("frac"))
    },

    // Bulk backfill: ALL series in ONE validation job + ONE
    // partitionBy(series, bucket) write (vs O(series) jobs on the per-series
    // path) — then read back through the visibility layer. Oracle = every
    // canonical point of every series.
    QueryDef.withOracle("engine_bulk_load",
      s"""SELECT series, time_us, v FROM $PTS
         |ORDER BY series, time_us""".stripMargin) { (s, dir) =>
      val t = freshTsdb(s)
      t.createDatabase("bench")
      t.createMeasurement("bench", "events", schema)
      val pts = canonicalPoints(s, dir).select(
        col("series"), col("time_us").as("time_ns"), col("v")).persist()
      try t.bulkLoad("bench", "events", pts) finally pts.unpersist()
      t.visible("bench", "events")
        .select(col("series"), col("time_ns").as("time_us"), col("v"))
        .orderBy("series", "time_us")
    },

    // u64 surface end-to-end: the reference's u64 field type
    // (src/libtsdb/schema.cc FT_U64) has no 64-bit unsigned Spark analog, so
    // it widens to DECIMAL(20,0). This query PROVES the widening discipline
    // where it matters — every value is ABOVE 2^63 (unrepresentable as
    // int64), written through the full validated-append path including an
    // idempotent overlapping tail replay, read back through the engine
    // layout, and matched against DuckDB doing the same unsigned arithmetic.
    QueryDef.withOracle("engine_u64",
      // compared as VARCHAR: pandas narrows >18-digit decimals to float64,
      // which would silently UNDO the exactness this query exists to prove
      s"""SELECT time_us,
         |  CAST(CAST('9223372036854775808' AS DECIMAL(20,0)) + time_us AS VARCHAR) AS c
         |FROM $PTS WHERE series = 'purchase' ORDER BY time_us""".stripMargin) { (s, dir) =>
      val t = freshTsdb(s)
      t.createDatabase("bench")
      t.createMeasurement("bench", "events",
        MeasurementSchema(Seq(Field("c", FieldType.U64))))
      val two63 = lit("9223372036854775808")
        .cast(org.apache.spark.sql.types.DecimalType(20, 0))
      val pts = canonicalPoints(s, dir).filter(col("series") === "purchase")
        .select(col("time_us").as("time_ns"),
          (two63 + col("time_us")).cast(
            org.apache.spark.sql.types.DecimalType(20, 0)).as("c")).persist()
      try {
        t.writePoints("bench", "events", "purchase", pts.filter(col("time_ns") <= MID))
        // tail replay over u64 values: bitwise-identical -> accepted
        t.writePoints("bench", "events", "purchase",
          pts.filter(col("time_ns") > MID - 2 * DAY))
      } finally pts.unpersist()
      t.select("bench", "events", "purchase", Seq("c"), 0L, Long.MaxValue - 1)
        .select(col("time_ns").as("time_us"), col("c").cast("string").as("c"))
    },

    // u32 + i32 end-to-end — the last corner of the 7-type matrix
    // (reference measurement.h:22-31; engine_multifield covers
    // f64+i64+bool+f32, engine_u64 covers u64 above 2⁶³): u32 values ABOVE
    // 2³¹ (unrepresentable as int32 — proves the LongType widening), i32
    // values crossing zero, both at ~25% NULL density (mirroring the
    // reference's fake_db NULL pattern, unittest/fake_db.cc:16-40; the
    // NULL masks are offset so the fields null on DIFFERENT rows), written
    // through validated append INCLUDING an idempotent overlapping tail
    // replay (bitwise-identical NULLs included), read back through the
    // engine layout.
    QueryDef.withOracle("engine_types",
      s"""SELECT time_us,
         |  CASE WHEN time_us % 4 <> 0
         |       THEN 2147483648 + (time_us % 2147483647) END AS u32v,
         |  CASE WHEN (time_us + 1) % 4 <> 0
         |       THEN CAST((time_us % 100000) - 50000 AS INTEGER) END AS i32v
         |FROM $PTS WHERE series = 'purchase' ORDER BY time_us""".stripMargin) { (s, dir) =>
      val t = freshTsdb(s)
      t.createDatabase("bench")
      t.createMeasurement("bench", "events", MeasurementSchema(Seq(
        Field("u32v", FieldType.U32), Field("i32v", FieldType.I32))))
      val pts = canonicalPoints(s, dir).filter(col("series") === "purchase")
        .select(col("time_us").as("time_ns"),
          when(pmod(col("time_us"), lit(4L)) =!= 0L,
            lit(2147483648L) + pmod(col("time_us"), lit(2147483647L))).as("u32v"),
          when(pmod(col("time_us") + 1L, lit(4L)) =!= 0L,
            (pmod(col("time_us"), lit(100000L)) - 50000L).cast("int")).as("i32v"))
        .persist()
      try {
        t.writePoints("bench", "events", "purchase", pts.filter(col("time_ns") <= MID))
        // overlapping tail replay: bitwise-identical (NULLs included) -> accepted
        t.writePoints("bench", "events", "purchase",
          pts.filter(col("time_ns") > MID - 2 * DAY))
      } finally pts.unpersist()
      t.select("bench", "events", "purchase", Seq("u32v", "i32v"), 0L, Long.MaxValue - 1)
        .select(col("time_ns").as("time_us"), col("u32v"), col("i32v"))
    },

    // Store-and-forward reflector (reference tsdbserver/reflector.cc,
    // doc/REFLECTOR.txt): batch 1 passes through to the healthy remote,
    // the remote goes DOWN and batch 2 spools locally, the remote recovers
    // but batch 3 still spools (ordering: the backlog must drain first),
    // flush() drains the spool in one writeBatch + one batched local
    // delete. Oracle = every canonical point, read from the REMOTE — a bug
    // in routing, spooling, ordering, or the flush replay breaks the match.
    QueryDef.withOracle("engine_reflector",
      s"""SELECT time_us, v FROM $PTS
         |WHERE series = 'purchase' ORDER BY time_us""".stripMargin) { (s, dir) =>
      import graft.streaming.{FaultInjectedRemote, Reflector, ReflectorRemote}
      val localT = freshTsdb(s)
      val remoteT = freshTsdb(s)
      localT.createDatabase("sensor_data")
      localT.createMeasurement("sensor_data", "events", schema)
      val remote = new FaultInjectedRemote(ReflectorRemote(remoteT))
      val r = new Reflector(localT, remote, Map("sensor_data" -> "bench"))
      r.syncSchemas()
      val pts = canonicalPoints(s, dir).filter(col("series") === "purchase")
        .select(col("time_us").as("time_ns"), col("v")).persist()
      try {
        r.writePoints("sensor_data", "events", "purchase",
          pts.filter(col("time_ns") <= MID - 2 * DAY))          // pass-through
        remote.down = true
        r.writePoints("sensor_data", "events", "purchase",
          pts.filter(col("time_ns") > MID - 2 * DAY && col("time_ns") <= MID))
        remote.down = false                                     // spooled
        r.writePoints("sensor_data", "events", "purchase",
          pts.filter(col("time_ns") > MID))                     // backlog -> spooled
        r.flush("sensor_data", "events")
      } finally pts.unpersist()
      remoteT.select("bench", "events", "purchase", Seq("v"), 0L, Long.MaxValue - 1)
        .select(col("time_ns").as("time_us"), col("v"))
    },

    // CONTINUOUS AGGREGATION end-to-end: a point stream drains through
    // StreamingRollup into a first-class rollup MEASUREMENT (the streaming
    // face of downsample — Timescale continuous aggregates). A far-future
    // sentinel on its own series pushes the watermark past every real
    // window, so the oracle is the plain full windowed aggregation: any
    // window the stream failed to finalize-and-write breaks the row count,
    // any mis-aggregation breaks the hash (decimal-2 sums are
    // order-independent, so incremental state merges match batch SQL).
    QueryDef.withOracle("engine_stream_rollup",
      s"""SELECT series, time_us - (time_us % $DAY) AS time_us,
         |       CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
         |       MIN(v) AS min_value, MAX(v) AS max_value, COUNT(v) AS n
         |FROM $PTS GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      import graft.streaming.StreamingRollup
      // a DEDICATED coarse-bucketed root: rollup density is one point per
      // window, so day-wide buckets would mean one partition dir per point
      // — bucket width scales with the rollup granularity, not the raw data
      val t = new Tsdb(s,
        java.nio.file.Files.createTempDirectory("graft-engine-q-").toString,
        requestedBucketWidth = 64 * DAY)
      t.createDatabase("bench")
      val stage = java.nio.file.Files.createTempDirectory("graft-rstage-").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft-rckpt-").toString
      // streaming state (and thus every micro-batch's state-store commit)
      // is partitioned by shuffle.partitions at query start — 150 finalized
      // windows do not need 32 state partitions × N batches of commit files
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        def drain(): Unit =
          StreamingRollup.start(t, "bench", "events",
            s.readStream.schema(PointSchema).parquet(stage),
            windowUs = DAY, watermarkUs = 1000000L, checkpoint = ckpt)
            .awaitTermination()
        StreamSrcStage.feed(s, dir, "pv", "all", stage)
        drain()
        // sentinel DERIVED from the data horizon (a hardcoded date breaks
        // silently on scaled-up inputs): its own window never finalizes,
        // but drain 2's watermark now closes every REAL window
        StreamSrcStage.feed(s, dir, "pv", "sentinel", stage)
        drain()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      val rollup = StreamingRollup.rollupMeasurement("events", DAY)
      t.visible("bench", rollup)
        .select(col("series"), col("time_ns").as("time_us"),
          col("sum_value"), col("min_value"), col("max_value"), col("n"))
        .orderBy("series", "time_us")
    },

    // SESSION windows through the STREAMING face (StreamingOps.sessionCounts)
    // — the watermark-handling path the batch tsdb_sessionize cannot cover:
    // two AvailableNow drains over a growing staging dir, same checkpoint;
    // drain 2's far-future sentinel pushes the watermark past every real
    // session so Append mode must finalize and emit ALL of them. Oracle =
    // batch island detection over the visible input (no consecutive
    // same-series delta equals the gap at any SF, so the dt==gap boundary
    // cannot diverge); a watermark bug that drops, duplicates or
    // half-finalizes a session breaks rows or hash.
    QueryDef.withOracle("engine_stream_session",
      s"""WITH pts AS (SELECT series, time_us, v FROM $PTS),
         |m AS (SELECT series, time_us, v,
         |  CASE WHEN lag(time_us) OVER w IS NULL
         |         OR time_us - lag(time_us) OVER w > $SESSION_GAP
         |       THEN 1 ELSE 0 END AS s
         |  FROM pts WINDOW w AS (PARTITION BY series ORDER BY time_us)),
         |g AS (SELECT series, time_us, v,
         |        sum(s) OVER (PARTITION BY series ORDER BY time_us
         |                     ROWS UNBOUNDED PRECEDING) AS sid
         |      FROM m)
         |SELECT series, min(time_us) AS session_start,
         |       max(time_us) + $SESSION_GAP AS session_end, count(*) AS n,
         |       CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         |FROM g GROUP BY series, sid
         |ORDER BY series, session_start""".stripMargin) { (s, dir) =>
      val stage = java.nio.file.Files.createTempDirectory("graft-sstage-").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft-sckpt-").toString
      val out = java.nio.file.Files.createTempDirectory("graft-sout-").toString
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        def drain(): Unit =
          StreamingOps.sessionCounts(
              s.readStream.schema(PointSchema).parquet(stage),
              gapUs = SESSION_GAP, watermarkUs = 1000000L)
            .writeStream.option("checkpointLocation", ckpt)
            .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .format("parquet").option("path", out)
            .start().awaitTermination()
        StreamSrcStage.feed(s, dir, "pv", "all", stage)
        drain()
        // sentinel DERIVED from the data horizon (hardcoding a date breaks
        // silently on scaled-up inputs whose horizon passes it): its own
        // session never finalizes, but drain 2's watermark now closes
        // every REAL session
        StreamSrcStage.feed(s, dir, "pv", "sentinel", stage)
        drain()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      s.read.parquet(out).filter(col("series") =!= "zzz_sentinel")
        .orderBy("series", "session_start")
    },

    // Counter-RATE through the streaming face (StreamingOps.streamingRate):
    // per-series O(1) state carries the last point across micro-batches, so
    // the batch-2 boundary rate must be repaired FROM STATE — a state bug
    // (lost/stale last point, wrong batch ordering) breaks exactly the
    // boundary rows. Oracle = the batch lag() rate over the visible input,
    // same reset-aware arithmetic as tsdb_rate.
    QueryDef.withOracle("engine_stream_rate",
      s"""SELECT series, time_us, v,
         |       (CASE WHEN v >= lag(v) OVER w THEN v - lag(v) OVER w
         |             ELSE v END) /
         |         ((time_us - lag(time_us) OVER w) / 1000000.0) AS rate
         |FROM $PTS
         |WINDOW w AS (PARTITION BY series ORDER BY time_us)
         |ORDER BY series, time_us""".stripMargin) { (s, dir) =>
      import s.implicits._
      val stage = java.nio.file.Files.createTempDirectory("graft-rtstage-").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft-rtckpt-").toString
      val out = java.nio.file.Files.createTempDirectory("graft-rtout-").toString
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        def drain(): Unit =
          StreamingOps.streamingRate(
              s.readStream.schema(PointSchema).parquet(stage)
                .as[StreamingOps.Point],
              unitsPerSecond = 1000000.0)
            .writeStream.option("checkpointLocation", ckpt)
            .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .format("parquet").option("path", out)
            .start().awaitTermination()
        // split at MID: the first rate of batch 2 must join across the
        // checkpoint boundary via carried state
        StreamSrcStage.feed(s, dir, "pv", "b1", stage)
        drain()
        StreamSrcStage.feed(s, dir, "pv", "b2", stage)
        drain()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      s.read.parquet(out).orderBy("series", "time_us")
    },

    // DIFFERENCE through the streaming face (the last of the 7 streaming
    // faces to join the gate — StreamingOps.streamingDifference): per-series
    // O(1) state carries the last (ts, v) across micro-batches, so the
    // batch-2 boundary difference must be repaired FROM STATE; a lost or
    // stale carried point breaks exactly the first row of each series in
    // drain 2. Same two-drain/one-checkpoint lifecycle as
    // engine_stream_rate; oracle = the batch lag() difference over the
    // visible input (the Grafana Difference transform over a continuously
    // arriving stream, datasource.go:257-268).
    QueryDef.withOracle("engine_stream_difference",
      s"""SELECT series, time_us, v,
         |       v - lag(v) OVER (PARTITION BY series ORDER BY time_us)
         |         AS difference
         |FROM $PTS
         |ORDER BY series, time_us""".stripMargin) { (s, dir) =>
      import s.implicits._
      val stage = java.nio.file.Files.createTempDirectory("graft-dfstage-").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft-dfckpt-").toString
      val out = java.nio.file.Files.createTempDirectory("graft-dfout-").toString
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        def drain(): Unit =
          StreamingOps.streamingDifference(
              s.readStream.schema(PointSchema).parquet(stage)
                .as[StreamingOps.Point])
            .writeStream.option("checkpointLocation", ckpt)
            .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .format("parquet").option("path", out)
            .start().awaitTermination()
        // split at MID: the first difference of batch 2 must join across
        // the checkpoint boundary via carried state
        StreamSrcStage.feed(s, dir, "pv", "b1", stage)
        drain()
        StreamSrcStage.feed(s, dir, "pv", "b2", stage)
        drain()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      s.read.parquet(out).orderBy("series", "time_us")
    },

    // STREAMING CARDINALITY (StreamingOps.streamingDistinct): per-series
    // running distinct-user estimate via the bounded KMV sketch — the 9th
    // streaming face, and the one whose state NEVER grows (≤k longs per
    // series forever; exact streaming distinct grows with the universe).
    // Two AvailableNow drains over one checkpoint: drain 2's first
    // estimates must continue from the SKETCH CARRIED IN STATE, so a
    // state-loss bug shows as a reset staircase. Oracle: for every point,
    // the same estimate over its (time, user) prefix — an O(n²) prefix
    // self-join is fine at oracle scale; the stream does it in O(n·k).
    QueryDef.withOracle("engine_stream_distinct", {
      val h = OracleText.wordHashSql("CAST(u AS VARCHAR)")
      val K = 32
      s"""WITH src AS (SELECT DISTINCT event_type AS series, epoch_us(ts) AS t,
         |               user_id AS u FROM events),
         |hs AS (SELECT series, t, u,
         |         ($h * ${graft.ops.SketchOps.MixA} + ${graft.ops.SketchOps.MixC})
         |           % ${graft.ops.TextOps.P} AS hv FROM src),
         |pre AS (SELECT a.series, a.t, a.u, b.hv
         |        FROM hs a JOIN hs b ON a.series = b.series
         |         AND (b.t < a.t OR (b.t = a.t AND b.u <= a.u))),
         |d AS (SELECT DISTINCT series, t, u, hv FROM pre),
         |r AS (SELECT series, t, u, hv, row_number() OVER (
         |        PARTITION BY series, t, u ORDER BY hv) AS rn FROM d),
         |kth AS (SELECT series, t, u, max(hv) AS kth, count(*) AS have
         |        FROM r WHERE rn <= $K GROUP BY 1, 2, 3)
         |SELECT series, t AS time_us, u AS user_id,
         |  CASE WHEN have < $K THEN CAST(have AS DOUBLE)
         |       ELSE ${K - 1}.0 * CAST(${graft.ops.TextOps.P} AS DOUBLE)
         |              / CAST(kth AS DOUBLE) END AS n_kmv
         |FROM kth ORDER BY series, time_us, user_id""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val stage = java.nio.file.Files.createTempDirectory("graft-sdstage-").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft-sdckpt-").toString
      val out = java.nio.file.Files.createTempDirectory("graft-sdout-").toString
      val upSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("series",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("time_us",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType)))
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        def drain(): Unit =
          StreamingOps.streamingDistinct(
              s.readStream.schema(upSchema).parquet(stage)
                .as[StreamingOps.UserPoint], k = 32)
            .writeStream.option("checkpointLocation", ckpt)
            .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .format("parquet").option("path", out)
            .start().awaitTermination()
        StreamSrcStage.feed(s, dir, "us", "b1", stage)
        drain()
        StreamSrcStage.feed(s, dir, "us", "b2", stage)
        drain()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      s.read.parquet(out).orderBy("series", "time_us", "user_id")
    },

    // Stream-STREAM interval join (StreamingOps.streamingIntervalJoin):
    // click→purchase attribution with BOTH sides unbounded streams — the
    // 8th streaming face, and the only one whose state is a JOIN buffer
    // rather than per-key aggregate state. Two AvailableNow drains over one
    // checkpoint; the split at MID forces drain 2 to match its purchases
    // against CLICKS CARRIED IN THE JOIN STATE from drain 1 (r ≥ l means
    // the only cross-batch matches are old-click × new-purchase, which is
    // exactly the state-retention path). Oracle = the batch interval join
    // over the visible input; all join arithmetic is integral µs, so the
    // match is hash-exact. Inner matches emit eagerly — no sentinel needed.
    QueryDef.withOracle("engine_stream_join",
      s"""WITH pts AS (SELECT series, time_us, v FROM $PTS),
         |c AS (SELECT time_us AS l_time_us, v AS l_v FROM pts WHERE series = 'click'),
         |p AS (SELECT time_us AS r_time_us, v AS r_v FROM pts WHERE series = 'purchase')
         |SELECT l_time_us, l_v, r_time_us, r_v
         |FROM c JOIN p ON r_time_us >= l_time_us
         |             AND r_time_us <= l_time_us + ${10 * 60000000L}
         |ORDER BY l_time_us, r_time_us""".stripMargin) { (s, dir) =>
      val stage = java.nio.file.Files.createTempDirectory("graft-sjstage-").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft-sjckpt-").toString
      val out = java.nio.file.Files.createTempDirectory("graft-sjout-").toString
      // the staged batches carry all series; both stream sides filter to
      // their own series, and the global horizon only keeps join state
      // LONGER than the subset horizon would (inner matches emit eagerly,
      // so the output set is unchanged)
      val horizonUs = StreamSrcStage.metaOf(s, dir)("maxTs") + 1000000L
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        def drain(): Unit =
          StreamingOps.streamingIntervalJoin(
              s.readStream.schema(PointSchema).parquet(stage)
                .filter(col("series") === "click"),
              s.readStream.schema(PointSchema).parquet(stage)
                .filter(col("series") === "purchase"),
              windowUs = 10 * 60000000L, watermarkUs = horizonUs)
            .writeStream.option("checkpointLocation", ckpt)
            .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .format("parquet").option("path", out)
            .start().awaitTermination()
        StreamSrcStage.feed(s, dir, "pv", "b1", stage)
        drain()
        StreamSrcStage.feed(s, dir, "pv", "b2", stage)
        drain()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      s.read.parquet(out).orderBy("l_time_us", "r_time_us")
    },

    // STREAMING ordered funnel (StreamingOps.streamingFunnel) — the
    // incremental face of events_funnel: per-user stage-reach state
    // (O(stages) longs per user FOREVER; batch recomputation rescans the
    // full history every run). Two AvailableNow drains over one checkpoint;
    // the split at MID forces drain 2 to convert users whose earlier stages
    // were reached in drain 1 — the cross-batch state path. Output is the
    // reach-FACT set (each (user, stage) exactly once, at first reach),
    // which is a strictly stronger check than the batch face's stage
    // counts; the oracle cascades the same min-time reach CTEs and emits
    // the same per-user facts.
    QueryDef.withOracle("engine_stream_funnel",
      """WITH e AS (SELECT user_id AS u, event_type AS et, epoch_us(ts) AS t
        |           FROM events),
        |r0 AS (SELECT u, min(t) AS rt FROM e WHERE et = 'view' GROUP BY 1),
        |r1 AS (SELECT e.u, min(e.t) AS rt FROM e JOIN r0 ON e.u = r0.u
        |       WHERE e.et = 'click' AND e.t >= r0.rt GROUP BY 1),
        |r2 AS (SELECT e.u, min(e.t) AS rt FROM e JOIN r1 ON e.u = r1.u
        |       WHERE e.et = 'purchase' AND e.t >= r1.rt GROUP BY 1)
        |SELECT * FROM (
        |  SELECT u AS user_id, CAST(0 AS INT) AS stage_idx, 'view' AS stage,
        |         rt AS reach_us FROM r0
        |  UNION ALL SELECT u, CAST(1 AS INT), 'click', rt FROM r1
        |  UNION ALL SELECT u, CAST(2 AS INT), 'purchase', rt FROM r2
        |) ORDER BY user_id, stage_idx""".stripMargin) { (s, dir) =>
      import s.implicits._
      val stage = java.nio.file.Files.createTempDirectory("graft-fnstage-").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft-fnckpt-").toString
      val out = java.nio.file.Files.createTempDirectory("graft-fnout-").toString
      val evSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("time_us",
          org.apache.spark.sql.types.LongType)))
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        def drain(): Unit =
          StreamingOps.streamingFunnel(
              s.readStream.schema(evSchema).parquet(stage)
                .as[StreamingOps.UserEvent],
              Seq("view", "click", "purchase"))
            .writeStream.option("checkpointLocation", ckpt)
            .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .format("parquet").option("path", out)
            .start().awaitTermination()
        StreamSrcStage.feed(s, dir, "ue", "b1", stage)
        drain()
        StreamSrcStage.feed(s, dir, "ue", "b2", stage)
        drain()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      s.read.parquet(out).orderBy("user_id", "stage_idx")
    },

    // The CONVERSION-WINDOW streaming funnel: stage i counts only within
    // 2 days of the prior reach (streaming face of events_funnel_windowed;
    // same state/emission contract as engine_stream_funnel — the window
    // check is one extra comparison against carried state).
    QueryDef.withOracle("engine_stream_funnel_windowed", {
      val W = 2 * DAY
      s"""WITH e AS (SELECT user_id AS u, event_type AS et, epoch_us(ts) AS t
         |           FROM events),
         |r0 AS (SELECT u, min(t) AS rt FROM e WHERE et = 'view' GROUP BY 1),
         |r1 AS (SELECT e.u, min(e.t) AS rt FROM e JOIN r0 ON e.u = r0.u
         |       WHERE e.et = 'click' AND e.t >= r0.rt AND e.t <= r0.rt + $W
         |       GROUP BY 1),
         |r2 AS (SELECT e.u, min(e.t) AS rt FROM e JOIN r1 ON e.u = r1.u
         |       WHERE e.et = 'purchase' AND e.t >= r1.rt AND e.t <= r1.rt + $W
         |       GROUP BY 1)
         |SELECT * FROM (
         |  SELECT u AS user_id, CAST(0 AS INT) AS stage_idx, 'view' AS stage,
         |         rt AS reach_us FROM r0
         |  UNION ALL SELECT u, CAST(1 AS INT), 'click', rt FROM r1
         |  UNION ALL SELECT u, CAST(2 AS INT), 'purchase', rt FROM r2
         |) ORDER BY user_id, stage_idx""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val stage = java.nio.file.Files.createTempDirectory("graft-fwstage-").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft-fwckpt-").toString
      val out = java.nio.file.Files.createTempDirectory("graft-fwout-").toString
      val evSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("time_us",
          org.apache.spark.sql.types.LongType)))
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        def drain(): Unit =
          StreamingOps.streamingFunnel(
              s.readStream.schema(evSchema).parquet(stage)
                .as[StreamingOps.UserEvent],
              Seq("view", "click", "purchase"), windowUs = Some(2 * DAY))
            .writeStream.option("checkpointLocation", ckpt)
            .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .format("parquet").option("path", out)
            .start().awaitTermination()
        StreamSrcStage.feed(s, dir, "ue", "b1", stage)
        drain()
        StreamSrcStage.feed(s, dir, "ue", "b2", stage)
        drain()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      s.read.parquet(out).orderBy("user_id", "stage_idx")
    },

    // TUMBLING windows through the STREAMING face (StreamingOps.windowedSums)
    // — the watermarked incremental form of the reference's sum_op: two
    // AvailableNow drains, same checkpoint, split at MID so drain 2 must
    // both finalize carried window state and aggregate its own batch; the
    // far-future sentinel closes every real window. Oracle = the batch
    // tumbling aggregation over the visible input with the same decimal-2
    // order-independent sum. NOTE unlike the batch sum_op the streaming
    // face emits only NON-EMPTY windows (a watermark engine cannot emit a
    // window no point ever created) — the oracle models exactly that.
    QueryDef.withOracle("engine_stream_window",
      s"""SELECT series,
         |  time_us - (time_us % $DAY) AS window_start,
         |  CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
         |  MIN(v) AS min_value, MAX(v) AS max_value, COUNT(v) AS n
         |FROM $PTS GROUP BY 1, 2
         |ORDER BY series, window_start""".stripMargin) { (s, dir) =>
      import s.implicits._
      val stage = java.nio.file.Files.createTempDirectory("graft-wstage-").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft-wckpt-").toString
      val out = java.nio.file.Files.createTempDirectory("graft-wout-").toString
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        def drain(): Unit =
          StreamingOps.windowedSums(
              s.readStream.schema(PointSchema).parquet(stage),
              windowUs = DAY, watermarkUs = 1000000L)
            .writeStream.option("checkpointLocation", ckpt)
            .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .format("parquet").option("path", out)
            .start().awaitTermination()
        StreamSrcStage.feed(s, dir, "pv", "b1", stage)
        drain()
        // batch 2: the rest, plus a horizon-derived sentinel whose own
        // window never finalizes but whose watermark closes every real one
        StreamSrcStage.feed(s, dir, "pv", "b2s", stage)
        drain()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      s.read.parquet(out).filter(col("series") =!= "zzz_sentinel")
        .orderBy("series", "window_start")
    },

    // Streaming SLIDING windows (StreamingOps.windowedSumsSliding): 2-day
    // windows sliding by 1 day, so every point lands in exactly TWO
    // overlapping windows — the last streaming-window shape without an
    // end-to-end oracle (tumbling/session/rate/difference/dedup are
    // covered). Same two-drain checkpoint lifecycle and horizon sentinel
    // as engine_stream_window; the oracle assigns each point its two
    // window starts via a cross join with the offset list, so a
    // window-assignment off-by-one, a missing overlap, or state lost at
    // the checkpoint boundary breaks the match.
    QueryDef.withOracle("engine_stream_sliding",
      s"""SELECT series,
         |  time_us - (time_us % $DAY) - j * $DAY AS window_start,
         |  CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
         |  MIN(v) AS min_value, MAX(v) AS max_value, COUNT(v) AS n
         |FROM $PTS CROSS JOIN (SELECT unnest([0, 1]) AS j)
         |GROUP BY 1, 2
         |ORDER BY series, window_start""".stripMargin) { (s, dir) =>
      import s.implicits._
      val stage = java.nio.file.Files.createTempDirectory("graft-slstage-").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft-slckpt-").toString
      val out = java.nio.file.Files.createTempDirectory("graft-slout-").toString
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        def drain(): Unit =
          StreamingOps.windowedSumsSliding(
              s.readStream.schema(PointSchema).parquet(stage),
              windowUs = 2 * DAY, slideUs = DAY, watermarkUs = 1000000L)
            .writeStream.option("checkpointLocation", ckpt)
            .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .format("parquet").option("path", out)
            .start().awaitTermination()
        StreamSrcStage.feed(s, dir, "pv", "b1", stage)
        drain()
        StreamSrcStage.feed(s, dir, "pv", "b2s", stage)
        drain()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      s.read.parquet(out).filter(col("series") =!= "zzz_sentinel")
        .orderBy("series", "window_start")
    },

    // Streaming EXACT DEDUP (StreamingOps.streamingDedupMinId): the
    // DETERMINISTIC-winner face — the min doc_id of each content hash
    // passes, replicas drop — ACROSS the checkpoint boundary, so a batch-2
    // replica of a batch-1 document must be caught from carried state.
    // (dropDuplicatesWithinWatermark keeps whichever replica reaches the
    // state store first, and intra-key order after the exchange is NOT
    // guaranteed — multi-row-group splits reorder it — so the
    // first-arrival face cannot be oracled; spec-covered instead.) Stream
    // time axis = doc_id + 1 day of µs (synthetic, strictly increasing;
    // offset because a row at EXACTLY epoch 0 is "late" to the initial
    // watermark and silently dropped). The generous watermark keeps every
    // hash in state for the run's horizon (eviction/re-admission is the
    // documented bounded-state tradeoff, spec-covered). Oracle = min-doc_id
    // per text — now a pure function of the data, not of arrival order.
    QueryDef.withOracle("engine_stream_dedup",
      s"""SELECT doc_id, doc_id + $DAY AS time_us, text FROM documents
         |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val stage = java.nio.file.Files.createTempDirectory("graft-ddstage-").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft-ddckpt-").toString
      val out = java.nio.file.Files.createTempDirectory("graft-ddout-").toString
      val docSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("time_us",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      val horizonUs = StreamSrcStage.metaOf(s, dir)("docMax") + 1000000L
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        def drain(): Unit =
          StreamingOps.streamingDedupMinId(
              s.readStream.schema(docSchema).parquet(stage),
              watermarkUs = horizonUs)
            .drop("content_hash")
            .writeStream.option("checkpointLocation", ckpt)
            .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .format("parquet").option("path", out)
            .start().awaitTermination()
        StreamSrcStage.feed(s, dir, "dc", "b1", stage)
        drain()
        StreamSrcStage.feed(s, dir, "dc", "b2", stage)
        drain()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      s.read.parquet(out).orderBy("doc_id")
    },

    // Cross-SERIES alignment THROUGH the engine layout: backward as-of join
    // of two series read via the watermark-clamped visibility path (the
    // flat-parquet face is tsdb_asof_join; here both inputs route through
    // create -> validated append -> clamped read, so a visibility bug on
    // EITHER side breaks the match). Oracle: DuckDB's native ASOF JOIN over
    // the canonical points.
    QueryDef.withOracle("engine_asof_join",
      s"""WITH pts AS (SELECT series, time_us, v FROM $PTS),
         |c AS (SELECT time_us, v AS click_v FROM pts WHERE series = 'click'),
         |p AS (SELECT time_us, v FROM pts WHERE series = 'purchase')
         |SELECT c.time_us, c.click_v, p.time_us AS asof_time, p.v AS asof_v
         |FROM c ASOF LEFT JOIN p ON c.time_us >= p.time_us
         |ORDER BY c.time_us""".stripMargin) { (s, dir) =>
      val t = Fixture.tsdb(s, dir)
      def side(series: String, as: String) =
        t.visibleSeries("bench", "events", series, 0L, Long.MaxValue - 1)
          .select(col(MeasurementSchema.TimeCol).as("time_us"), col("v").as(as))
      graft.ops.TimeSeriesOps.asofJoin(
          side("click", "click_v"), side("purchase", "v").select(col("time_us"), col("v")),
          "time_us", "v", bucketWidth = DAY)
        .select(col("time_us"), col("click_v"), col("asof_time"), col("asof_v"))
        .orderBy("time_us")
    }
  )
}
