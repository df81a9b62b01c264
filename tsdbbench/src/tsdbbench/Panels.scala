package tsdbbench

import graft.engine.Tsdb
import org.apache.spark.sql.{DataFrame, Row}

/** A read panel as a dashboard issues it: the `Tsdb` call (driver side:
  * listing, watermark, eager pre-pass jobs) and then the action. */
object Panels {
  def run(env: Env, tsdb: Tsdb, readOp: String, kind: String)(call: => DataFrame)
      : (Long, Option[Array[Row]]) = {
    if (env.traced) {
      val t0 = System.nanoTime()
      tsdb.listSeries(Fleet.Db, Fleet.M)
      env.sample("engine.watermark.load_ms", (System.nanoTime() - t0) / 1e6)
    }
    var df: DataFrame = null
    var driverNs, execNs = 0L
    val (op, rows) = env.op(kind, "read") { id =>
      val t0 = System.nanoTime()
      df = env.trace.span(id, s"engine.$readOp", "engine")(call)
      val t1 = System.nanoTime()
      val r = env.trace.span(id, "spark.action", "spark")(df.collect())
      driverNs = t1 - t0
      execNs = System.nanoTime() - t1
      r
    }
    if (env.traced) rows.foreach { r =>
      val (files, scanned) = PerLayer.scanStats(df)
      env.sample(s"engine.read.$readOp.driver_ms", driverNs / 1e6)
      env.sample(s"engine.read.$readOp.exec_ms", execNs / 1e6)
      env.sample(s"engine.read.$readOp.files", files.toDouble)
      env.sample(s"engine.read.$readOp.rows_ratio", scanned.toDouble / math.max(1, r.length))
    }
    (op, rows)
  }

  /** The per-layer read metrics of the panels a run issued. */
  def layerMetrics(env: Env): Map[String, Double] =
    PerLayer.ReadOps.flatMap { o => Seq(
      s"engine.read.$o.driver_ms_p50" -> env.layerMedian(s"engine.read.$o.driver_ms"),
      s"engine.read.$o.exec_ms_p50" -> env.layerMedian(s"engine.read.$o.exec_ms"),
      s"engine.read.$o.files_per_panel" -> env.layerMedian(s"engine.read.$o.files"),
      s"engine.read.$o.rows_scanned_per_row_returned" -> env.layerMedian(s"engine.read.$o.rows_ratio"))
    }.toMap + ("engine.watermark.load_ms_p50" -> env.layerMedian("engine.watermark.load_ms"))

  /** Storage-layer figures from a walk of the engine root. */
  def storageMetrics(root: java.nio.file.Path, visiblePoints: Long): Map[String, Double] = {
    val du = DiskUsage.of(root)
    Map("storage.files_total" -> du.dataFiles.toDouble,
      "storage.files_per_bucket_mean" -> (if (du.buckets > 0) du.dataFiles.toDouble / du.buckets else 0.0),
      "storage.bytes_total" -> du.dataBytes.toDouble,
      "storage.bytes_per_point" -> du.dataBytes.toDouble / math.max(1L, visiblePoints),
      "engine.watermark.files" -> du.wmFiles.toDouble)
  }
}
