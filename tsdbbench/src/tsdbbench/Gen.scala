package tsdbbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.SplittableRandom
import graft.engine.{Field, FieldType, MeasurementSchema}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** One sensor reading. `temp` and `hum` carry two decimals, as a sensor
  * reports them (the engine's float sums are exact at that precision). */
final case class Point(series: String, t: Long, temp: Double, hum: Double, cnt: Long, ok: Boolean)

/** Seeded sensor-fleet generator shared by the engine workloads: the same
  * seed gives the same points, byte for byte. */
object Fleet {
  val Db = "fleet"
  val M = "sensors"
  val Schema = MeasurementSchema(Seq(
    Field("temp", FieldType.F64), Field("hum", FieldType.F64),
    Field("cnt", FieldType.I64), Field("ok", FieldType.Bool)))
  val SecNs = 1000000000L
  val MinNs: Long = 60 * SecNs
  val HourNs: Long = 60 * MinNs
  val StepNs: Long = 10 * SecNs
  /** 2026-01-01T00:00:00Z: the start of every generated history. */
  val T0: Long = 1767225600L * SecNs

  val RowSchema: StructType = StructType(Seq(
    StructField("series", StringType, nullable = false),
    StructField("time_ns", LongType, nullable = false),
    StructField("temp", DoubleType), StructField("hum", DoubleType),
    StructField("cnt", LongType), StructField("ok", BooleanType)))

  def seriesName(i: Int): String = f"sensor-$i%03d"

  private def mix(seed: Long, a: Long, b: Long): Long =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L + b).nextLong()

  private def round2(x: Double): Double = math.rint(x * 100) / 100

  /** The reading of series `s` at grid step `k` (a pure function of the
    * seed, so history and live batches continue one signal). */
  def point(seed: Long, s: Int, k: Long): Point = {
    val r = new SplittableRandom(mix(seed, s, k))
    val phase = (mix(seed, s, -1L) & 0xffff) / 65536.0 * 2 * math.Pi
    val day = 2 * math.Pi * k / 8640.0
    Point(seriesName(s), T0 + k * StepNs,
      round2(20 + 6 * StrictMath.sin(day + phase) + r.nextDouble() - 0.5),
      round2(50 + 15 * StrictMath.cos(day + phase) + 2 * r.nextDouble()),
      (k * 7 + s) % 1000, r.nextInt(64) != 0)
  }

  /** `hours` of history for `nSeries` series; each series misses exactly
    * 1% of its readings at seeded positions (sensor gaps). */
  def history(seed: Long, nSeries: Int, hours: Int): IndexedSeq[Point] = {
    val steps = hours * HourNs / StepNs
    (0 until nSeries).flatMap { s =>
      val r = new SplittableRandom(mix(seed, s, -2L))
      val gaps = Iterator.continually(r.nextLong(steps)).distinct.take((steps / 100).toInt).toSet
      (0L until steps).filterNot(gaps).map(k => point(seed, s, k))
    }
  }

  def frame(spark: SparkSession, pts: Seq[Point]): DataFrame =
    spark.createDataFrame(pts.map(p =>
      Row(p.series, p.t, p.temp, p.hum, p.cnt, p.ok)).asJava, RowSchema)

  def digest(pts: Seq[Point]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val b = ByteBuffer.allocate(33)
    pts.foreach { p =>
      md.update(p.series.getBytes(StandardCharsets.UTF_8))
      b.clear()
      b.putLong(p.t).putLong(java.lang.Double.doubleToRawLongBits(p.temp))
        .putLong(java.lang.Double.doubleToRawLongBits(p.hum)).putLong(p.cnt)
        .put((if (p.ok) 1 else 0).toByte)
      md.update(b.array())
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** One file dropped into the live ingest source. A replay re-delivers the
  * previous file byte for byte; late points sit below the retention
  * horizon and must be discarded. */
final case class LiveBatch(index: Int, minute: Int, replay: Boolean, points: IndexedSeq[Point],
                           late: Int)

/** Seeded plan of the live-ingest workload. */
object LivePlan {
  val Series = 40
  val HistoryHours = 2
  /** Retention keeps this much behind the newest minute. */
  val RetainNs: Long = 50 * Fleet.MinNs
  /** The loaded history is the last hour before the live minutes (one
    * bucket per series), as if retention had already cut below it; late
    * points are drawn below this horizon. */
  val InitialHorizon: Long = Fleet.T0 + (HistoryHours - 1) * Fleet.HourNs - 1
  /** Batches 0 and 1 are the warm-up; from batch 2 on, every block of this
    * many batches holds exactly one replay at a seeded position, so any run
    * of whole blocks re-delivers the same share of files. */
  val ReplayBlock = 4

  def history(seed: Long): IndexedSeq[Point] =
    Fleet.history(seed, Series, HistoryHours).filter(_.t > InitialHorizon)

  /** Batches in drop order. Batch 1 is a replay (so warm-up exercises the
    * verified overwrite); after it, each block of [[ReplayBlock]] holds one
    * replay at a seeded position other than the block's first. */
  def batches(seed: Long, n: Int): IndexedSeq[LiveBatch] = {
    val r = new SplittableRandom(seed ^ 0x5EEDL)
    val replayAt = (0 to n / ReplayBlock).map(b =>
      2 + b * ReplayBlock + 1 + r.nextInt(ReplayBlock - 1)).toSet + 1
    val stepsPerMin = (Fleet.MinNs / Fleet.StepNs).toInt
    val k0 = HistoryHours * Fleet.HourNs / Fleet.StepNs
    val lateSteps = (InitialHorizon - Fleet.T0) / Fleet.StepNs
    var minute = -1
    val out = scala.collection.mutable.ArrayBuffer.empty[LiveBatch]
    (0 until n).foreach { i =>
      if (replayAt(i)) {
        val prev = out.last
        out += prev.copy(index = i, replay = true)
      } else {
        minute += 1
        val fresh = for (s <- 0 until Series; j <- 0 until stepsPerMin)
          yield Fleet.point(seed, s, k0 + minute.toLong * stepsPerMin + j)
        val late = if (r.nextInt(4) != 0) IndexedSeq.empty else {
          val ss = Iterator.continually(r.nextInt(Series)).distinct.take(1 + r.nextInt(3)).toIndexedSeq
          ss.flatMap { s =>
            Iterator.continually(r.nextLong(lateSteps)).distinct.take(1 + r.nextInt(2))
              .map(k => Fleet.point(seed, s, k))
          }
        }
        out += LiveBatch(i, minute, replay = false, fresh ++ late, late.size)
      }
    }
    out.toIndexedSeq
  }

  /** End of the newest minute batch `b` carries (inclusive). */
  def nowOf(b: LiveBatch): Long =
    Fleet.T0 + HistoryHours * Fleet.HourNs + (b.minute + 1) * Fleet.MinNs - 1
}

/** Seeded near-duplicate corpus for the curate workload, built from a base
  * document table the way `graft.tools.GenScale` scales it: replica 0 is
  * the base, replica r > 0 offsets `doc_id` and prefixes every token with a
  * letters-only tag, so within-replica near-dup structure is preserved and
  * cross-replica shingles never collide. The seed picks the tags and the
  * row order. */
object Corpus {
  final case class Doc(docId: Long, text: String, lang: String, source: String, nChars: Long)

  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def readBase(spark: SparkSession, path: String): IndexedSeq[Doc] =
    spark.read.parquet(path).orderBy("doc_id").collect().toIndexedSeq.map(r =>
      Doc(r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))

  def build(seed: Long, base: IndexedSeq[Doc], replicas: Int): IndexedSeq[Doc] = {
    val r = new SplittableRandom(seed ^ 0xC0FFEEL)
    val allTags = for (a <- 'a' to 'z'; b <- 'a' to 'z') yield s"$a$b"
    val tags = shuffle(allTags, r).take(replicas - 1)
    val stride = graft.ops.MultimodalOps.DocIdStride
    val docs = base ++ (1 until replicas).flatMap { rep =>
      val repl = java.util.regex.Matcher.quoteReplacement(s"z${tags(rep - 1)}q") + "$1"
      base.map(d => d.copy(docId = d.docId + rep * stride,
        text = if (d.text == null) null else d.text.replaceAll("(\\S+)", repl)))
    }
    shuffle(docs, r)
  }

  private def shuffle[A](xs: IndexedSeq[A], r: SplittableRandom): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  def frame(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(docs.map(d =>
      Row(d.docId, d.text, d.lang, d.source, d.nChars)).asJava, Schema)

  def digest(docs: Seq[Doc]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    docs.foreach { d =>
      md.update(s"${d.docId}\u0000${d.text}\u0000${d.lang}\u0000${d.source}\u0000${d.nChars}\n"
        .getBytes(StandardCharsets.UTF_8))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
