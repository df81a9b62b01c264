package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** The measurement's watermark TABLE — one log-structured store holding the
  * `[time_first, time_last]` range of EVERY series, replacing the r1-r5
  * design of one JSON file per series (reference analog: per-series
  * `time_first`/`time_last` files, src/libtsdb/series.cc:56-72 — fine
  * single-node, but a cluster catalog with 10⁶ series cannot list 10⁶
  * objects per query).
  *
  * Layout under `<measurement>/_wm/`:
  * {{{
  *   snap-<v>-<uuid>.jsonl    full table at version v (one line per series)
  *   delta-<v>-<uuid>.jsonl   the series updated by ONE write, at version v
  * }}}
  *
  * Every mutation appends ONE delta file (atomic tmp+rename) regardless of
  * how many series it touches — a micro-batch updating 10⁴ series costs one
  * small object, not 10⁴. Readers list the directory (bounded: one snapshot
  * + at most [[WatermarkStore.CompactThreshold]] deltas), take the latest
  * snapshot, and apply the deltas with version >= snapshot version in
  * version order — latest entry per series wins. When the delta count
  * crosses the threshold, the writing update folds everything into a fresh
  * snapshot and deletes the merged files, so the directory listing stays
  * O(1) no matter how many updates ever ran.
  *
  * Caching: the decoded table is cached per store instance, keyed by the
  * directory's file-name signature — a repeat load costs one `listStatus`
  * (no file reads), and a load after a foreign update re-reads only because
  * the signature changed. The driver-side map is catalog-scale (tens of
  * bytes per series).
  *
  * Concurrency contract — the same one the data path already has
  * (single writer per series; the reference serializes with flocks,
  * series.h:42-179, which object stores don't offer): concurrent updates to
  * DIFFERENT series are safe (distinct delta files; latest-wins is
  * per-series, and a version-number tie between different series is
  * harmless). Compactions are collision-free for ANY number of concurrent
  * writers: snapshots carry uuid-distinct names (no rename-overwrite can
  * drop a commit), readers merge all snapshots at the newest version
  * COMMUTATIVELY — per series, the componentwise max of (time_first,
  * time_last), which is the latest state because both fields are monotone
  * non-decreasing under the engine's only mutations (append-at-the-end,
  * delete-from-the-front) and a series has one writer. Two same-version
  * compactors that disagree on a straggler delta (one folded it and
  * deleted it, the other listed before it existed) therefore agree after
  * the merge: the folded, newer entry wins fieldwise, whatever order the
  * snapshot names sort in. Each snapshot additionally records the NAMES of
  * the files it folded in a header line — a delta present in the directory
  * applies unless a live snapshot's merged-set names it (names are
  * uuid-unique, so the test is exact). That closes the former ≥3-writer
  * hazard of a straggler delta versioned strictly below a snapshot that
  * never saw it: the straggler is absent from every merged-set, so it
  * still applies, and the next compaction folds it. Delta application uses
  * the same monotone merge, so a straggler applying after a snapshot that
  * already folded a newer state of its series cannot rewind it. A
  * snapshot without the header is corrupt.
  *
  * All of the above assumes point-in-time-consistent directory LISTINGS
  * (POSIX, HDFS, and strongly-consistent object stores like current S3).
  * On a store whose listing can show a compactor's delta while hiding its
  * already-written snapshot AND a file that snapshot's writer already
  * deleted, a second compactor could fold neither — deployments on such
  * storage should back this table with a transactional store; the format
  * isolates that swap to this class.
  *
  * A reader that lists the directory just before a compactor's delete can
  * hit FileNotFoundException mid-decode; load()/update() retry the
  * list+decode (bounded), which sees the new snapshot — loud-failure only
  * if the race recurs several times in a row.
  */
final class WatermarkStore(dir: Path, hconf: Configuration) {
  import WatermarkStore._

  private def fs: FileSystem = dir.getFileSystem(hconf)

  /** (file-name signature, decoded table) of the last load. */
  private var cached: Option[(Seq[String], Map[String, SeriesRange])] = None

  private case class Listing(snaps: Seq[(Long, Path)], deltas: Seq[(Long, Path)]) {
    def signature: Seq[String] =
      (snaps.map(_._2.getName) ++ deltas.map(_._2.getName)).sorted
    def maxVersion: Long =
      (snaps.map(_._1) ++ deltas.map(_._1)).foldLeft(0L)(math.max)
    def snapVersion: Long = snaps.lastOption.map(_._1).getOrElse(-1L)
    /** Snapshots AT the newest snapshot version, in name order — two
      * concurrent compactions produce two uuid-distinct snapshots with the
      * same version, each holding the common base plus its own writer's
      * entries; merging them (different-series writes commute under the
      * single-writer-per-series contract) loses neither. */
    def liveSnaps: Seq[Path] = snaps.filter(_._1 == snapVersion).map(_._2)
    /** Deltas not subsumed by the newest snapshot, in (version, name)
      * order. A delta applies if its version reaches the snapshot version
      * (`>=` not `>`: a delta committed CONCURRENTLY with a compaction
      * carries the same version but its content is not in it) OR if no
      * live snapshot's merged-set names it — the straggler case: a writer
      * that listed long ago commits a low-versioned delta after a
      * compaction it was invisible to. `mergedOf` is the union of the live
      * snapshots' headers. */
    def liveDeltas(mergedOf: Set[String]): Seq[(Long, Path)] =
      deltas.filter { case (v, p) => v >= snapVersion || !mergedOf.contains(p.getName) }
  }

  private def list(): Listing = {
    val f = fs
    if (!f.exists(dir)) Listing(Nil, Nil)
    else {
      val paths = f.listStatus(dir).toSeq.map(_.getPath)
        .filterNot(_.getName.startsWith("."))
      Listing(
        paths.flatMap(p => p.getName match {
          case SnapRe(v) => Some(v.toLong -> p); case _ => None
        }).sortBy { case (v, p) => (v, p.getName) },
        paths.flatMap(p => p.getName match {
          case DeltaRe(v, _) => Some(v.toLong -> p); case _ => None
        }).sortBy { case (v, p) => (v, p.getName) })
    }
  }

  private def decode(l: Listing): Map[String, SeriesRange] = {
    val snaps = l.liveSnaps.map(p => parseSnapshot(readString(p)))
    // COMMUTATIVE per-series merge, not name-order ++: two same-version
    // snapshots can disagree on a series when one folded a straggler delta
    // the other never listed (and then deleted it) — name-order would let
    // the stale entry win if its snapshot sorts last. Both watermark fields
    // are monotone non-decreasing over a series' life (appends only advance
    // time_last — wal semantics; delete-from-front/retention only advance
    // time_first; no mutation ever rewinds either), and a series has ONE
    // writer, so its states are totally ordered and the componentwise max
    // IS the latest state, whatever order the snapshots merge in.
    val base = snaps.foldLeft(Map.empty[String, SeriesRange])(
      (acc, s) => mergeMonotone(acc, s._2))
    val merged = snaps.flatMap(_._1).toSet
    // deltas stay latest-wins in version order (their entries are authored
    // by the series' single writer, so later versions subsume earlier) —
    // but the monotone merge is used here too: it is identical for ordered
    // states and additionally immune to a straggler applying after a
    // snapshot that already folded a newer state of the same series.
    l.liveDeltas(merged).foldLeft(base)(
      (acc, d) => mergeMonotone(acc, parseLines(readString(d._2))))
  }

  /** Merge `upd` into `acc` taking the componentwise max per series — the
    * commutative, idempotent join of monotone watermark states. */
  private def mergeMonotone(acc: Map[String, SeriesRange],
                            upd: Map[String, SeriesRange]): Map[String, SeriesRange] =
    upd.foldLeft(acc) { case (a, (sn, r)) =>
      a.updatedWith(sn) {
        case Some(prev) => Some(SeriesRange(
          math.max(prev.timeFirst, r.timeFirst),
          math.max(prev.timeLast, r.timeLast)))
        case None => Some(r)
      }
    }

  private def loadFrom(l: Listing): Map[String, SeriesRange] = {
    val sig = l.signature
    cached match {
      case Some((s, m)) if s == sig => m
      case _ =>
        val m = decode(l)
        cached = Some((sig, m))
        m
    }
  }

  /** Run `body`, retrying when a concurrent compactor deleted a listed
    * file between our listStatus and the read — the re-list sees the new
    * snapshot. Bounded so a genuinely broken store still fails loudly. */
  private def retryOnFnf[A](body: => A): A = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: java.io.FileNotFoundException =>
          attempt += 1
          if (attempt >= 3) throw e
          cached = None
      }
    }
    sys.error("unreachable")
  }

  /** The full table. One `listStatus` when nothing changed. */
  def load(): Map[String, SeriesRange] =
    synchronized { retryOnFnf(loadFrom(list())) }

  def get(series: String): Option[SeriesRange] = load().get(series)

  /** Commit the given per-series ranges: ONE atomic delta file (plus, past
    * the threshold, one folded snapshot), whatever the batch size. */
  def update(entries: Map[String, SeriesRange]): Unit = synchronized {
    if (entries.isEmpty) return
    retryOnFnf(doUpdate(entries))
  }

  private def doUpdate(entries: Map[String, SeriesRange]): Unit = {
    val l = list()
    val prior = loadFrom(l)
    val merged = prior ++ entries
    val v = l.maxVersion + 1
    val delta = new Path(dir,
      f"delta-$v%016d-${java.util.UUID.randomUUID.toString.take(8)}%s.jsonl")
    // the NEW entries always travel as a regular delta — even when this
    // update also compacts. A compactor working from a stale listing (its
    // snapshot version may land below a concurrent compactor's) then risks
    // only its FOLD being ignored (the fold holds pre-existing, already
    // subsumed data); its own commit stays protected by the merged-set
    // rule like any other delta.
    atomicWrite(delta, encodeLines(entries))
    if (l.deltas.size + 1 > CompactThreshold) {
      // uuid-distinct name: two concurrent compactions at the same version
      // both SURVIVE (no rename-overwrite losing one writer's commit) and
      // readers merge them via liveSnaps. The header records exactly the
      // files folded in — NOT this update's own delta.
      val snap = new Path(dir,
        f"snap-$v%016d-${java.util.UUID.randomUUID.toString.take(8)}%s.jsonl")
      val foldedNames = (l.snaps ++ l.deltas).map(_._2.getName)
      atomicWrite(snap, encodeSnapshot(foldedNames, prior))
      // everything the new snapshot subsumes goes away; the listing stays
      // one snapshot + this delta + whatever other writers just added
      (l.snaps ++ l.deltas).foreach(p => fs.delete(p._2, false))
      cached = Some((Seq(snap.getName, delta.getName).sorted, merged))
    } else {
      cached = Some(((l.signature :+ delta.getName).sorted, merged))
    }
  }

  private def readString(p: Path): String = StorageIO.readString(p, hconf)

  private def atomicWrite(p: Path, content: String): Unit =
    StorageIO.atomicWrite(p, content, hconf)
}

object WatermarkStore {
  /** Live-delta count that triggers folding into a fresh snapshot. */
  val CompactThreshold = 64

  private val SnapRe = """snap-(\d{16})(?:-[0-9a-f]{8})?\.jsonl""".r
  private val DeltaRe = """delta-(\d{16})-([0-9a-f]{8})\.jsonl""".r
  // the series field is written Hive-ESCAPED (same canonical escape as
  // seriesDir), so tag-encoded keys holding '=', ':', '%', '#', '"' or
  // commas survive the JSON line format and a FRESH instance's re-parse;
  // plain names escape to themselves, so pre-existing stores read
  // unchanged. The pattern admits any escaped-name byte except the
  // closing quote (escapePathName turns '"' into %22).
  private val LineRe =
    """\{"series":"([^"]+)","time_first":(-?\d+),"time_last":(-?\d+)\}""".r
  private val MergedRe = """\{"merged":\[(.*)\]\}""".r

  /** Snapshot body: a header naming the folded files, then the table. */
  private[graft] def encodeSnapshot(folded: Seq[String],
                                     m: Map[String, SeriesRange]): String = {
    val names = folded.sorted.map(n => s""""$n"""").mkString(",")
    s"""{"merged":[$names]}""" + "\n" + encodeLines(m)
  }

  /** (merged-set, decoded table); a body without the header is corrupt. */
  private[graft] def parseSnapshot(s: String): (Set[String], Map[String, SeriesRange]) =
    s.linesIterator.toSeq match {
      case MergedRe(names) +: rest =>
        val set = if (names.isEmpty) Set.empty[String]
                  else names.split(",").map(_.stripPrefix("\"").stripSuffix("\"")).toSet
        (set, parseLines(rest.mkString("\n")))
      case _ => throw new InvalidSchemaException(s"watermark snapshot without header: ${s.take(80)}")
    }

  private[graft] def encodeLines(m: Map[String, SeriesRange]): String =
    m.toSeq.sortBy(_._1).map { case (s, r) =>
      val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(s)
      s"""{"series":"$esc","time_first":${r.timeFirst},"time_last":${r.timeLast}}"""
    }.mkString("", "\n", "\n")

  private[graft] def parseLines(s: String): Map[String, SeriesRange] =
    s.linesIterator.filter(_.nonEmpty).map {
      case LineRe(name, tf, tl) =>
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(name) -> SeriesRange(tf.toLong, tl.toLong)
      case other => throw new InvalidSchemaException(s"corrupt watermark line: $other")
    }.toMap
}
