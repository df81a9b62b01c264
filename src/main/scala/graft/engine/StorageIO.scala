package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import java.io.IOException
import java.nio.charset.StandardCharsets

/** Shared small-object IO for the engine's metadata files (schemas,
  * watermarks, intent records) — ONE implementation of the atomic
  * tmp+rename contract (reference root.cc:179-194) so a durability fix can
  * never drift between call sites.
  *
  * Every file it writes is new: `_config.json` and `_schema.json` are
  * written only when absent, and intent records, watermark deltas and
  * snapshots are uuid-named, never rewritten. So the rename is a plain
  * `FileSystem.rename` (0.03 ms), not `FileContext.rename(OVERWRITE)`,
  * whose link-status checks fork about three `stat`s on a local filesystem
  * without native Hadoop IO (~13 ms). The create still forks one `chmod`
  * (its `setPermission`, ~3.3 ms, measured on a 4-core host), so callers
  * batch it — one file per operation, never one per series. */
private[engine] object StorageIO {

  def readString(p: Path, hconf: Configuration): String = {
    val in = p.getFileSystem(hconf).open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  /** tmp + rename — readers see no file or the whole content, never a torn
    * write. Fails loudly when the rename does not happen (on a store that
    * will not replace an existing `p`, for one). */
  def atomicWrite(p: Path, content: String, hconf: Configuration): Unit = {
    val f = p.getFileSystem(hconf)
    f.mkdirs(p.getParent)
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    val out = f.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (!f.rename(tmp, p)) throw new IOException(s"could not rename $tmp to $p")
  }
}
