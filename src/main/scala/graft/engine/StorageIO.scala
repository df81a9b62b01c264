package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, Options, Path}

import java.nio.charset.StandardCharsets

/** Shared small-object IO for the engine's metadata files (schemas,
  * watermarks, intent records) — ONE implementation of the atomic
  * tmp+overwrite-rename contract (reference root.cc:179-194) so a
  * durability fix can never drift between call sites.
  *
  * `atomicWrite` is not cheap. On a local filesystem without native Hadoop
  * IO it forks one `chmod` (the create's `setPermission`) and about three
  * `stat`s (the `FileContext` rename's link-status checks). Measured on a
  * 4-core host: 17-20 ms per call (create ~3.3 ms, rename ~13 ms, against
  * 0.03 ms for a plain `FileSystem.rename`). Callers batch it — one file
  * per operation, never one per series. */
private[engine] object StorageIO {

  def readString(p: Path, hconf: Configuration): String = {
    val in = p.getFileSystem(hconf).open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  /** tmp + overwrite-rename — readers see either the old or the new content,
    * never a torn write. */
  def atomicWrite(p: Path, content: String, hconf: Configuration): Unit = {
    val f = p.getFileSystem(hconf)
    f.mkdirs(p.getParent)
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    val out = f.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val fc = FileContext.getFileContext(p.toUri, hconf)
    fc.rename(tmp, p, Options.Rename.OVERWRITE)
  }
}
