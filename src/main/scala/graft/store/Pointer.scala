package graft.store

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, NoSuchFileException, Path, Paths,
  StandardCopyOption}

/** One-line pointer files: the commit step under every store. A pointer
  * names the current state of something written elsewhere — a store's
  * `_CURRENT` version, its `_NBUCKETS` and `_FORMAT` layout markers, a
  * ledger's `_folded_upto` fold boundary, a `tag=NAME` snapshot tag. The
  * data a pointer names is written first; writing the pointer commits it.
  *
  * FILESYSTEM CONTRACT (the one statement every store refers to):
  *  - LOCAL POSIX RENAME. A write puts the value in a hidden sibling
  *    `.<name>.tmp`, then moves it over the pointer with `ATOMIC_MOVE` +
  *    `REPLACE_EXISTING`, i.e. one rename(2). A reader sees the old value
  *    or the new one, never a missing or partial pointer, and ignores a
  *    stray temp file; the next write replaces it.
  *  - ONE WRITER PER POINTER. Concurrent writers of one pointer share the
  *    temp file; the stores run a single writer each.
  *  - ATOMIC AGAINST A PROCESS CRASH. Nothing is fsynced, so the contract
  *    makes no claim about power loss.
  *  - NON-LOCAL SCHEMES ARE REJECTED ([[localDir]]). Object stores (s3a,
  *    gs, abfs) have no atomic rename at all, so a store there needs a
  *    table format (Iceberg, Delta) whose commit protocol replaces these
  *    pointers; HDFS would need a second implementation through Hadoop's
  *    API, the second filesystem policy this primitive exists to remove.
  *    Failing loudly beats a store that looks portable.
  *    Hadoop's `FileContext.rename(OVERWRITE)` is not a substitute even on
  *    local disk: its checksummed local filesystem deletes the destination
  *    before renaming, so a reader can find the pointer missing. */
object Pointer {

  /** The local directory `path` names: a plain path or a `file:` URI.
    * Any other scheme fails here, before anything is read or written. */
  def localDir(path: String): Path = {
    val uri = new org.apache.hadoop.fs.Path(path).toUri
    require(uri.getScheme == null || uri.getScheme == "file",
      s"'$path': stores commit through local atomic rename (graft.store." +
        "Pointer's FILESYSTEM CONTRACT); scheme '" + uri.getScheme +
        "' has no such rename — use a local path or a table format")
    Paths.get(uri.getPath)
  }

  /** The trimmed value of pointer `name` in `dir`, or None when it was
    * never written. */
  def read(dir: Path, name: String): Option[String] =
    try Some(new String(Files.readAllBytes(dir.resolve(name)), UTF_8).trim)
    catch { case _: NoSuchFileException => None }

  /** Atomically replace pointer `name` in `dir` with `value`. */
  def write(dir: Path, name: String, value: String): Unit = {
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, value.getBytes(UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}
