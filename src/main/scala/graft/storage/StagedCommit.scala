package graft.storage

import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** The one way files enter a store or index table. A writer stages its
  * files in a hidden `_graft_batch-<id>` directory, reports them, and
  * [[apply]] renames each into its table and deletes the directory. The
  * batch writer ([[EffectWriter]]), `AstarteStore.appendAtomic` (which
  * also writes every file-index log) and the maintenance rewrites
  * (`AstarteStore.rewriteLeaf`: sweep, compaction, `LwwTable.compact`
  * and the file index's vacuum-time deletion-vector fold) all commit
  * here.
  *
  * A staged file is never table data. A crash before the renames leaves
  * every table as it was, and the writer re-runs: a pipeline from its
  * checkpoint, maintenance on its next run. A crash during the renames
  * leaves part of the write in place; every caller's rows are
  * byte-identical on a re-run, and reads fold exact duplicates. Staging
  * a crash left behind is removed by maintenance ([[clearStale]]),
  * never adopted.
  */
private[storage] object StagedCommit {

  val Prefix = "_graft_batch-"

  /** A staging directory whose newest entry is older than this was left
    * by a crashed write: no live write goes that long without touching
    * its directory.
    */
  private val StaleMs = 60 * 60 * 1000L

  /** One staged file and the table file it becomes. */
  final case class Staged(table: String, staged: String, target: String)

  /** A fresh staging directory beside the table at `table`. */
  def beside(table: String): Path =
    new Path(new Path(table).getParent, Prefix + UUID.randomUUID())

  /** Runs `stage`, which writes under `dirs` and reports its files, then
    * renames each reported file to its target, one table lock
    * ([[AstarteStore.lockFor]]) at a time. A target that already exists
    * was put there by an earlier run of the same write, whose rows it
    * holds, and is skipped; a failed rename throws. `dirs` are deleted
    * before `stage` (a crashed earlier run of the same write may have
    * left names this run reuses) and after the renames, whatever happens.
    */
  def apply(dirs: Seq[Path], conf: Configuration)(stage: => Seq[Staged]): Unit = {
    def clear(): Unit = dirs.foreach(d => d.getFileSystem(conf).delete(d, true))
    clear()
    try stage.groupBy(_.table).foreach { case (table, files) =>
      val fs = new Path(table).getFileSystem(conf)
      AstarteStore.lockFor(table).synchronized {
        files.foreach { f =>
          val dst = new Path(f.target)
          if (!fs.exists(dst)) {
            fs.mkdirs(dst.getParent)
            if (!fs.rename(new Path(f.staged), dst))
              throw new java.io.IOException(s"staged commit: rename ${f.staged} -> $dst failed")
          }
        }
      }
    } finally clear()
  }

  /** The parquet files a `DataFrameWriter` job wrote under `dir`, each
    * bound for the same relative path under `under`, a directory of
    * `table`. Hidden entries (`_SUCCESS`, checksums) are not data.
    */
  def mirror(fs: FileSystem, dir: Path, table: String, under: String): Seq[Staged] = {
    def walk(d: Path, rel: String): Seq[Staged] =
      fs.listStatus(d).toSeq.filterNot(e => AstarteStore.isHidden(e.getPath.getName)).flatMap { e =>
        val name = e.getPath.getName
        if (e.isDirectory) walk(e.getPath, s"$rel$name/")
        else if (name.endsWith(".parquet")) Seq(Staged(table, e.getPath.toString, s"$under/$rel$name"))
        else Nil
      }
    walk(dir, "")
  }

  /** Deletes the staging directories under `parent` that a crashed write
    * left: those whose newest modification time anywhere inside is past
    * [[StaleMs]]. A staging directory's own mtime freezes once its
    * subdirectories exist, so only the newest entry tells a live write
    * from a dead one.
    */
  def clearStale(fs: FileSystem, parent: Path): Unit =
    if (fs.exists(parent)) {
      val now = System.currentTimeMillis()
      for (d <- fs.listStatus(parent)
           if d.isDirectory && d.getPath.getName.startsWith(Prefix) &&
             now - newestMtime(fs, d.getPath) > StaleMs)
        fs.delete(d.getPath, true)
    }

  private def newestMtime(fs: FileSystem, p: Path): Long =
    try {
      val self = fs.getFileStatus(p)
      val kids =
        if (self.isDirectory) fs.listStatus(p).map(c => newestMtime(fs, c.getPath))
        else Array.empty[Long]
      (self.getModificationTime +: kids).max
    } catch { case _: java.io.IOException => 0L }
}
