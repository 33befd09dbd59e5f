package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one stage-then-rename commit for artifacts that are replaced
  * whole: the index tables and meta/stats rows (catalog form) and the
  * IVF index and lake directories (directory form). The replacement is
  * always written COMPLETE under a stage name before the live copy is
  * touched, and a rename makes it visible — one atomic rename, one
  * visible version (the Delta Lake rule). Every crash window leaves a
  * state that [[healTable]] / [[healDir]] resolves, and both run before
  * any read or write that could mistake a window for "absent".
  *
  * Catalog form, [[table]]: heal, drop the stage, write it, drop live,
  * `ALTER TABLE stage RENAME TO live`, then `RECOVER PARTITIONS` when
  * the table is partitioned — RENAME moves a managed table's directory
  * but the catalog's partition entries keep their OLD locations, so the
  * renamed table silently reads zero rows until the partitions are
  * re-registered from the moved files (measured: 32 files on disk,
  * `count() == 0`). So before renaming a partitioned stage the swap
  * drops a hidden marker file into the stage's directory; the rename
  * carries it into live's, and it is deleted only after the recover.
  * Crash windows:
  *  - stage partial or complete, live intact: heal does nothing; the
  *    next swap drops the stage first.
  *  - live dropped, rename not run: the stage is complete by
  *    construction, so heal promotes it. A reader inside the window
  *    fails LOUDLY (table not found), never silently wrong.
  *  - renamed, partitions not yet recovered: live holds the marker, so
  *    heal recovers the partitions. A reader that skips heal reads
  *    zero rows inside the window.
  *
  * Directory form, [[dir]]: the stage is written first, then live →
  * old, stage → live, delete old. Crash windows:
  *  - stage partial or complete, live intact, no old: a complete stage
  *    is swept; a partial one is cleared or overwritten by the next
  *    writer.
  *  - live retired to old, stage not renamed: a COMPLETE stage is
  *    promoted, otherwise the old copy is restored — the aside copy IS
  *    the table, never garbage while live is missing.
  *  - stage renamed, old not deleted: the old copy is swept.
  *  - cold build (no live before): a complete stage is promoted.
  * How a complete stage is recognised is the only input that differs
  * by caller: the IVF index writes its `_centroids` last as the
  * marker; the lake writers have none, so their stage is never
  * promoted and an interrupted swap restores the old copy (the writer
  * re-runs its batch). Readers between the two renames see no table and
  * fail loudly, never a mix of old and new.
  *
  * Stage names are the callers' and are part of the on-disk format:
  * heal must find what an earlier process left. */
private[graft] object Swap {

  /** Replace catalog table `live` with what `writeStage` writes under
    * `stage`. */
  def table(s: SparkSession, stage: String, live: String)(
      writeStage: => Unit): Unit = {
    healTable(s, stage, live)
    MinhashIndex.dropTable(s, stage)
    writeStage
    MinhashIndex.dropTable(s, live)
    promote(s, stage, live)
  }

  /** Finish a [[table]] swap that stopped between drop and rename, or
    * between rename and recover. One catalog lookup and one file
    * `exists` when there is nothing to heal. */
  def healTable(s: SparkSession, stage: String, live: String): Unit =
    if (s.catalog.tableExists(live)) {
      if (fs(s).exists(recoverMarker(s, live))) recover(s, live)
    } else if (s.catalog.tableExists(stage)) promote(s, stage, live)

  private def promote(s: SparkSession, stage: String, live: String): Unit = {
    val id = s.sessionState.sqlParser.parseTableIdentifier(stage)
    val partitioned =
      s.sessionState.catalog.getTableMetadata(id).partitionColumnNames.nonEmpty
    if (partitioned) fs(s).create(recoverMarker(s, stage), true).close()
    s.sql(s"ALTER TABLE $stage RENAME TO $live")
    if (partitioned) recover(s, live)
  }

  private def recover(s: SparkSession, live: String): Unit = {
    s.sql(s"ALTER TABLE $live RECOVER PARTITIONS")
    fs(s).delete(recoverMarker(s, live), false)
  }

  /** Inside the managed table's directory, dot-prefixed so neither
    * parquet reads nor the partition recover see it. */
  private def recoverMarker(s: SparkSession, table: String): Path =
    new Path(new Path(s.sessionState.conf.warehousePath, table.toLowerCase),
      ".recover-pending")

  private def fs(s: SparkSession): FileSystem =
    new Path(s.sessionState.conf.warehousePath)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Promote the fully written directory `stage` to `live`, retiring
    * any current `live` through `old` (whose parent must exist). */
  def dir(fs: FileSystem, stage: Path, live: Path, old: Path): Unit = {
    val hadLive = fs.exists(live)
    if (hadLive) rename(fs, live, old)
    rename(fs, stage, live)
    if (hadLive) fs.delete(old, true)
  }

  /** Resolve whatever an interrupted [[dir]] swap left: promote a
    * complete stage, restore the old copy, sweep leftovers, or nothing.
    * It acts only when an old copy or a complete stage is on disk, so
    * when there is nothing to heal it costs one `exists` plus the
    * caller's `complete` check. */
  def healDir(fs: FileSystem, stage: Path, live: Path, old: Path,
      complete: Path => Boolean = _ => false): Unit = {
    val hasOld = fs.exists(old)
    val promotable = complete(stage)
    if (hasOld || promotable) {
      if (!fs.exists(live)) rename(fs, if (promotable) stage else old, live)
      fs.delete(stage, true)
      if (hasOld) fs.delete(old, true)
    }
  }

  /** `FileSystem.rename` reports failure by RETURNING false; a swallowed
    * false leaves a swap half done with nothing reported. */
  def rename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new IllegalStateException(s"rename failed: $src -> $dst")
}
