package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deletion maintenance for persisted indexes, riding the manifest CDC
  * feed: documents deleted from a [[ManifestTable]] corpus (via
  * [[ManifestTable.deleteWhere]] or a shrinking merge) leave GHOST rows
  * in the MinHash / BM25 / LSH / IVF index tables — wasted probe work that
  * accumulates with every delete, ghost candidates in probe results
  * (a new doc can be rejected as a near-dup of a document that no
  * longer exists), and a blocked data-deletion/compliance story. This
  * object computes WHAT to purge; the families' `compact(deletes)`
  * overloads apply it during the rewrite compaction performs anyway, so
  * the purge costs no extra pass over the index.
  *
  * Two modes, chosen by what the version bookmark still supports:
  *
  *  - CDC ([[IndexCompaction.Remove]]): the bookmarked version is still
  *    within [[ManifestTable.vacuum]]'s retention, so
  *    [[ManifestTable.changes]] yields exactly the rows deleted since —
  *    reading only partitions whose manifest pointer moved. Cost:
  *    O(changed partitions), independent of corpus size. The delete-id
  *    frame is typically tiny and broadcast into the folds' anti-joins.
  *  - RECONCILE ([[IndexCompaction.Retain]]): the bookmark is absent
  *    (first sync — deletes may predate it) or vacuumed past (consumer
  *    slower than the producer's retention window). The diff window is
  *    gone, but the END STATE is still known: the live corpus id set.
  *    Folds semi-join against it, sweeping every ghost regardless of
  *    when it appeared. Cost: O(corpus ids) — one column-pruned read,
  *    paid only on the degraded path, and the folds it feeds rewrite
  *    the whole index anyway. Mirrors [[IncrementalGold]]'s
  *    vacuumed-bookmark degrade: full-state fallback, never a throw.
  *
  * Both modes are idempotent (re-applying removes nothing new), so the
  * bookmark may advance strictly AFTER every family applied its set — a
  * crash mid-apply replays the same purge on the next run. Single
  * maintainer per (corpus, bookmark) assumed, same as every maintenance
  * job here.
  */
object IndexDeleteSync {

  /** What one sync cycle decided. `mode` ∈ cdc / reconcile / noop (no
    * version advance, or CDC window had no deletes). `deleteRows` is the
    * CDC delete-row count (−1 under reconcile: the live-set sweep never
    * counts ghosts up front). */
  final case class Report(fromVersion: Int, toVersion: Int, mode: String,
      deleteRows: Long)

  /** One maintenance cycle's full sync set: ghost purge PLUS the
    * stale-generation reindex feed. `deletes` is the purge set (None =
    * nothing deleted); `reindex` carries the CURRENT rows of every id
    * the window INSERTED OR UPDATED, straight from the CDC feed (the
    * diff emits the new side's full content). Insert rows are
    * candidates too, not just updates: a doc inserted and then updated
    * WITHIN one window net-diffs to a single `insert` row, yet its
    * index already holds both generations — the consumer intersects the
    * candidates with its own stale-generation witness
    * ([[MinhashIndex.staleGenerationIds]]: committed generation count
    * ≠ 1) to find the actually-stale docs, purges their superseded rows
    * during the fold, and re-appends the current version. Updates are only knowable in CDC mode; the
    * RECONCILE degrade path returns `reindex = None` (content staleness
    * is invisible without the diff window — stale generations then
    * persist until a CDC-mode pass, the same conservative class as
    * ghosts between maintenance runs). */
  final case class SyncSet(toVersion: Int,
      deletes: Option[IndexCompaction.DeleteSet],
      reindex: Option[DataFrame], report: Report)

  /** The sync set accumulated since the bookmark, plus the version the
    * bookmark should advance to once it is applied. None = nothing to
    * do at all (no committed corpus, no version advance, or a CDC
    * window with zero changed rows — bookmark advanced here in that
    * last case, since there is nothing for any consumer to apply). */
  def pendingFull(spark: SparkSession, corpusPath: String,
      bookmarkPath: String, keys: Seq[String], idCol: String = "doc_id")
      : Option[SyncSet] = {
    val toV = ManifestTable.currentSnapshot(spark, corpusPath)
      .map(_.version).getOrElse(return None)
    val fromV = IncrementalGold.readBookmark(spark, bookmarkPath)
      .map(_.toInt).getOrElse(0)
    if (toV <= fromV) return None
    val diffable = fromV > 0 &&
      ManifestTable.snapshotAt(spark, corpusPath, fromV).isDefined
    if (diffable) {
      // localCheckpoint: the diff feeds one fold PER INDEX TABLE (up to
      // seven across the families) plus the reindex appends —
      // materialize the changed partitions' read once
      val diff = ManifestTable.changes(spark, corpusPath, fromV, toV, keys)
        .localCheckpoint()
      // one aggregation answers every emptiness question (the previous
      // two-actions form paid a job per change kind)
      val counts = diff.groupBy(col("change")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val nDel = counts.getOrElse("delete", 0L)
      val nCand = counts.getOrElse("update", 0L) + counts.getOrElse("insert", 0L)
      if (nDel == 0 && nCand == 0) {
        // version moved with zero changed rows (pure compaction):
        // advance now, spare every family the no-op anti-join
        IncrementalGold.writeBookmark(spark, bookmarkPath, toV.toString)
        None
      } else Some(SyncSet(toV,
        if (nDel == 0) None
        else Some(IndexCompaction.Remove(
          diff.filter(col("change") === "delete").select(col(idCol)))),
        if (nCand == 0) None
        else Some(diff.filter(col("change").isin("update", "insert"))),
        Report(fromV, toV, "cdc", nDel)))
    } else
      Some(SyncSet(toV,
        Some(IndexCompaction.Retain(
          ManifestTable.read(spark, corpusPath).select(col(idCol))
            .localCheckpoint())), // id column only, read once for all folds
        None, Report(fromV, toV, "reconcile", -1L)))
  }

  /** Delete-only view of [[pendingFull]] — the original consumer
    * contract, now a thin adapter so the bookmark/diffable/reconcile
    * skeleton exists ONCE: a window with no deletes (whatever inserts
    * or updates it carries) advances the bookmark and returns None,
    * exactly the historical semantics delete-only consumers rely on.
    *
    * A [[pending]] consumer and a [[pendingFull]] consumer must NEVER
    * share a bookmark path: this adapter CONSUMES delete-free windows
    * as a side effect (the bookmark advances past them), permanently
    * discarding the reindex feed a pendingFull consumer at the same
    * path still needs — update windows would silently skip their
    * reindex. One bookmark per consumer, named for it (the
    * ContinuousIngest path is pendingFull's alone). */
  def pending(spark: SparkSession, corpusPath: String, bookmarkPath: String,
      keys: Seq[String], idCol: String = "doc_id")
      : Option[(Int, IndexCompaction.DeleteSet, Report)] =
    pendingFull(spark, corpusPath, bookmarkPath, keys, idCol).flatMap { ss =>
      ss.deletes match {
        case Some(d) => Some((ss.toVersion, d, ss.report))
        case None =>
          IncrementalGold.writeBookmark(spark, bookmarkPath,
            ss.toVersion.toString)
          None
      }
    }

  /** Advance the bookmark — call strictly AFTER every index family has
    * applied the pending set (idempotence covers a crash before this). */
  def advance(spark: SparkSession, bookmarkPath: String, toVersion: Int): Unit =
    IncrementalGold.writeBookmark(spark, bookmarkPath, toVersion.toString)

  /** One full sync cycle: compute the pending set, run `apply` with it
    * (the caller feeds it to each family's `compact(deletes)`), then
    * advance the bookmark. */
  def sync(spark: SparkSession, corpusPath: String, bookmarkPath: String,
      keys: Seq[String], idCol: String = "doc_id")(
      apply: IndexCompaction.DeleteSet => Unit): Option[Report] =
    pending(spark, corpusPath, bookmarkPath, keys, idCol).map {
      case (toV, ds, report) =>
        apply(ds)
        advance(spark, bookmarkPath, toV)
        report
    }
}
