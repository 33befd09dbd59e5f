package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Committed-batch marker log — the single authority every persisted
  * index consults before per-batch maintenance, closing the last
  * "caller contract" prose in the index layer: appends used to demand
  * "run exactly once per accepted batch" and trusted the caller. Now
  * the contract is code:
  *
  *  - an append whose `batchId` is already committed is a NO-OP (a
  *    blind re-run — checkpoint replay, retried job — cannot duplicate
  *    index rows);
  *  - an append whose id is NOT committed first purges any partial
  *    rows a crashed prior attempt of the same batch left behind
  *    (index rows are partition-tagged with their batch id, so the
  *    purge is one DROP PARTITION per table), then re-appends and
  *    only then commits the marker. Every crash point replays to the
  *    same final state — exactly-once by convergence, not by hope.
  *
  * A marker is one empty file, committed with the same dot-tmp +
  * atomic-rename discipline as [[ManifestTable.commit]] (and the same
  * S3 caveat). The log is tiny — one file per accepted batch — and
  * lives beside the index tables in the warehouse, so it survives a
  * metastore round trip with them.
  *
  * The reference's degenerate form of this idea is its per-record
  * "does it already exist" check
  * (`src/lambdas/ingest/ingestStreamateModelPerformance.py:72-87`);
  * at 100 TB the check must be per-BATCH metadata, never a per-row
  * lookup.
  *
  * Mechanics (probed on Spark 4.1 datasource tables before this design
  * was committed): `partitionBy(batch) + bucketBy` `saveAsTable` works,
  * appends under the same partition+bucket spec work, `ALTER TABLE ...
  * DROP IF EXISTS PARTITION` removes the partition's ROWS (a re-append
  * restores exactly the appended rows, no residue), and a grouped plan
  * on the bucket keys stays exchange-free with the partition column
  * present — so batch-tagging costs probes nothing. A staging table
  * renamed over the live one ([[Swap.table]]) keeps its data through
  * the rename (the compaction path relies on this).
  */
object BatchLog {

  /** Batch partition value a full index rebuild writes under (sorts
    * before timestamp-style ids; same charset gate as real ids). */
  val BuildId = "00000-build"

  /** Batch ids become partition values, file names, and literals in a
    * DROP PARTITION statement — restrict to a charset that is safe in
    * all three. */
  def sanitize(batchId: String): String = {
    require(
      batchId.nonEmpty && batchId.forall(c =>
        c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"batch id must be non-empty [A-Za-z0-9._-], got '$batchId'")
    batchId
  }

  /** Default log location for a catalog-table index: a sibling of the
    * index tables' warehouse dirs (travels with them). The name gets
    * the same charset gate as batch ids — it becomes a filesystem path
    * component and (via [[IndexMeta]]) a SQL identifier. */
  def logDir(s: SparkSession, indexName: String): Path =
    new Path(s.sessionState.conf.warehousePath,
      s"${sanitize(indexName).toLowerCase}__batchlog")

  /** Log location for a directory-backed index (IVF lists): inside the
    * index dir, underscore-prefixed so parquet readers ignore it — the
    * log travels with the data it describes. */
  def logDirAt(indexPath: String): Path = new Path(indexPath, "_batchlog")

  private def fs(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  def isCommitted(s: SparkSession, dir: Path, batchId: String): Boolean =
    fs(s, dir).exists(new Path(dir, s"${sanitize(batchId)}.committed"))

  /** Record `batchId` as durably appended. Dot-tmp + one atomic rename;
    * idempotent (a marker that already exists is success). */
  def commit(s: SparkSession, dir: Path, batchId: String): Unit = {
    val id = sanitize(batchId)
    val f = fs(s, dir)
    f.mkdirs(dir)
    val dst = new Path(dir, s"$id.committed")
    if (f.exists(dst)) return
    val tmp = new Path(dir, s".tmp-$id")
    f.create(tmp, true).close()
    if (!f.rename(tmp, dst)) {
      // lost a race with another finisher of the SAME batch: fine iff
      // the marker is there now
      require(f.exists(dst), s"batch log commit failed: $dst")
    }
    // unconditional: no-op after a clean rename, clears the orphan a
    // crash between create and rename left on a prior attempt
    f.delete(tmp, false)
  }

  /** The whole exactly-once discipline in one shape: NO-OP when the
    * batch is already committed, purge-then-append when it isn't,
    * marker-commit last. Every crash point replays to the same final
    * state. Returns true when the append actually ran. */
  def runOnce(s: SparkSession, dir: Path, batchId: String)(
      purge: => Unit)(append: => Unit): Boolean = {
    if (isCommitted(s, dir, batchId)) return false
    purge
    append
    commit(s, dir, batchId)
    true
  }

  /** All committed batch ids (drives compaction's "fold only committed
    * partitions" filter). */
  def committed(s: SparkSession, dir: Path): Set[String] = {
    val f = fs(s, dir)
    if (!f.exists(dir)) return Set.empty
    f.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.endsWith(".committed") =>
        n.stripSuffix(".committed") }
      .toSet
  }

  /** `rows` of a batch-partitioned index minus its UNCOMMITTED orphan
    * batch partitions (a crashed append's partial rows, invisible until
    * that batch replays), given the index's batch-partition ids. The
    * filter names the orphans, not the committed ids: the committed
    * history grows by one id per batch ever accepted and would bloat
    * every plan with literals, while the orphans stay tiny. */
  def committedRows(rows: DataFrame, partIds: Seq[String],
      committed: String => Boolean): DataFrame = {
    val orphans = partIds.distinct.filterNot(committed)
    if (orphans.isEmpty) rows else rows.filter(!col("batch_id").isin(orphans: _*))
  }

  /** [[committedRows]] of a catalog table. */
  def committedTable(s: SparkSession, table: String,
      committed: String => Boolean): DataFrame =
    committedRows(s.table(table), partitionIds(s, table), committed)

  /** A catalog table's batch-partition ids (first level of the spec). */
  def partitionIds(s: SparkSession, table: String): Seq[String] =
    s.sql(s"SHOW PARTITIONS $table").collect()
      .map(_.getString(0).split("/")(0).stripPrefix("batch_id=")).toSeq.distinct

  /** A directory-backed index's batch-partition ids. */
  def partitionIdsAt(s: SparkSession, indexPath: String): Seq[String] = {
    val dir = new Path(indexPath)
    fs(s, dir).listStatus(dir).map(_.getPath.getName).toSeq
      .collect { case n if n.startsWith("batch_id=") => n.stripPrefix("batch_id=") }
  }

  /** Wipe the log — only valid as part of a full index rebuild (the
    * rebuild re-establishes what "already appended" means). */
  def reset(s: SparkSession, dir: Path): Unit = {
    val f = fs(s, dir)
    if (f.exists(dir)) f.delete(dir, true)
  }
}
