package graft.etl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Small-file maintenance for the batch-partitioned bucketed index
  * tables ([[MinhashIndex]], [[TextIndex]], [[LshIndex]]), reached from
  * the stream through each family's `fold` step in
  * [[graft.streaming.IndexFamily]]'s maintenance: every
  * [[BatchLog]]-committed append adds one file set per bucket, so a
  * daily-ingest index accretes ~1 file/bucket/batch forever and scan
  * cost degrades with open()-per-file. Compaction folds all COMMITTED
  * batch partitions into a single fresh build partition — one file per
  * bucket again — via a staging table and an `ALTER TABLE RENAME` swap
  * (data follows the name; mechanics probed before this design was
  * committed, see [[BatchLog]]).
  *
  * Correctness properties:
  *  - only committed batches fold: a crashed append's orphan partition
  *    (its batch id absent from the log) is EXCLUDED and disappears in
  *    the swap — exactly the rows no reader should ever have seen. If
  *    that batch later retries, its purge finds nothing and the append
  *    lands normally.
  *  - the batch log is NOT touched: committed markers persist as
  *    tombstones, so a very late replay of a long-folded batch is still
  *    a no-op (purging the marker would let the replay re-append rows
  *    the fold already carries). One empty marker file per batch ever
  *    accepted is the price — bounded and cheap.
  *  - the swap is [[Swap.table]] under the `__compact` stage name;
  *    [[heal]] finishes an interrupted one.
  *  - probes are plan-identical afterwards: the staged write uses the
  *    same partition+bucket+sort spec, so the exchange-free corpus-side
  *    reads survive (spec re-asserts the executed plans).
  */
object IndexCompaction {

  /** Row-removal request applied DURING a fold — deletes piggyback on
    * the rewrite compaction performs anyway, so purging ghost rows costs
    * no extra pass over the index.
    *
    *  - [[Remove]]: drop rows whose id is in `ids` (anti-join) — the
    *    targeted form, fed by [[ManifestTable.changes]]' delete rows.
    *  - [[Retain]]: keep only rows whose id is in `ids` (semi-join) —
    *    the reconciliation form for when the CDC window is gone
    *    (bookmark vacuumed): `ids` is the LIVE corpus id set, so any
    *    ghost accumulated for any reason is swept. Idempotent by
    *    construction either way.
    *
    * The frame must be single-column; it is aligned to each table's id
    * column by position, so one set serves tables that name the id
    * differently (`doc_id` vs `vec_id`). */
  sealed trait DeleteSet { def ids: org.apache.spark.sql.DataFrame }
  final case class Remove(ids: org.apache.spark.sql.DataFrame) extends DeleteSet
  final case class Retain(ids: org.apache.spark.sql.DataFrame) extends DeleteSet

  // private[graft]: [[graft.operators.IvfIndex]] applies the same set
  // semantics during its directory-layout fold/retrain
  private[graft] def applyDeleteSet(df: org.apache.spark.sql.DataFrame,
      idCol: String, ds: DeleteSet): org.apache.spark.sql.DataFrame = {
    require(ds.ids.columns.length == 1,
      s"delete set must be a single id column, got ${ds.ids.columns.mkString(",")}")
    val ids = ds.ids.toDF(idCol)
    ds match {
      case Remove(_) => df.join(ids, Seq(idCol), "left_anti")
      case Retain(_) => df.join(ids, Seq(idCol), "left_semi")
    }
  }

  private def stageName(table: String) = s"${table}__compact"

  /** Finish an interrupted fold swap of `table` ([[Swap.healTable]]). */
  def heal(s: SparkSession, table: String): Unit =
    Swap.healTable(s, stageName(table), table)

  /** Parquet file count across a table's partitions — the maintenance
    * trigger (compact when it drifts far above the bucket count), from
    * listStatus metadata only. */
  def fileCount(s: SparkSession, table: String): Int = {
    val root = new org.apache.hadoop.fs.Path(
      s.sessionState.conf.warehousePath, table.toLowerCase)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path): Int =
      fs.listStatus(p).map { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) 1 else 0
      }.sum
    if (fs.exists(root)) walk(root) else 0
  }

  /** Fold `table`'s committed batch partitions into one fresh
    * [[BatchLog.BuildId]] partition with one file per bucket.
    *
    * The read runs with bucketed scanning OFF: a bucketed scan claims to
    * already satisfy the writer's hash distribution, Catalyst elides the
    * pre-write exchange, and each (size-coalesced, bucket-MIXED) read
    * task then writes one file per bucket it happens to hold — the
    * 1-file-per-bucket goal silently becomes tasks×buckets (measured: 61
    * files for 32 buckets). A plain scan forces the exchange, aligning
    * tasks to buckets exactly. */
  private[etl] def fold(s: SparkSession, table: String,
      committed: Set[String], nBuckets: Int,
      bucketCols: Seq[String], foldId: String,
      deletes: Option[(String, DeleteSet)] = None,
      protect: Option[String] = None): Unit = {
    val stage = stageName(table)
    Swap.table(s, stage, table) {
      val bucketedRead = "spark.sql.sources.bucketing.enabled"
      val prev = s.conf.get(bucketedRead, "true")
      s.conf.set(bucketedRead, "false")
      try {
        val nonOrphan = BatchLog.committedTable(s, table, committed)
        // deletes ride the rewrite: an anti/semi-join against the (small
        // or id-column-sized) set — broadcastable, never a corpus shuffle.
        // `protect` exempts ONE committed partition from the delete set —
        // the updated-doc reindex protocol's crash seam: its Remove set
        // names ids whose CURRENT rows live in the just-appended reindex
        // partition, and a maintenance replay (crash after the reindex
        // append committed, before the bookmark advanced) must purge only
        // the STALE generations, never the replacement it re-appended.
        val folded = deletes.fold(nonOrphan) { case (idCol, ds) =>
          protect match {
            case None => applyDeleteSet(nonOrphan, idCol, ds)
            case Some(p) =>
              applyDeleteSet(nonOrphan.filter(col("batch_id") =!= p), idCol, ds)
                .unionByName(nonOrphan.filter(col("batch_id") === p))
          }
        }.drop("batch_id")
        MinhashIndex.writeBucketed(folded, stage, nBuckets,
          append = false, foldId, bucketCols: _*)
      } finally s.conf.set(bucketedRead, prev)
    }
  }

  /** Compact every table of a catalog-backed index family. `tables`
    * pairs each table with its bucket columns; `nBuckets` comes from the
    * family's [[IndexMeta]].
    *
    * `targetRowsPerBucket > 0` opts the fold into STORAGE-LAYOUT growth:
    * a family built on its first streaming batch freezes that batch's
    * bucket count, so at 1000× the corpus each bucket is one enormous
    * file and scan parallelism is capped at the cold-build guess. Since
    * the fold rewrites every row anyway, it is the free moment to
    * re-derive the bucket count from the family's largest table (one
    * shared count — appends write every table under the meta's single
    * spec) and rewrite at the wider layout. Grow-only and capped; row
    * content, probe results, and plan shape are invariant (bucket count
    * is pure layout — spec-asserted in IndexCompactionSpec).
    *
    * Crash discipline: the meta write lands FIRST, so no successfully
    * folded table can be wider than what appends expect. In the window
    * where meta has grown but a table has not yet folded, an append to
    * that table fails LOUDLY (Spark rejects a bucket-spec mismatch on
    * `saveAsTable`) — never silently mixes layouts — and re-running
    * compaction converges every table to the meta spec (the fold always
    * rewrites at the meta's count). Same loud-until-healed discipline as
    * the swap window itself. */
  private[etl] def compactFamily(s: SparkSession, name: String,
      tables: Seq[(String, Seq[String])],
      deletes: Option[(String, DeleteSet)] = None,
      targetRowsPerBucket: Long = 0,
      protect: Option[String] = None): Unit = {
    val meta = IndexMeta.read(s, name)
    val nBuckets = {
      val cur = meta("n_buckets").toInt
      if (targetRowsPerBucket <= 0) cur
      else {
        val rows = tables.map { case (t, _) => s.table(t).count() }.max
        val derived = math.min(4096L,
          math.max(cur.toLong, rows / targetRowsPerBucket)).toInt
        if (derived > cur)
          IndexMeta.write(s, name, meta + ("n_buckets" -> derived.toString))
        derived
      }
    }
    val log = BatchLog.logDir(s, name)
    // The fold's output partition needs a COMMITTED id, or the next
    // compaction would classify it as an uncommitted orphan and fold the
    // whole index to empty. It must NOT reuse [[BatchLog.BuildId]]: a
    // standalone default-id build that crashed mid-write leaves partial
    // rows under BuildId with no marker — precisely the orphan the fold
    // exists to exclude — and pre-committing BuildId here would
    // legitimize those partial rows as committed data. So every
    // compaction run folds under a FRESH reserved id that nothing else
    // ever writes, committed up front: the marker can only ever describe
    // this fold's own complete output (if the fold itself crashes, the
    // id's partition never reaches a live table — the staged table is
    // dropped on the next attempt — so the tombstone marker is inert).
    // Committing BEFORE the swaps means a crash between two tables'
    // swaps leaves the first table's folded partition already committed.
    val foldId = s"00000-fold-${java.util.UUID.randomUUID().toString.take(8)}"
    BatchLog.commit(s, log, foldId)
    val committed = BatchLog.committed(s, log)
    tables.foreach { case (t, cols) =>
      fold(s, t, committed, nBuckets, cols, foldId, deletes, protect) }
  }
}
