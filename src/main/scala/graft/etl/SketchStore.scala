package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextOps

/** Persisted, mergeable count-min sketch — corpus-wide token-frequency
  * monitoring as a SERVING artifact, the fifth persisted family beside
  * [[MinhashIndex]]/[[TextIndex]]/[[LshIndex]]/IVF. One table,
  * `<name>_cells(i, bucket, c)`, batch-partition-tagged and driven
  * through the committed [[BatchLog]] (replayed appends no-op, crashed
  * ones purge their partial partition and converge — the
  * [[MinhashIndex.append]] protocol verbatim).
  *
  * Why a sketch EARNS persistence: CMS is a LINEAR sketch — the grid of
  * two corpora is the cell-wise SUM of their grids — so per-batch
  * maintenance is "append the batch's own d×w grid" (one O(batch) pass,
  * no corpus read), a point estimate folds cells across batch
  * partitions at read time, and [[fold]] compacts any number of batches
  * back to one d×w grid without touching the corpus. Deletions ride the
  * same linearity with NEGATIVE cells ([[applyDeletes]]): under the
  * strict-turnstile model (only previously-added docs are ever removed)
  * every folded cell stays ≥ the true count it covers, so the
  * min-estimate never undercounts — the compliance path costs one pass
  * over the removed docs, not a corpus rebuild.
  *
  * At 100 TB: "how frequent is this token corpus-wide" answers from
  * O(d·w) state with zero corpus scans, while the exact answer is a
  * full-corpus aggregation per ask. The estimate's error is bounded
  * (overestimate ≤ e/w · N with prob 1 − e^−d); the declared
  * `ta_countmin_sketch` audit measures it against exact counts.
  */
object SketchStore {

  def cellsTable(name: String): String = s"${name}_cells"

  /** Full (re)build over `corpus` (must carry a text column): resets
    * the batch log, persists the grid geometry in [[IndexMeta]] BEFORE
    * any data lands (a crashed build can't leave an un-probeable
    * table), tags the rows `buildBatchId`, commits the marker last. */
  def build(s: SparkSession, corpus: DataFrame, name: String,
      depth: Int = 4, width: Int = 512,
      buildBatchId: String = BatchLog.BuildId): Unit = {
    MinhashIndex.dropTable(s, cellsTable(name))
    val log = BatchLog.logDir(s, name)
    BatchLog.reset(s, log)
    IndexMeta.write(s, name, Map(
      "depth" -> depth.toString, "width" -> width.toString,
      "n_buckets" -> NBuckets.toString))
    writeBatch(s, corpus, name, buildBatchId, append = false, sign = 1L)
    BatchLog.commit(s, log, buildBatchId)
  }

  /** Per-batch maintenance: append the batch's own grid. Exactly-once
    * behind the committed [[BatchLog]]. */
  def append(s: SparkSession, newDocs: DataFrame, name: String,
      batchId: String): Unit = {
    heal(s, name)
    BatchLog.runOnce(s, BatchLog.logDir(s, name), batchId) {
      MinhashIndex.dropBatchPartition(s, cellsTable(name), batchId)
    } {
      writeBatch(s, newDocs, name, batchId, append = true, sign = 1L)
    }
  }

  /** Deletion maintenance: append the removed docs' grid NEGATED (the
    * linear-sketch subtraction). `removedDocs` must be the pre-image
    * text of the deleted rows — counts aren't keyed by doc, so the
    * subtraction needs what was added, not just which ids left. The
    * batch id keys exactly-once the same way appends do. */
  def applyDeletes(s: SparkSession, removedDocs: DataFrame, name: String,
      batchId: String): Unit = {
    heal(s, name)
    BatchLog.runOnce(s, BatchLog.logDir(s, name), batchId) {
      MinhashIndex.dropBatchPartition(s, cellsTable(name), batchId)
    } {
      writeBatch(s, removedDocs, name, batchId, append = true, sign = -1L)
    }
  }

  /** Point estimates for `tokens` from the stored grid: fold cells
    * across batch partitions (the linear merge), then min over each
    * token's d coordinates. A token whose coordinate row is absent hit
    * only never-touched cells — its count there is 0, hence the left
    * join + coalesce, and the estimate floors at 0 even when pending
    * negative cells outweigh a collision. Cost: the grid is ≤
    * batches·d·w rows (d·w after [[fold]]) — never corpus-sized. */
  def estimate(s: SparkSession, name: String,
      tokens: Seq[String]): DataFrame = {
    import s.implicits._
    val meta = IndexMeta.read(s, name)
    val (d, w) = (meta("depth").toInt, meta("width").toInt)
    val grid = storedCells(s, name)
      .groupBy(col("i"), col("bucket")).agg(sum(col("c")).as("c"))
    tokens.toDF("token")
      .select(col("token"), TextOps.cmsProbes(col("token"), d, w).as("cell"))
      .select(col("token"), col("cell.i").as("i"), col("cell.bucket").as("bucket"))
      .join(grid, Seq("i", "bucket"), "left")
      .groupBy(col("token"))
      .agg(greatest(min(coalesce(col("c"), lit(0L))), lit(0L)).as("cm_estimate"))
      .orderBy(col("token"))
  }

  /** STANDING drift audit of the persisted grid against the live
    * corpus — the loop-closer for a long-lived sketch: appends and
    * turnstile deletes are individually exactly-once, but an operator
    * error (deletes applied for docs never added, a grid restored from
    * the wrong backup) silently breaks the strict-turnstile invariant
    * and the store keeps answering with confidence. One corpus scan
    * computes the exact counts of the `sampleTokens` most frequent
    * tokens; each is checked against the stored estimate both ways:
    *
    *  - `under_ok`: estimate ≥ exact. CMS NEVER undercounts while the
    *    turnstile is strict (every cell a token hashes to contains its
    *    full count), so a violation is a smoking gun for over-deletion
    *    or grid corruption — not noise.
    *  - `over_ok`: estimate ≤ exact + ⌈e/w · N⌉, the classic CMS bound
    *    at the grid's own width, with N taken from the grid itself
    *    (row-0 cell sum — exact under a strict turnstile, free to read).
    *    ADVISORY ONLY: the bound holds per token with probability
    *    1−e^−d (~98% at d=4), and hash collisions are deterministic
    *    for a given corpus — a healthy grid whose sampled token
    *    collides will exceed the ceiling on EVERY sweep. Callers must
    *    never auto-heal on `over_ok` alone (a rebuild reproduces the
    *    identical grid and flaps forever); only `under_ok` is a
    *    rebuild trigger.
    *
    * Cost class: the exact-count side is one corpus pass (the same
    * class as the vacuumed-window rebuild) — this is the periodic
    * reconcile sweep, not a per-batch leg. All outputs are integers.
    * Returns one row per sampled token:
    * `(token, exact_count, cm_estimate, bound, under_ok, over_ok)`. */
  def audit(s: SparkSession, corpus: DataFrame, name: String,
      sampleTokens: Int = 16): DataFrame = {
    require(sampleTokens > 0, s"need a positive sample, got $sampleTokens")
    val meta = IndexMeta.read(s, name)
    val (d, w) = (meta("depth").toInt, meta("width").toInt)
    // the grid folds to ≤ d·w rows — cheap enough to evaluate twice
    // (once for N, once for the probe join) without pinning blocks
    val grid = storedCells(s, name)
      .groupBy(col("i"), col("bucket")).agg(sum(col("c")).as("c"))
    val n = grid.filter(col("i") === 0).agg(coalesce(sum(col("c")), lit(0L)))
      .head.getLong(0)
    val bound = math.ceil(math.E / w * n).toLong
    val exact = corpus
      .select(explode(graft.operators.DedupOps.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("exact_count"))
      .orderBy(col("exact_count").desc, col("token").asc).limit(sampleTokens)
    exact
      .select(col("token"), col("exact_count"),
        TextOps.cmsProbes(col("token"), d, w).as("cell"))
      .select(col("token"), col("exact_count"),
        col("cell.i").as("i"), col("cell.bucket").as("bucket"))
      .join(broadcast(grid), Seq("i", "bucket"), "left")
      .groupBy(col("token"), col("exact_count"))
      .agg(greatest(min(coalesce(col("c"), lit(0L))), lit(0L)).as("cm_estimate"))
      .select(col("token"), col("exact_count"), col("cm_estimate"),
        lit(bound).as("bound"),
        when(col("cm_estimate") >= col("exact_count"), 1L).otherwise(0L)
          .as("under_ok"),
        when(col("cm_estimate") <= col("exact_count") + bound, 1L).otherwise(0L)
          .as("over_ok"))
      .orderBy(col("exact_count").desc, col("token").asc)
  }

  /** Compact every batch partition (and any pending negative cells)
    * back to ONE d×w grid under the build id, through [[Swap.table]]
    * with the `__new` stage. The batch log is deliberately NOT reset:
    * the committed markers are what keeps a replayed streaming-batch
    * append a no-op AFTER its rows were folded away from their original
    * partition — resetting would let the replay double-count. */
  def fold(s: SparkSession, name: String): Unit = {
    val t = cellsTable(name)
    Swap.table(s, stageTable(t), t) {
      val folded = storedCells(s, name)
        .groupBy(col("i"), col("bucket")).agg(sum(col("c")).as("c"))
        .filter(col("c") =!= 0L)
      MinhashIndex.writeBucketed(folded, stageTable(t), NBuckets,
        append = false, BatchLog.BuildId, "bucket")
    }
  }

  private def stageTable(t: String) = s"${t}__new"

  def exists(s: SparkSession, name: String): Boolean =
    s.catalog.tableExists(cellsTable(name)) ||
      s.catalog.tableExists(stageTable(cellsTable(name)))

  /** Finish an interrupted [[fold]] swap before any read or append
    * touches the table — an append against the missing name would
    * otherwise re-create it EMPTY and orphan the folded history. */
  private def heal(s: SparkSession, name: String): Unit = {
    val t = cellsTable(name)
    Swap.healTable(s, stageTable(t), t)
  }

  /** The cells frame, healing an interrupted [[fold]] swap first. */
  private def storedCells(s: SparkSession, name: String): DataFrame = {
    heal(s, name)
    MinhashIndex.stored(s, cellsTable(name))
  }

  /** Cells are ≤ d·w per batch — file parallelism, not data pressure. */
  private val NBuckets = 4

  private def writeBatch(s: SparkSession, docs: DataFrame, name: String,
      batchId: String, append: Boolean, sign: Long): Unit = {
    val meta = IndexMeta.read(s, name)
    val cells = TextOps
      .cmsCells(docs, meta("depth").toInt, meta("width").toInt)
      .select(col("i"), col("bucket"), (col("c") * sign).as("c"))
    MinhashIndex.writeBucketed(cells, cellsTable(name),
      meta("n_buckets").toInt, append, batchId, "bucket")
  }
}
