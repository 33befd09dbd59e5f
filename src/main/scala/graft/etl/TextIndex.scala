package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.operators.{DedupOps, TextOps}

/** Persisted inverted text index — the search-serving artifact for BM25
  * retrieval, so per-query probes never re-tokenize the corpus (the same
  * offline-index/online-probe split [[MinhashIndex]] gives near-dup
  * checks and [[LshIndex]] gives ANN). Three tables:
  *
  *  - `<name>_postings(token, doc_id, tf)` bucketed by token — the
  *    inverted index. A query's terms prune to their buckets; the scan
  *    reaches both the document-frequency aggregate and the scoring
  *    join with ZERO exchange on the corpus side (token bucketing IS
  *    hash distribution by token, so the `groupBy(token)` needs no
  *    shuffle; TextIndexSpec asserts the executed plan).
  *  - `<name>_doclens(doc_id, dl)` bucketed by doc_id — BM25 length
  *    normalization. One row per corpus doc is NOT driver-small at
  *    100 TB, so it joins (candidate side shuffles to the bucketing;
  *    the corpus side is read in place), never broadcasts.
  *  - `<name>_stats(n_docs, avgdl)` — one row, computed with the exact
  *    arithmetic the recompute path uses (integer token sum, one double
  *    division) so served scores are bit-identical to recomputed ones.
  *    Refreshed through [[Swap.table]]; [[search]] heals an
  *    interrupted refresh.
  *
  * At 100 TB: probe cost is O(matching postings), not O(corpus) — the
  * index read is pruned to the query's terms by pushed filters and
  * bucket pruning, and nothing corpus-sized ever shuffles. Maintenance
  * is [[append]], exactly-once by construction: postings and doc-length
  * rows are batch-partition-tagged and driven through the committed
  * [[BatchLog]] — a replayed append is a no-op, a crashed one purges its
  * partial partition and converges on retry ([[MinhashIndex.append]]'s
  * protocol verbatim).
  */
object TextIndex {

  final case class Tables(postings: String, doclens: String, stats: String)

  def tables(name: String): Tables =
    Tables(s"${name}_postings", s"${name}_doclens", s"${name}_stats")

  private def termFrequencies(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), explode(DedupOps.tokens(col("text"))).as("token"))
    .groupBy(col("doc_id"), col("token"))
    .agg(count(lit(1)).as("tf"))

  /** Full rebuild over `corpus` (must carry doc_id, text). Resets the
    * batch log, persists `n_buckets` in [[IndexMeta]] before any data
    * lands, tags the initial rows `buildBatchId`, commits the log
    * marker last — same crash-convergence story as
    * [[MinhashIndex.build]]. */
  def build(s: SparkSession, corpus: DataFrame, name: String,
      nBuckets: Int = 32,
      buildBatchId: String = BatchLog.BuildId): Tables = {
    val t = tables(name)
    Seq(t.postings, t.doclens, t.stats).foreach(MinhashIndex.dropTable(s, _))
    val log = BatchLog.logDir(s, name)
    BatchLog.reset(s, log)
    IndexMeta.write(s, name, Map("n_buckets" -> nBuckets.toString))
    writeBatch(s, termFrequencies(corpus), t, nBuckets,
      append = false, buildBatchId)
    refreshStats(s, t)
    BatchLog.commit(s, log, buildBatchId)
    t
  }

  /** Incremental refresh: index `newDocs` without touching the existing
    * postings — the per-batch maintenance job. Postings and doc lengths
    * append with the same bucket spec, so readers keep the bucketed
    * distribution and probes stay corpus-exchange-free; the stats row is
    * recomputed from the doclens table (one scan of a doc-count-sized
    * frame, exact arithmetic — NEVER folded incrementally, which would
    * change the division's operands and break bit-parity with the
    * recompute path). Exactly-once is enforced by the committed
    * [[BatchLog]]: a replay is a no-op, a crashed attempt purges its
    * batch partitions and converges on retry, and the marker commits
    * only after the appends AND the stats refresh landed. */
  def append(s: SparkSession, newDocs: DataFrame, name: String,
      batchId: String): Unit = {
    val t = tables(name)
    BatchLog.runOnce(s, BatchLog.logDir(s, name), batchId) {
      Seq(t.postings, t.doclens)
        .foreach(MinhashIndex.dropBatchPartition(s, _, batchId))
    } {
      val nBuckets = IndexMeta.read(s, name)("n_buckets").toInt
      writeBatch(s, termFrequencies(newDocs), t, nBuckets,
        append = true, batchId)
      refreshStats(s, t)
    }
  }

  /** Fold all committed batch partitions back to one file per bucket
    * ([[IndexCompaction]] swap protocol; stats is one row and never
    * needs it). Searches are row- and plan-identical afterwards.
    *
    * `deletes` purges doc ids during the same rewrite; the BM25 stats
    * row is then recomputed from the surviving doclens (doc count and
    * average length SHRINK — served scores must reflect the corpus that
    * remains, not the one that was). */
  def compact(s: SparkSession, name: String,
      deletes: Option[IndexCompaction.DeleteSet] = None,
      targetRowsPerBucket: Long = 0,
      protect: Option[String] = None): Unit = {
    val t = tables(name)
    IndexCompaction.compactFamily(s, name, Seq(
      t.postings -> Seq("token"),
      t.doclens -> Seq("doc_id")),
      deletes.map("doc_id" -> _), targetRowsPerBucket, protect)
    if (deletes.isDefined) refreshStats(s, t)
  }

  /** One batch's postings + doc lengths, batch-tagged and bucketed.
    * Both writes read ONE pinned evaluation of the term-frequency frame
    * ([[MinhashIndex.pin]]: checkpoint, not persist — a lost block fails
    * the job loudly instead of silently recomputing a non-deterministic
    * frame into diverging sibling tables) — without the previous
    * write-then-read-back round trip per batch. */
  private def writeBatch(s: SparkSession, tf0: DataFrame, t: Tables,
      nBuckets: Int, append: Boolean, batchId: String): Unit = {
    val (tf, release) = MinhashIndex.pin(tf0)
    try {
      MinhashIndex.writeBucketed(
        tf.select(col("token"), col("doc_id"), col("tf")),
        t.postings, nBuckets, append, batchId, "token")
      MinhashIndex.writeBucketed(
        tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")),
        t.doclens, nBuckets, append, batchId, "doc_id")
    } finally release()
  }

  /** EXACTLY the recompute path's arithmetic: integer sum, one division.
    * Derived from the STORED doclens so served scores match recomputed
    * ones bit-for-bit. */
  private def statsFrame(s: SparkSession, t: Tables): DataFrame =
    MinhashIndex.stored(s, t.doclens)
      .agg(
        (sum(col("dl")).cast(DoubleType) / count(lit(1))).as("avgdl"),
        count(lit(1)).as("n_docs"))

  /** Stats refresh through [[Swap.table]] with the `_stats__new`
    * stage, so no crash leaves a reader without a stats row. */
  private def refreshStats(s: SparkSession, t: Tables): Unit =
    Swap.table(s, statsStage(t), t.stats) {
      statsFrame(s, t).write.format("parquet").saveAsTable(statsStage(t))
    }

  private def statsStage(t: Tables) = s"${t.stats}__new"

  /** The stats row, healing an interrupted [[refreshStats]] swap; the
    * final fallback recomputes from doclens with the identical
    * expression, so a served score can never drift. */
  private def readStats(s: SparkSession, t: Tables): DataFrame = {
    Swap.healTable(s, statsStage(t), t.stats)
    if (s.catalog.tableExists(t.stats)) s.table(t.stats)
    else statsFrame(s, t)
  }

  /** BM25 top-k served from the index — value-identical to
    * [[TextOps.bm25]] recomputed over the corpus (TextIndexSpec asserts
    * row-for-row equality; the declared query's oracle replays the
    * recompute form). */
  def search(s: SparkSession, name: String, queryTerms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 10): DataFrame = {
    val t = tables(name)
    val post = MinhashIndex.stored(s, t.postings)
      .filter(col("token").isin(queryTerms: _*))
    val df = post.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val scored = post
      .join(broadcast(df), "token")
      .join(MinhashIndex.stored(s, t.doclens), "doc_id")
      .crossJoin(broadcast(readStats(s, t)))
      .select(col("doc_id"), col("token"),
        TextOps.bm25ScoreExpr(col("tf"), col("df"), col("dl"),
          col("n_docs"), col("avgdl"), k1, b).as("score"))
    TextOps.bm25Rank(scored, topK)
  }
}
