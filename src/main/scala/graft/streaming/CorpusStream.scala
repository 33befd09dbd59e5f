package graft.streaming

import graft.operators.{CorpusPipeline, CorpusPrepOps, DedupOps, TextOps}
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Streaming corpus curation — the lambda-architecture split of
  * [[graft.operators.CorpusPipeline]] for continuously-arriving documents:
  *
  *  - per-row stages run in every micro-batch with NO state: quality
  *    flags, repetition flags (the aggregation-free forms in
  *    [[CorpusPrepOps]] — same values as the batch groupBy forms,
  *    spec-checked), and the PII scrub;
  *  - exact dedup is the one STATEFUL stage: first-seen-wins on the
  *    content fingerprint via the [[StreamingIngest.dedupStream]] state
  *    store — the only semantic difference from batch curation, which
  *    keeps the minimum doc_id. Same-FINGERPRINT copies (byte-identical
  *    or differing only in case/whitespace) share every per-row flag
  *    because all flags are computed over [[CorpusPipeline.normText]] —
  *    the text the fingerprint hashes — so the surviving fingerprint SET
  *    is identical to batch (spec-checked, including a whitespace-variant
  *    copy);
  *  - the corpus-JOIN stages — benchmark decontamination and minhash
  *    near-dup — need a corpus-wide index and deliberately stay in the
  *    periodic batch compaction pass over the accumulated silver table
  *    ([[graft.operators.CorpusPipeline.curate]]).
  */
object CorpusStream {

  /** Stream-side SEMANTIC dedup over an embeddings stream (vec_id,
    * embedding) — the continuous twin of
    * [[graft.operators.SimilarityOps.semanticDedup]] (batch twin
    * `sim_semantic_dedup`, oracle-green). Per micro-batch, under
    * `foreachBatch`:
    *
    *  1. WITHIN-batch: the full LSH-candidates → cosine-verify →
    *     connected-components → min-id-keeper pipeline collapses the
    *     batch's own near-dup clusters;
    *  2. VS the kept set: surviving keepers probe the accumulated index
    *     with the same bucket-equi-join + cosine verify
    *     ([[graft.operators.SimilarityOps.semanticPairsAgainst]]) — a
    *     batch vector near a previously-KEPT vector is dropped
    *     (first-seen-wins, the streaming analog of min-id);
    *  3. survivors land in `keptDir/batch_id=N/` — overwrite by batch id,
    *     so a checkpoint replay of the same micro-batch is IDEMPOTENT
    *     (at-least-once delivery never duplicates the kept set). The
    *     kept dir is simultaneously the output and the probe index.
    *
    * Semantics note (inherent to any online dedup): a transitive chain
    * A~B~C where B arrives after A (dropped) and C is near only B keeps
    * C, while batch components collapse all three — first-seen keeper
    * sets match the batch twin exactly when near-dup clusters arrive
    * with their keeper first (CorpusStreamSpec plants exactly the
    * adversarial case that DOES match, and documents the chain case). */
  def semanticDedupStream(spark: org.apache.spark.sql.SparkSession,
      vecs: DataFrame, keptDir: String, checkpointDir: String,
      tau: Double = 0.4): org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        semanticDedupBatch(spark, batch, keptDir, batchId, tau)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  private[graft] def semanticDedupBatch(
      spark: org.apache.spark.sql.SparkSession, batch: DataFrame,
      keptDir: String, batchId: Long, tau: Double): Unit = {
    import graft.operators.SimilarityOps
    val root = new org.apache.hadoop.fs.Path(keptDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val withinKept = SimilarityOps.semanticDedup(spark, batch, tau)
      .filter(col("is_kept")).select(col("vec_id"))
    val keepers = batch.join(withinKept, "vec_id")
    val survivors =
      if (fs.exists(root) && fs.listStatus(root).nonEmpty) {
        // a checkpoint replay of batch N must not probe its OWN pre-crash
        // batch_id=N write — every replayed vector is cosine-1 near itself
        // and the whole batch would silently vanish
        val idx = spark.read.parquet(keptDir)
          .filter(col("batch_id") =!= batchId)
        val dupOfKept = SimilarityOps
          .semanticPairsAgainst(spark, keepers, idx, tau)
          .select(col("id_new").as("vec_id")).distinct()
        keepers.join(dupOfKept, Seq("vec_id"), "left_anti")
      } else keepers
    survivors.write.mode("overwrite")
      .parquet(s"$keptDir/batch_id=$batchId")
  }

  /** Stream-side LEXICAL near-dup dedup over a documents stream — the
    * MinHash sibling of [[semanticDedupStream]] (batch twin:
    * `dd_minhash_lsh` + components keeper, both oracle-green). Per
    * micro-batch: (1) within-batch transitive clusters collapse to their
    * min-id keeper ([[graft.operators.DedupOps.minhashComponents]]);
    * (2) survivors probe the accumulated kept set frame-vs-frame
    * ([[graft.operators.DedupOps.minhashPairsAgainst]] — banded bucket
    * equi-join + exact-Jaccard verify, never all-pairs); (3) survivors
    * land in `keptDir/batch_id=N` (overwrite by batch id + own-batch
    * exclusion in the probe = idempotent replay, same protocol as the
    * semantic twin). At index-worthy corpus sizes use
    * [[minhashDedupStreamIndexed]]: same decisions (spec-asserted), with
    * step (2) served from the persisted [[graft.etl.MinhashIndex]] the
    * stream itself maintains, instead of re-shingling the kept set. */
  def minhashDedupStream(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, keptDir: String, checkpointDir: String,
      threshold: Double = 0.5): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        minhashDedupBatch(spark, batch, keptDir, batchId, threshold)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  private[graft] def minhashDedupBatch(
      spark: org.apache.spark.sql.SparkSession, batch: DataFrame,
      keptDir: String, batchId: Long, threshold: Double): Unit = {
    val root = new org.apache.hadoop.fs.Path(keptDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // docs in no pair are absent from the components frame — they keep
    // themselves; only non-minimum cluster members are dropped
    val losers = DedupOps.minhashComponents(spark, batch, threshold)
      .filter(col("component") =!= col("doc_id"))
      .select(col("doc_id"))
    val keepers = batch.join(losers, Seq("doc_id"), "left_anti")
    val survivors =
      if (fs.exists(root) && fs.listStatus(root).nonEmpty) {
        val kept = spark.read.parquet(keptDir)
          .filter(col("batch_id") =!= batchId) // replay: never probe own write
        val dupOfKept = DedupOps
          .minhashPairsAgainst(spark, keepers, kept, threshold)
          .select(col("doc_new").as("doc_id")).distinct()
        keepers.join(dupOfKept, Seq("doc_id"), "left_anti")
      } else keepers
    survivors.write.mode("overwrite")
      .parquet(s"$keptDir/batch_id=$batchId")
  }

  /** [[minhashDedupStream]] with the kept-set probe served from the
    * PERSISTED band index ([[graft.etl.MinhashIndex]]) instead of
    * re-deriving signatures from every kept document each micro-batch —
    * the form that holds at index-worthy corpus sizes, where the kept
    * set is years of accepted documents and re-shingling it per batch is
    * the dominant cost. Per micro-batch:
    *
    *  1. within-batch transitive collapse (identical to the recompute
    *     form);
    *  2. survivors probe the index — a (band, bucket) equi-join reading
    *     the corpus tables in place (MinhashIndexSpec asserts the plan);
    *     self-id pairs are filtered so a checkpoint REPLAY of a batch
    *     whose survivors were already appended still selects the same
    *     survivors (a doc is trivially jaccard-1 with its indexed self);
    *  3. survivors land in `keptDir/batch_id=N` (overwrite = idempotent)
    *     and enter the index through [[graft.etl.MinhashIndex.append]]'s
    *     committed [[graft.etl.BatchLog]]: a replayed batch is a no-op,
    *     and a crash strictly inside the append window (after some index
    *     writes, before the log commit) purges its partial
    *     batch-partition rows and converges on retry — every crash
    *     point replays to the same final state (spec-injected). */
  def minhashDedupStreamIndexed(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, keptDir: String, checkpointDir: String,
      idxName: String, threshold: Double = 0.5)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        minhashDedupBatchIndexed(spark, batch, keptDir, idxName, batchId, threshold)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  private[graft] def minhashDedupBatchIndexed(
      spark: org.apache.spark.sql.SparkSession, batch: DataFrame,
      keptDir: String, idxName: String, batchId: Long,
      threshold: Double): Unit = {
    import graft.etl.{BatchLog, MinhashIndex}
    val losers = DedupOps.minhashComponents(spark, batch, threshold)
      .filter(col("component") =!= col("doc_id"))
      .select(col("doc_id"))
    val keepers = batch.join(losers, Seq("doc_id"), "left_anti")
    val haveIndex = MinhashIndex.exists(spark, idxName)
    val survivors =
      if (haveIndex) {
        val dupOfKept = MinhashIndex
          .incrementalPairs(spark, keepers, idxName, threshold)
          .filter(col("doc_old") =!= col("doc_new")) // replay: self-pairs
          .select(col("doc_new").as("doc_id")).distinct()
        keepers.join(dupOfKept, Seq("doc_id"), "left_anti")
      } else keepers
    survivors.write.mode("overwrite")
      .parquet(s"$keptDir/batch_id=$batchId")
    // index maintenance rides MinhashIndex's committed batch log: a
    // replayed micro-batch is a no-op, a crashed append purges its
    // partial partition on retry. The first batch BUILDS the index under
    // its own batch id, so a replay straddling the build is also a no-op
    // (and a crash mid-build converges through the append's purge arm —
    // for the first batch, build content == append content).
    val bid = s"b$batchId"
    if (!BatchLog.isCommitted(spark, BatchLog.logDir(spark, idxName), bid)) {
      // re-read the COMMITTED survivors so the indexed rows are exactly
      // what readers of the kept set see
      val accepted = spark.read.parquet(s"$keptDir/batch_id=$batchId")
      if (haveIndex) MinhashIndex.append(spark, accepted, idxName, bid)
      else MinhashIndex.build(spark, accepted, idxName, buildBatchId = bid)
    }
  }

  /** Apply the stateless stages + stateful exact dedup to a streaming
    * documents frame (same schema as the `documents` table). Output is
    * append-mode safe. */
  def curateStream(docs: DataFrame,
      t: CorpusPipeline.Thresholds = CorpusPipeline.Thresholds()): DataFrame = {
    val norm = CorpusPipeline.normText(col("text"))
    val nTokens = size(col("__toks")).cast(LongType)
    val nPunct = length(regexp_replace(col("__norm"), "[a-z0-9 ]", ""))
    val flagged = docs
      .withColumn("__norm", norm)
      .withColumn("__toks", DedupOps.tokens(col("text")))
      .withColumn("__grams", CorpusPrepOps.gramsOf(col("__toks")))
      .withColumn("__q_ok",
        nTokens >= t.minTokens &&
          (nPunct / length(col("__norm"))) <= t.maxPunctRatio)
      .withColumn("__rep_ok", coalesce(
        CorpusPrepOps.dupTokenFrac(col("__toks")) <= t.maxDupTokenFrac &&
          CorpusPrepOps.top2gramFrac(col("__grams")) <= t.maxTop2gramFrac,
        lit(false)))
      .filter(col("__q_ok") && col("__rep_ok"))
      // fingerprint the ORIGINAL (normalized) text (matching batch), scrub after
      .withColumn("__fp", md5(col("__norm")))
      .withColumn("text", TextOps.scrubPii(col("text")))
    val recSchema = org.apache.spark.sql.types.StructType(
      docs.schema.fields)
    implicit val rowEnc = Encoders.row(recSchema)
    implicit val pairEnc = Encoders.tuple(Encoders.STRING, rowEnc)
    val keyed = flagged
      .select(col("__fp"),
        struct(docs.columns.map(col): _*).as("rec"))
      .as[(String, Row)](pairEnc)
      .groupByKey(_._1)(Encoders.STRING)
      .mapValues(_._2)(rowEnc)
    StreamingIngest.dedupStream(keyed)(Encoders.STRING, rowEnc, pairEnc)
      .toDF("fp", "rec")
      .select(col("rec.*"))
  }
}
