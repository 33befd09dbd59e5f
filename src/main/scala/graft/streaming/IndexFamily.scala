package graft.streaming

import graft.etl.{BatchLog, LshIndex, ManifestTable, MinhashIndex, SketchStore, TextIndex}
import graft.etl.IndexCompaction.{DeleteSet, Remove, Retain}
import graft.etl.IndexDeleteSync.SyncSet
import graft.operators.{IvfIndex, SimilarityOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One serving artifact [[ContinuousIngest]] keeps fresh. The stream
  * calls two things on each family [[IndexFamily.enabled]] lists, in
  * that order: [[ingest]] per accepted batch (build on the first
  * non-empty batch, under the batch's own id so a replay finds it
  * committed; append after), and [[maintain]] per maintenance run with
  * the deletion-sync set (None when the corpus has no pending change).
  * Each family appends exactly-once behind its own committed
  * [[BatchLog]], so the legs form no transaction and need none: any
  * crash point replays to convergence leg by leg. */
private[graft] trait IndexFamily {

  /** Printed by `ingestBatch` after this family's leg. The benchmark's
    * tracer maps the text to a leg, so it is part of the log format. */
  def stamp: String

  /** Heals what the family can heal, then answers whether a servable
    * artifact exists: a swap window must never read as "absent", or the
    * batch would rebuild the index from itself alone. */
  def exists(s: SparkSession): Boolean

  /** The frame this family indexes, from accepted (or CDC current) doc
    * rows. */
  def rows(s: SparkSession, docs: DataFrame): DataFrame = docs

  def build(s: SparkSession, rows: DataFrame, batchId: String): Unit

  def append(s: SparkSession, rows: DataFrame, batchId: String): Unit

  def ingest(s: SparkSession, accept: DataFrame, batchId: String): Unit = {
    val r = rows(s, accept)
    if (exists(s)) append(s, r, batchId) else build(s, r, batchId)
  }

  def maintain(s: SparkSession, sync: Option[SyncSet]): Unit
}

/** The id-keyed families share one maintenance step: purge deletes and
  * stale generations during the fold, then re-append the current rows
  * under `reidx-v<N>`.
  *
  * Without the reindex an updated doc keeps BOTH generations' rows
  * under one id. The stale set is the CDC insert∪update candidates
  * (insert rows too: an insert and an update inside one window net-diff
  * to a single insert) intersected with the family's OWN [[witness]]:
  * a shared witness would read "healthy" once the first family's
  * re-append committed and strand the others after a crash. The
  * re-append is exactly-once behind the family's batch log, and the
  * fold PROTECTS its partition from the Remove set, so a crash before,
  * inside or after the re-append (before the bookmark advances)
  * replays to convergence.
  *
  * Text-derived families reindex from the CDC rows' text. The
  * embedding-carried ones (doc LSH, IVF) join only when the corpus rows
  * carry the embedding column; otherwise an external encoder feeds
  * them, and their vector staleness is that seam's to close. */
private[graft] abstract class KeyedFamily extends IndexFamily {

  /** The candidate ids whose committed state is not exactly one
    * generation ([[MinhashIndex.staleGenerationIds]]). */
  def witness(s: SparkSession, candidateIds: DataFrame): DataFrame

  /** Whether the CDC rows carry what this family's rows derive from. */
  def reindexesFrom(candidates: DataFrame): Boolean = true

  /** The compaction: applies `deletes` during the rewrite, exempting the
    * `protect` partition from them. */
  def fold(s: SparkSession, deletes: Option[DeleteSet], protect: Option[String]): Unit

  /** Geometry growth, after the fold and the re-append. */
  def regrow(s: SparkSession): Unit = ()

  def maintain(s: SparkSession, sync: Option[SyncSet]): Unit = if (exists(s)) {
    // the stale set and the chunk translation are localCheckpoints
    val release = graft.core.Pins.since(s.sparkContext)
    try {
      val reidxId = sync.map(ss => s"reidx-v${ss.toVersion}")
      val stale = sync.flatMap(_.reindex).filter(reindexesFrom).flatMap { cand =>
        val st = cand.join(witness(s, cand.select(col("doc_id"))),
          Seq("doc_id"), "left_semi").localCheckpoint()
        if (st.isEmpty) None else Some(st)
      }
      val deletes = (sync.flatMap(_.deletes), stale) match {
        case (d, None) => d
        case (Some(Remove(ids)), Some(u)) => Some(Remove(
          ids.toDF("doc_id").unionByName(u.select(col("doc_id"))).distinct()))
        case (None, Some(u)) => Some(Remove(u.select(col("doc_id")).distinct()))
        case (retain, Some(_)) => retain // unreachable: reconcile carries no diff
      }
      fold(s, deletes, stale.flatMap(_ => reidxId))
      stale.foreach(u => append(s, rows(s, u), reidxId.get))
      regrow(s)
    } finally release()
  }
}

private[graft] object IndexFamily {

  /** The families `cfg` enables, in ingest leg order. */
  def enabled(cfg: ContinuousIngest.Config): Seq[IndexFamily] = Seq(
    Some(new Minhash(cfg)),
    cfg.textIndexName.map(new Bm25(_, cfg)),
    cfg.annIndexName.map(new DocLsh(_, cfg)),
    cfg.ivfIndexPath.map(new Ivf(_, cfg)),
    cfg.chunkIndexName.map(new ChunkLsh(_, cfg)),
    cfg.sketchName.map(new Sketch(_, cfg))).flatten

  /** `(vec_id, embedding)`: the doc-level vector families' frame. */
  private def vectors(docs: DataFrame, cfg: ContinuousIngest.Config) =
    docs.select(col("doc_id").as("vec_id"), col(cfg.embeddingCol).as("embedding"))

  private final class Minhash(cfg: ContinuousIngest.Config) extends KeyedFamily {
    private val name = cfg.indexName
    val stamp = "minhash indexed"
    def exists(s: SparkSession): Boolean = s.catalog.tableExists(s"${name}_banded")
    override def ingest(s: SparkSession, accept: DataFrame, batchId: String): Unit =
      if (!BatchLog.isCommitted(s, BatchLog.logDir(s, name), batchId))
        super.ingest(s, accept, batchId)
    // exactCandidates opts the cold build into the probe-pruned side
    // table; appends and probes read the choice from IndexMeta thereafter
    def build(s: SparkSession, rows: DataFrame, batchId: String): Unit =
      MinhashIndex.build(s, rows, name, buildBatchId = batchId,
        exactProbe = cfg.exactCandidates)
    def append(s: SparkSession, rows: DataFrame, batchId: String): Unit =
      MinhashIndex.append(s, rows, name, batchId)
    def witness(s: SparkSession, ids: DataFrame): DataFrame =
      MinhashIndex.staleGenerationIds(s, name, ids, s"${name}_sizes")
    def fold(s: SparkSession, deletes: Option[DeleteSet], protect: Option[String]): Unit =
      MinhashIndex.compact(s, name, deletes, cfg.storageRowsPerBucket, protect)
  }

  private final class Bm25(name: String, cfg: ContinuousIngest.Config)
      extends KeyedFamily {
    val stamp = "bm25 indexed"
    def exists(s: SparkSession): Boolean = s.catalog.tableExists(s"${name}_postings")
    def build(s: SparkSession, rows: DataFrame, batchId: String): Unit =
      TextIndex.build(s, rows, name, buildBatchId = batchId)
    def append(s: SparkSession, rows: DataFrame, batchId: String): Unit =
      TextIndex.append(s, rows, name, batchId)
    def witness(s: SparkSession, ids: DataFrame): DataFrame =
      MinhashIndex.staleGenerationIds(s, name, ids, s"${name}_doclens")
    def fold(s: SparkSession, deletes: Option[DeleteSet], protect: Option[String]): Unit =
      TextIndex.compact(s, name, deletes, cfg.storageRowsPerBucket, protect)
  }

  /** The two LSH ANN families. [[LshIndex.exists]] heals, and after a
    * geometry regrowth the generation-0 buckets table is gone, so a
    * fixed-name check would trigger a rebuild. */
  private abstract class Lsh(name: String, dims: Int, cfg: ContinuousIngest.Config)
      extends KeyedFamily {
    def exists(s: SparkSession): Boolean = LshIndex.exists(s, name)
    def build(s: SparkSession, rows: DataFrame, batchId: String): Unit =
      LshIndex.build(s, rows, name, dims = dims, buildBatchId = batchId)
    def append(s: SparkSession, rows: DataFrame, batchId: String): Unit =
      LshIndex.append(s, rows, name, batchId)
    def fold(s: SparkSession, deletes: Option[DeleteSet], protect: Option[String]): Unit =
      LshIndex.compact(s, name, deletes, cfg.storageRowsPerBucket, protect)
    // after the fold: fewer files to read for the vector count
    override def regrow(s: SparkSession): Unit =
      if (cfg.annTargetOccupancy > 0) LshIndex.regrow(s, name, cfg.annTargetOccupancy)
  }

  private final class DocLsh(name: String, cfg: ContinuousIngest.Config)
      extends Lsh(name, cfg.annDims, cfg) {
    val stamp = "ann indexed"
    override def rows(s: SparkSession, docs: DataFrame): DataFrame = vectors(docs, cfg)
    override def reindexesFrom(cand: DataFrame): Boolean =
      cand.columns.contains(cfg.embeddingCol)
    def witness(s: SparkSession, ids: DataFrame): DataFrame =
      MinhashIndex.staleGenerationIds(s, name, ids, s"${name}_vectors", col("vec_id"))
  }

  /** Chunk rows under composite (doc, chunk) ids; text-derived, so it
    * reindexes whenever the text families do. */
  private final class ChunkLsh(name: String, cfg: ContinuousIngest.Config)
      extends Lsh(name, cfg.chunkDims, cfg) {
    private val span = SimilarityOps.ChunkIdSpan
    val stamp = "chunks indexed"
    override def rows(s: SparkSession, docs: DataFrame): DataFrame =
      SimilarityOps.chunkIndexFrame(s, docs, cfg.chunkDims)
    // one chunk-0 row per generation: variable chunk counts (and folds
    // that collapse batch partitions) can't pass for extra generations
    def witness(s: SparkSession, ids: DataFrame): DataFrame =
      MinhashIndex.staleGenerationIds(s, name, ids, s"${name}_vectors",
        expr(s"vec_id div $span"), expr(s"vec_id % $span = 0"))
    // the delete feed is doc-level: purge EVERY stored chunk of a listed
    // doc (chunk boundaries move with the text). localCheckpoint is
    // load-bearing: the buckets fold would otherwise re-derive the set
    // from the already-purged vectors, an empty remove set
    override def fold(s: SparkSession, deletes: Option[DeleteSet],
        protect: Option[String]): Unit = {
      def chunkIdsOf(docIds: DataFrame) = s.table(s"${name}_vectors").select(col("vec_id"))
        .join(docIds.toDF("d"), expr(s"vec_id div $span") === col("d"), "left_semi")
        .localCheckpoint()
      super.fold(s, deletes.map {
        case Remove(ids) => Remove(chunkIdsOf(ids))
        case Retain(ids) => Retain(chunkIdsOf(ids))
      }, protect)
    }
  }

  /** The persisted IVF index (directory layout). Purge-then-append needs
    * no protect partition: the staged-rename fold is atomic, and a
    * replay after the re-append committed sees a healthy witness. */
  private final class Ivf(path: String, cfg: ContinuousIngest.Config) extends KeyedFamily {
    val stamp = "ivf indexed"
    def exists(s: SparkSession): Boolean = IvfIndex.existsDir(s, path)
    override def rows(s: SparkSession, docs: DataFrame): DataFrame = vectors(docs, cfg)
    override def reindexesFrom(cand: DataFrame): Boolean =
      cand.columns.contains(cfg.embeddingCol)
    def build(s: SparkSession, rows: DataFrame, batchId: String): Unit =
      IvfIndex.buildIndexDir(s, rows, path, k = IvfIndex.autoK(rows.count()),
        buildBatchId = batchId)
    def append(s: SparkSession, rows: DataFrame, batchId: String): Unit =
      IvfIndex.appendIndexDir(s, rows, path, batchId)
    def witness(s: SparkSession, ids: DataFrame): DataFrame =
      IvfIndex.staleGenerationIdsDir(s, path, ids)
    // ONE rewrite either way: a triggered retrain is itself the fold and
    // applies the deletes; otherwise the fold runs only to purge
    def fold(s: SparkSession, deletes: Option[DeleteSet], protect: Option[String]): Unit =
      if (!IvfIndex.retrainIndexDir(s, path, deletes = deletes) && deletes.isDefined)
        IvfIndex.compactIndexDir(s, path, deletes)
  }

  /** The corpus-wide count-min sketch. It is LINEAR and keyed by no id:
    * maintenance subtracts content, folds, and audits. */
  private final class Sketch(name: String, cfg: ContinuousIngest.Config)
      extends IndexFamily {
    val stamp = "sketch appended"
    def exists(s: SparkSession): Boolean = SketchStore.exists(s, name)
    def build(s: SparkSession, rows: DataFrame, batchId: String): Unit =
      SketchStore.build(s, rows, name, depth = cfg.sketchDepth,
        width = cfg.sketchWidth, buildBatchId = batchId)
    def append(s: SparkSession, rows: DataFrame, batchId: String): Unit =
      SketchStore.append(s, rows, name, batchId)
    private def rebuild(s: SparkSession, corpus: DataFrame): Unit =
      SketchStore.build(s, corpus, name, depth = cfg.sketchDepth, width = cfg.sketchWidth)

    def maintain(s: SparkSession, sync: Option[SyncSet]): Unit = if (exists(s)) {
      sync.foreach { ss =>
        ss.deletes match {
          // diff window vacuumed: pre-image text unknowable
          case Some(Retain(_)) => rebuild(s, ManifestTable.read(s, cfg.corpusPath))
          case _ =>
            // subtract the pre-image text of DELETED and CHANGED docs, read
            // from the bookmarked snapshot. That is the whole update story:
            // the ingest leg already added the new generation, and ids only
            // inserted are absent from the pre-image. A generation superseded
            // WITHIN one window stays counted until a rebuild; estimates stay
            // upper bounds. The version-derived id keys exactly-once.
            val delIds = ss.deletes.map(_.ids.toDF("g_id"))
            val candIds = ss.reindex.map(_.select(col("doc_id").as("g_id")))
            val gone = (delIds, candIds) match {
              case (Some(d), Some(u)) => Some(d.unionByName(u).distinct())
              case (d, u) => d.orElse(u)
            }
            gone.foreach { ids =>
              val pre = ManifestTable.readAt(s, cfg.corpusPath, ss.report.fromVersion)
                .join(ids, col("doc_id") === col("g_id"), "left_semi")
              SketchStore.applyDeletes(s, pre, name, s"del-v${ss.toVersion}")
            }
        }
      }
      // any number of batch partitions and negative cells back to one grid
      SketchStore.fold(s, name)
      if (cfg.sketchAuditTokens > 0 && ManifestTable.versions(s, cfg.corpusPath).nonEmpty)
        audit(s)
    }

    /** The reconcile sweep: exact-count the corpus's top tokens (one
      * scan) and check the folded grid both ways. Only the turnstile
      * floor (estimate ≥ exact) triggers a rebuild: under a strict
      * turnstile a violation PROVES over-deletion or corruption. The e/w
      * ceiling is advisory: collisions are deterministic for a given
      * corpus, so a healthy grid can exceed it on every sweep, and a
      * rebuild would reproduce the same grid forever. Never throws. */
    private def audit(s: SparkSession): Unit = {
      val corpus = ManifestTable.read(s, cfg.corpusPath)
      val report = SketchStore.audit(s, corpus, name, cfg.sketchAuditTokens)
        .select(col("under_ok"), col("over_ok"))
        .collect() // ≤ sketchAuditTokens rows by construction
      val floorBad = report.count(_.getLong(0) == 0L)
      val ceilBad = report.count(_.getLong(1) == 0L)
      if (ceilBad > 0)
        println(s"[ingest] sketch $name: $ceilBad sampled tokens over " +
          "the e/w ceiling (expected for collided tokens; advisory)")
      if (floorBad > 0) {
        println(s"[ingest] sketch $name FAILED reconcile audit " +
          s"($floorBad sampled tokens under the turnstile floor — " +
          "over-deletion or corruption) — rebuilding from corpus")
        rebuild(s, corpus)
      }
    }
  }
}
