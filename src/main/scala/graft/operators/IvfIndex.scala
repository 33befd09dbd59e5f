package graft.operators

import graft.functions.CosineSimilarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** IVF (inverted-file) approximate nearest neighbor over an embedding
  * column — the 100 TB scale path beyond [[SimilarityOps]]' brute force.
  *
  * Classic IVF: a k-means coarse quantizer partitions vectors into k
  * lists; a query probes only its `nprobe` nearest lists and reranks
  * exactly within them, cutting the scanned fraction to ~nprobe/k.
  *
  * Everything is DataFrame-native and deterministic:
  *  - init: first k vectors by vec_id (stable, seedless);
  *  - Lloyd iterations: assignment is a broadcast join against k
  *    centroids (k is small — the fact side never shuffles), centroid
  *    recompute is posexplode + per-(cluster, dim) mean — both fully
  *    distributed, no collect of the vector set;
  *  - the index is just (cluster_id, vec_id, v) — at scale you'd write
  *    it partitioned BY cluster_id so a probe prunes to nprobe
  *    directories ([[graft.etl.LakeLayout]] pattern).
  */
object IvfIndex {

  private def asDouble(c: org.apache.spark.sql.Column) =
    c.cast(ArrayType(DoubleType))

  /** Train the coarse quantizer: k centroids after `iters` Lloyd rounds.
    * Returns (label-free) centroids as (cluster_id, centroid).
    *
    * `exactMean = false` (production) recomputes centroids with `avg` —
    * partial+final agg, constant memory per (cluster, dim) group, the
    * form to run at 100 TB. `exactMean = true` sums each group's values
    * left-to-right in vec_id order (same deterministic-fold policy as
    * `sim_label_centroid`): double addition is not associative, so only
    * the ordered fold is bit-reproducible across engines — required for
    * the DuckDB oracle replay, at the cost of collecting each (cluster,
    * dim) group into an array. Same pipeline, different mean primitive. */
  def trainCentroids(s: SparkSession, embeddings: DataFrame, k: Int = 8,
      iters: Int = 3, exactMean: Boolean = false): DataFrame = {
    import s.implicits._
    val vecs = embeddings.select($"vec_id", asDouble($"embedding").as("v"))
    // rank the window over vec_id ITSELF, not a cast of it: casting a
    // string id to int yields all-null, which would make the initial
    // centroid numbering an arbitrary tie-break — the init must stay
    // deterministic for any id type (the ingest leg feeds doc ids here)
    var centroids = vecs.orderBy($"vec_id").limit(k)
      .select($"vec_id", $"v".as("centroid"))
      .withColumn("cluster_id",
        (row_number().over(Window.orderBy($"vec_id")) - 1).cast(IntegerType))
      .select($"cluster_id", $"centroid")
    for (_ <- 1 to iters) {
      val assigned = assign(s, vecs, centroids)
      val perDim =
        if (exactMean)
          assigned
            .select($"cluster_id", $"vec_id", posexplode($"v").as(Seq("dim", "x")))
            .groupBy($"cluster_id", $"dim")
            .agg(array_sort(collect_list(struct($"vec_id", $"x"))).as("xs"),
              count(lit(1)).as("n"))
            .select($"cluster_id", $"dim",
              (aggregate($"xs", lit(0.0), (acc, e) => acc + e("x")) / $"n").as("cx"))
        else
          assigned
            .select($"cluster_id", posexplode($"v").as(Seq("dim", "x")))
            .groupBy($"cluster_id", $"dim")
            .agg(avg($"x").as("cx"))
      val next = perDim
        .groupBy($"cluster_id")
        .agg(array_sort(collect_list(struct($"dim", $"cx"))).as("cs"))
        .select($"cluster_id", transform($"cs", c => c("cx")).as("centroid"))
      // Lineage cut per round WITHOUT persistence: centroids are
      // broadcast-small by construction (assign() ships them to every
      // task), so collect + rebuild as a literal relation. The previous
      // localCheckpoint here leaked its persisted blocks for the rest of
      // the session (one per Lloyd round).
      val rows = next.collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq
      centroids = rows.toDF("cluster_id", "centroid")
    }
    centroids
  }

  /** Nearest-centroid assignment (broadcast join, no fact shuffle). */
  def assign(s: SparkSession, vecs: DataFrame, centroids: DataFrame): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"vec_id").orderBy($"sim".desc, $"cluster_id".asc)
    vecs.crossJoin(broadcast(centroids))
      .select($"vec_id", $"v", $"cluster_id",
        CosineSimilarity.cosineNative(s, $"v", $"centroid").as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"vec_id", $"v", $"cluster_id")
  }

  /** Build the inverted index: every vector tagged with its list. */
  /** List count following the standard IVF sizing nlist ≈ √n: per-list
    * occupancy and the centroid table both grow as √corpus, so an
    * nprobe-list probe stays O(nprobe·√n) — sub-linear — while the
    * coarse assignment's centroid side remains broadcastable (~1M
    * centroids at a trillion vectors). Floored at `minK` (training
    * stability on small corpora), capped at `maxK` (broadcast budget —
    * past it, shard the centroid table instead). A FIXED k makes every
    * probe linear in the corpus, the same silent scale killer
    * [[graft.etl.LshIndex.autoPlanes]] removes for the LSH family. */
  def autoK(corpusCount: Long, minK: Int = 8, maxK: Int = 65536): Int =
    math.min(maxK,
      math.max(minK, math.ceil(math.sqrt(math.max(0L, corpusCount).toDouble)).toInt))

  def buildIndex(s: SparkSession, embeddings: DataFrame, k: Int = 8,
      iters: Int = 3, exactMean: Boolean = false): (DataFrame, DataFrame) = {
    val centroids = trainCentroids(s, embeddings, k, iters, exactMean)
    import s.implicits._
    val vecs = embeddings.select($"vec_id", asDouble($"embedding").as("v"))
    (assign(s, vecs, centroids), centroids)
  }

  /** Persist the inverted lists partitioned by (batch, cluster) — the
    * on-disk layout that turns a probe into a partition-pruned scan: a
    * query touching `nprobe` of `k` lists reads the nprobe cluster
    * directories of each batch, not the index ([[graft.etl.LakeLayout]]
    * pattern, spec-proved via `selectedPartitions`). The batch level is
    * the maintenance handle: [[appendIndex]] purges/replays by batch
    * directory, driven by the committed [[graft.etl.BatchLog]] living
    * (underscore-hidden) inside the index dir. The overwrite clears any
    * previous log with the previous data; the build's own rows commit
    * under `buildBatchId` last. */
  def writeIndex(index: DataFrame, path: String,
      buildBatchId: String = graft.etl.BatchLog.BuildId): Unit = {
    val s = index.sparkSession
    index
      .withColumn("batch_id", lit(graft.etl.BatchLog.sanitize(buildBatchId)))
      .write.mode("overwrite")
      .partitionBy("batch_id", "cluster_id").parquet(path)
    graft.etl.BatchLog.commit(s, graft.etl.BatchLog.logDirAt(path), buildBatchId)
  }

  /** Persist the coarse quantizer WITH the lists it explains:
    * centroids land under `_centroids` inside the index dir
    * (underscore-prefixed, so the lists scan never sees them). Without
    * this, maintenance and serving must trust a caller-held centroid
    * frame to match the on-disk assignment — after a retrain that trust
    * is exactly what breaks (stale centroids assign appends to lists
    * that no longer exist, a silent recall hole). Persisted, the PATH
    * alone resolves the quantizer: [[appendIndexDir]],
    * [[searchIndexDirAuto]] and [[retrainIndexDir]] read it from disk. */
  def writeCentroids(centroids: DataFrame, path: String): Unit =
    centroids.coalesce(1) // k rows — one file
      .write.mode("overwrite").parquet(s"$path/_centroids")

  def readCentroids(s: SparkSession, path: String): DataFrame =
    s.read.parquet(s"$path/_centroids")

  /** Build, persist lists AND quantizer: the self-contained persisted
    * IVF entry. The whole build is staged and swapped in
    * ([[stageAndSwap]]), so a crashed build never leaves a live dir
    * without its quantizer, and [[existsDir]]'s post-heal answer is
    * unambiguous: a live dir IS a complete index. Returns the trained
    * centroids. */
  def buildIndexDir(s: SparkSession, embeddings: DataFrame, path: String,
      k: Int = 8, iters: Int = 3,
      buildBatchId: String = graft.etl.BatchLog.BuildId): DataFrame = {
    heal(s, path)
    val (index, centroids) = buildIndex(s, embeddings, k, iters)
    stageAndSwap(s, path, centroids)(writeIndex(index, _, buildBatchId))
    centroids
  }

  /** Does a complete, servable persisted IVF index exist at `path`?
    * HEALS before answering ([[heal]] — the same discipline as
    * [[graft.etl.LshIndex.exists]]): every swap window leaves either a
    * promotable stage or a restorable retired copy, and answering
    * "absent" inside one of them would route a build-vs-append caller
    * into a from-scratch rebuild that truncates the index to one batch.
    * A live dir missing its `_centroids` is a state no crash window
    * produces (builds stage, swaps whole) — loud, never a rebuild
    * trigger. */
  def existsDir(s: SparkSession, path: String): Boolean = {
    heal(s, path)
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = fsFor(s, live)
    if (!fs.exists(live)) false
    else {
      require(fs.exists(new org.apache.hadoop.fs.Path(live, "_centroids")),
        s"IVF index at $path has lists but no _centroids even after " +
          "heal — not a state any crash window produces; refusing to " +
          "answer 'absent' (a rebuild would truncate the index)")
      true
    }
  }

  /** Fold the committed batch partitions into ONE fresh partition,
    * applying an optional delete set during the rewrite — the
    * directory-layout analog of [[graft.etl.IndexCompaction.fold]] for
    * this family. The quantizer is UNCHANGED (surviving rows keep their
    * list assignment, so results equal a filter of the old index);
    * [[retrainIndexDir]] is the entry that also re-derives centroids.
    * Orphan partitions (crashed appends absent from the committed log)
    * are excluded and vanish in the swap; committed markers carry into
    * the stage's log as tombstones so late replays stay no-ops. Staged
    * and swapped in like a build ([[stageAndSwap]]). */
  def compactIndexDir(s: SparkSession, path: String,
      deletes: Option[graft.etl.IndexCompaction.DeleteSet] = None): Unit = {
    import graft.etl.{BatchLog, IndexCompaction}
    import s.implicits._
    heal(s, path)
    val committed = BatchLog.committed(s, BatchLog.logDirAt(path))
    val lists0 = s.read.parquet(path)
      .filter($"batch_id".isin(committed.toSeq: _*))
      .select($"cluster_id", $"vec_id", $"v")
    val lists = deletes.fold(lists0)(ds =>
      IndexCompaction.applyDeleteSet(lists0, "vec_id", ds))
    val centroids = readCentroids(s, path).localCheckpoint() // pre-swap pin
    val foldId = s"00000-fold-${java.util.UUID.randomUUID().toString.take(8)}"
    stageAndSwap(s, path, centroids) { stage =>
      writeIndex(lists, stage, foldId)
      committed.foreach(BatchLog.commit(s, BatchLog.logDirAt(stage), _))
    }
  }

  /** Per-batch index maintenance: assign `newVecs` to the EXISTING
    * centroids and append their rows to the on-disk lists — no
    * retraining, the [[graft.etl.MinhashIndex.append]] /
    * [[graft.etl.LshIndex.append]] shape for the IVF family. Appending
    * under the batch partition adds files only to this batch's list
    * directories, so probes keep their partition pruning. The standard
    * IVF maintenance trade applies: centroids drift as the distribution
    * shifts, so production retrains (full [[buildIndex]]) on a slow
    * cadence while appends run per batch; recall between retrains
    * degrades only as far as the drift does (spec asserts append ==
    * rebuild-with-same-centroids exactly). Exactly-once is enforced by
    * the index's committed [[graft.etl.BatchLog]]: a replayed batch is
    * a no-op, a crashed append deletes its partial batch directory and
    * converges on retry. */
  def appendIndex(s: SparkSession, newVecs: DataFrame, centroids: DataFrame,
      path: String, batchId: String): Unit = {
    import graft.etl.BatchLog
    import s.implicits._
    BatchLog.runOnce(s, BatchLog.logDirAt(path), batchId) {
      val part = new org.apache.hadoop.fs.Path(path,
        s"batch_id=${BatchLog.sanitize(batchId)}")
      val fs = part.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(part)) fs.delete(part, true)
    } {
      val vecs = newVecs.select($"vec_id", asDouble($"embedding").as("v"))
      assign(s, vecs, centroids)
        .withColumn("batch_id", lit(BatchLog.sanitize(batchId)))
        .write.mode("append").partitionBy("batch_id", "cluster_id")
        .parquet(path)
    }
  }

  /** [[appendIndex]] with the quantizer resolved FROM the index dir —
    * the maintenance entry that stays correct across [[retrainIndexDir]]
    * (a caller-held centroid frame goes stale at the first retrain). */
  def appendIndexDir(s: SparkSession, newVecs: DataFrame, path: String,
      batchId: String): Unit =
    appendIndex(s, newVecs, readCentroids(s, path), path, batchId)

  /** The candidate ids whose stored vector state is NOT exactly one
    * committed row — [[graft.etl.MinhashIndex.staleGenerationIds]] for
    * the directory layout: every committed generation contributes one
    * `(vec_id, v)` row (appends assign one row per vector; folds and
    * retrains rewrite rows but never merge them), so a row count of 2+
    * proves a superseded vector lingers and 0 proves a half-done
    * reindex (purged, the replacement append crashed uncommitted — its
    * orphan partition is excluded exactly as the fold excludes it).
    * Cost: a two-column scan of the lists, O(index vectors). */
  def staleGenerationIdsDir(s: SparkSession, path: String,
      candidateIds: DataFrame): DataFrame = {
    import graft.etl.BatchLog
    graft.etl.MinhashIndex.staleAmong(candidateIds,
      BatchLog.committedRows(s.read.parquet(path),
        BatchLog.partitionIdsAt(s, path),
        BatchLog.committed(s, BatchLog.logDirAt(path))),
      col("vec_id"))
  }

  /** [[searchIndexDir]] with the quantizer resolved FROM the index dir. */
  def searchIndexDirAuto(s: SparkSession, indexPath: String,
      queries: DataFrame, topK: Int = 5, nprobe: Int = 2): DataFrame =
    searchIndexDir(s, indexPath, readCentroids(s, indexPath), queries,
      topK, nprobe)

  private def fsFor(s: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  private def stagePath(path: String) = new org.apache.hadoop.fs.Path(s"${path}__retrain")
  private def oldPath(path: String) = new org.apache.hadoop.fs.Path(s"${path}__old")

  /** The whole-index swap of build, compact and retrain: `writeLists`
    * fills the `__retrain` stage, `centroids` land LAST as the
    * completeness marker [[heal]] keys on (a stage without them is
    * never promoted), then [[graft.etl.Swap.dir]] promotes the stage
    * through `__old`. */
  private def stageAndSwap(s: SparkSession, path: String,
      centroids: DataFrame)(writeLists: String => Unit): Unit = {
    val stage = stagePath(path)
    val fs = fsFor(s, stage)
    fs.delete(stage, true) // a crashed prior attempt's partial stage
    writeLists(stage.toString)
    writeCentroids(centroids, stage.toString)
    graft.etl.Swap.dir(fs, stage, new org.apache.hadoop.fs.Path(path), oldPath(path))
  }

  /** Finish an interrupted [[stageAndSwap]] ([[graft.etl.Swap.healDir]]);
    * a stage is complete iff its `_centroids` exists. Runs before every
    * build, compact, retrain and [[existsDir]] answer. */
  def heal(s: SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val live = new Path(path)
    val fs = fsFor(s, live)
    graft.etl.Swap.healDir(fs, stagePath(path), live, oldPath(path),
      p => fs.exists(new Path(p, "_centroids")))
  }

  /** Retrain-on-growth for the persisted IVF index — the quantizer
    * analog of [[graft.etl.LshIndex.regrow]]: a cold build freezes k at
    * that corpus' [[autoK]]; as appends accumulate, per-list occupancy
    * (n/k) — and with it every probe's rerank — grows linearly again.
    * When the accumulated committed vector count implies a k at least
    * `growFactor`× the trained one, retrain at the derived k and swap
    * the whole index directory in ([[stageAndSwap]]; the stage carries
    * its own batch log). The index is loud-until-healed, never a mix of
    * old lists and new quantizer (the failure class the LSH family's
    * generation flip also exists to prevent). Orphan batch dirs (crashed appends, absent from the
    * committed log) are excluded from the retrain's input and vanish in
    * the swap — same exclusion [[graft.etl.IndexCompaction.fold]]
    * applies, so the retrain doubles as the family's compaction.
    * Single maintenance writer assumed, as everywhere in the family.
    *
    * `deletes` purges vector ids BEFORE the count/train/assign — so the
    * new quantizer is trained on survivors only and no ghost of a
    * deleted document survives the retrain (without this, retrain reads
    * the lists — not the corpus — and would perpetuate ghosts forever).
    * Fed by [[graft.etl.IndexDeleteSync]] like the catalog-table
    * families; [[compactIndexDir]] is the purge path when the geometry
    * has NOT outgrown its training.
    *
    * Returns true iff a retrain ran. */
  def retrainIndexDir(s: SparkSession, path: String, iters: Int = 3,
      minK: Int = 8, maxK: Int = 65536, growFactor: Double = 2.0,
      deletes: Option[graft.etl.IndexCompaction.DeleteSet] = None): Boolean = {
    import graft.etl.BatchLog
    import s.implicits._
    require(growFactor >= 1.0, "growFactor must be >= 1")
    heal(s, path)
    val committed = BatchLog.committed(s, BatchLog.logDirAt(path))
    val vecs0 = s.read.parquet(path)
      .filter($"batch_id".isin(committed.toSeq: _*))
      .select($"vec_id", $"v")
    val vecs = deletes.fold(vecs0)(ds =>
      graft.etl.IndexCompaction.applyDeleteSet(vecs0, "vec_id", ds))
    val n = vecs.count()
    val kNow = readCentroids(s, path).count()
    val kWant = autoK(n, minK, maxK)
    if (kWant < kNow * growFactor) return false
    val centroids = trainCentroids(s,
      vecs.select($"vec_id", $"v".as("embedding")), kWant, iters)
    stageAndSwap(s, path, centroids) { stage =>
      writeIndex(assign(s, vecs, centroids), stage)
      // carry the old committed markers into the stage's log as
      // tombstones (the IndexCompaction discipline): a very late replay
      // of a long-retrained batch must stay a no-op, not re-append rows
      // the retrain already folded in
      committed.foreach(BatchLog.commit(s, BatchLog.logDirAt(stage), _))
    }
    true
  }

  /** ANN search against the ON-DISK index: the probed cluster ids are
    * collected first (driver-small — |queries| × nprobe ints) so they
    * reach the scan as LITERAL partition filters; Catalyst then prunes
    * the unprobed list directories before any I/O. Same results as the
    * in-memory [[search]]. */
  def searchIndexDir(s: SparkSession, indexPath: String, centroids: DataFrame,
      queries: DataFrame, topK: Int = 5, nprobe: Int = 2): DataFrame = {
    import s.implicits._
    val q = queries.select($"vec_id".as("q_id"), asDouble($"embedding").as("qv"))
    val wProbe = Window.partitionBy($"q_id").orderBy($"csim".desc, $"cluster_id".asc)
    val probes = q.crossJoin(broadcast(centroids))
      .select($"q_id", $"qv", $"cluster_id",
        CosineSimilarity.cosineNative(s, $"qv", $"centroid").as("csim"))
      .withColumn("rn", row_number().over(wProbe))
      .filter($"rn" <= nprobe)
      .select($"q_id", $"qv", $"cluster_id")
    val probedClusters = probes.select($"cluster_id").distinct()
      .collect().map(_.getInt(0)).toSeq // driver-small: ≤ queries × nprobe
    val lists = s.read.parquet(indexPath)
      .filter($"cluster_id".isin(probedClusters: _*)) // partition-pruned
    val wRank = Window.partitionBy($"q_id").orderBy($"cosine_sim".desc, $"neighbor_id".asc)
    probes
      .join(lists.select($"cluster_id", $"vec_id".as("neighbor_id"), $"v"), Seq("cluster_id"))
      .filter($"neighbor_id" =!= $"q_id")
      .select($"q_id", $"neighbor_id",
        CosineSimilarity.cosineNative(s, $"qv", $"v").as("cosine_sim"))
      .withColumn("rank", row_number().over(wRank))
      .filter($"rank" <= topK)
      .select($"q_id", $"rank", $"neighbor_id", $"cosine_sim")
      .orderBy($"q_id", $"rank")
  }

  /** ANN search: probe the `nprobe` nearest lists per query, exact
    * cosine rerank inside them, top-`topK` per query. */
  def search(s: SparkSession, index: DataFrame, centroids: DataFrame,
      queries: DataFrame, topK: Int = 5, nprobe: Int = 2): DataFrame = {
    import s.implicits._
    val q = queries.select($"vec_id".as("q_id"), asDouble($"embedding").as("qv"))
    val wProbe = Window.partitionBy($"q_id").orderBy($"csim".desc, $"cluster_id".asc)
    val probes = q.crossJoin(broadcast(centroids))
      .select($"q_id", $"qv", $"cluster_id",
        CosineSimilarity.cosineNative(s, $"qv", $"centroid").as("csim"))
      .withColumn("rn", row_number().over(wProbe))
      .filter($"rn" <= nprobe)
      .select($"q_id", $"qv", $"cluster_id")
    val wRank = Window.partitionBy($"q_id").orderBy($"cosine_sim".desc, $"neighbor_id".asc)
    probes
      .join(index.select($"cluster_id", $"vec_id".as("neighbor_id"), $"v"), Seq("cluster_id"))
      .filter($"neighbor_id" =!= $"q_id")
      .select($"q_id", $"neighbor_id",
        CosineSimilarity.cosineNative(s, $"qv", $"v").as("cosine_sim"))
      .withColumn("rank", row_number().over(wRank))
      .filter($"rank" <= topK)
      .select($"q_id", $"rank", $"neighbor_id", $"cosine_sim")
      .orderBy($"q_id", $"rank")
  }
}
