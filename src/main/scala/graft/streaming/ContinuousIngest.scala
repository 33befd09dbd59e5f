package graft.streaming

import graft.etl.{DataQuality, IndexDeleteSync, ManifestTable, MinhashIndex}
import graft.operators.{CorpusPipeline, DedupOps, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The END-TO-END continuous-ingest composition — the system the parts
  * built in rounds 6–8 imply, assembled: a documents stream is gated,
  * near-dup-checked against the accumulated corpus, merged atomically
  * into a manifest-committed table, indexed exactly-once, and
  * periodically compacted/vacuumed — one `foreachBatch` body, each leg
  * riding the consistency protocol it already owns.
  *
  * Per micro-batch (all stages deterministic functions of the batch, so
  * an at-least-once replay recomputes the same decisions):
  *
  *  1. GATES — PII scrub first (nothing downstream ever sees raw PII),
  *     then quality + repetition predicates
  *     ([[CorpusPipeline.qualityFilter]]/[[CorpusPipeline.repetitionFilter]]),
  *     the C4-style token-exact blocklist ([[TextOps.blocklistScore]]),
  *     and within-batch exact dedup (min doc_id per fingerprint).
  *  2. NEAR-DUP — within-batch transitive collapse to min-id keepers
  *     ([[DedupOps.minhashComponents]]), then survivors probe the
  *     persisted corpus index ([[MinhashIndex.incrementalPairs]] — a
  *     (band, bucket) equi-join reading the corpus tables in place,
  *     never a corpus recompute). Self-id pairs are filtered so a
  *     replay that already appended this batch still selects the same
  *     survivors. Cross-batch EXACT duplicates need no separate state:
  *     a byte-identical copy of an accepted doc is Jaccard-1 with it
  *     and drops here (every gated doc has ≥ minTokens ≥ shingle-size
  *     tokens, so shingles always exist).
  *  2.5 QUALITY GATE (optional) — the declarative check compiler
  *     ([[graft.etl.DataQuality]]) runs over the accept frame in one
  *     scan; a failing batch is rejected whole and its report published
  *     beside the corpus, so rejection is observable. Post-merge, the
  *     standing table-health checks answer from zone-map metadata where
  *     provable (zero data files opened) with one shared fallback scan.
  *  3. MERGE — accepted docs land via [[ManifestTable.mergeIntoRetrying]]:
  *     one atomic manifest flip, readers see all-old or all-new. The
  *     merge is a keyed upsert, so replaying it with the same rows
  *     converges to the same table content (a replay burns a version
  *     number, never duplicates a row); a competing writer's commit
  *     costs the loser only a re-stage (bounded OCC loop).
  *  4. INDEX — the same accepted frame enters the corpus index through
  *     [[MinhashIndex.append]]'s committed [[BatchLog]]: replay is a
  *     no-op, a crash mid-append purges its partial batch partition and
  *     converges on retry. The first non-empty batch BUILDS the index
  *     under its own batch id (build content == append content for it).
  *     When configured, the other SERVING artifacts ride along, one leg
  *     per [[IndexFamily]] in [[IndexFamily.enabled]]'s order (BM25,
  *     doc LSH, IVF, chunk LSH, count-min sketch), each behind its own
  *     batch log — no transaction needed, every crash point replays to
  *     convergence leg by leg.
  *  5. MAINTENANCE — every `compactEvery` batches: manifest small-file
  *     compaction + history vacuum, and each family's
  *     [[IndexFamily.maintain]] (index compaction back to one file per
  *     bucket through a staging-table swap, deletes and update-reindex
  *     riding the fold).
  *     Maintenance never changes visible rows (spec-asserted here and
  *     in ManifestTableSpec/IndexCompactionSpec), so it is safe at any
  *     crash point — a half-done compaction is invisible until its own
  *     atomic commit.
  *
  * Crash-point audit (every arrow is a spec-injected scenario in
  * ContinuousIngestSpec):
  *   - before MERGE: replay recomputes the same survivors → same merge.
  *   - between MERGE and INDEX: merge replays idempotently (upsert of
  *     identical rows), index append then runs once.
  *   - inside INDEX append: [[BatchLog]] purge arm drops the partial
  *     batch partition, re-appends, converges.
  *   - after INDEX commit, before checkpoint commit: probe sees the
  *     batch's own indexed rows — self-pairs filtered, survivors
  *     unchanged; merge idempotent; append is a logged no-op.
  *
  * At 100 TB this shape is the point: per-batch cost is O(batch) gates
  * + an index probe that shuffles only the batch, the corpus moves only
  * in O(touched partitions) merges, and the heavyweight corrections
  * (compaction) amortize over `compactEvery` batches behind atomic
  * swaps. The reference's ingest lambda
  * (`src/lambdas/ingest/ingestStreamateModelPerformance.py:72-142`)
  * does the same accept-dedup-land loop one record at a time against
  * DynamoDB; here every leg is a distributed job and the dedup check is
  * an indexed join, not a per-row lookup.
  */
object ContinuousIngest {

  /** Everything the per-batch body needs. `dateCol` must exist in the
    * stream schema and be part of `keys` (the [[ManifestTable]]
    * partition invariant). `compactEvery = 0` disables maintenance.
    *
    * `textIndexName`, `annIndexName`, `ivfIndexPath`, `chunkIndexName`
    * and `sketchName` opt the batch into maintaining the OTHER serving
    * artifacts a training-data pipeline keeps warm, one
    * [[IndexFamily]] each ([[IndexFamily.enabled]] lists them). The
    * embedding column (`embeddingCol`) must be present in the stream
    * schema when `annIndexName` or `ivfIndexPath` is set. Each family
    * rides its own committed [[graft.etl.BatchLog]], so the appends form
    * no transaction and need none: any crash point replays to
    * convergence leg by leg (the already-committed legs no-op, the rest
    * run once). */
  final case class Config(
      corpusPath: String,
      indexName: String,
      keys: Seq[String] = Seq("doc_id", "doc_date"),
      dateCol: String = "doc_date",
      blocklist: Seq[String] = Nil,
      maxBlocklistDensity: Double = 0.1,
      thresholds: CorpusPipeline.Thresholds = CorpusPipeline.Thresholds(),
      nearDupThreshold: Double = 0.5,
      // EXACT near-dup candidate generation — zero false negatives at
      // any τ, the banding-independent regime a replayable fuzzy accept
      // set requires (`s26_ingest_e2e_fuzzy`): the within-batch collapse
      // routes through the proven-complete prefix-filter join
      // ([[DedupOps.prefixFilterJoin]], exactness proved against the
      // all-pairs oracle in `dd_prefix_filter_join`) and the cross-batch
      // probe through the shared-shingle exact join
      // ([[MinhashIndex.exactIncrementalPairs]]). Costs more than the
      // banded path (candidates = every shingle-sharing pair) — the
      // price of completeness; production keeps the banded default.
      // The cold build co-maintains the sh_p-partitioned side table
      // ([[MinhashIndex.sideTable]]), so the probe's scan PRUNES to the
      // partitions the batch's shingles hash into instead of reading
      // the whole stored shingle table per batch.
      exactCandidates: Boolean = false,
      compactEvery: Int = 0,
      retainVersions: Int = 2,
      textIndexName: Option[String] = None,
      annIndexName: Option[String] = None,
      embeddingCol: String = "embedding",
      annDims: Int = 64,
      // optional fourth serving artifact: a persisted IVF ANN index
      // (directory layout, [[graft.operators.IvfIndex]]) over the same
      // embedding column — cold-built on the first non-empty batch at
      // autoK of that batch, appended per batch against the persisted
      // quantizer, retrained in `maintain` when the corpus outgrows the
      // trained k (the retrain doubles as the family's compaction and
      // applies pending deletes; between retrains `compactIndexDir`
      // carries the delete feed).
      ivfIndexPath: Option[String] = None,
      // optional fifth serving artifact: a CHUNK-level LSH ANN index —
      // the continuous-RAG-ingestion shape. Accepted docs are chunked
      // ([[graft.operators.CorpusPrepOps.chunkDocuments]]), embedded
      // (md5-feature stand-in; a real encoder is a mapInPandas swap at
      // the [[graft.operators.SimilarityOps.chunkIndexFrame]] seam) and
      // appended under composite (doc, chunk) ids, so retrieval serves
      // passage hits with source attribution while ingestion runs.
      // Requires NUMERIC doc ids (the composite packing). Deletion
      // maintenance translates the doc-level feed to chunk ids in
      // [[maintain]].
      chunkIndexName: Option[String] = None,
      chunkDims: Int = 8,
      // optional sixth serving artifact: a persisted corpus-wide
      // count-min sketch ([[graft.etl.SketchStore]]) over accepted
      // text — O(d·w) state answering token-frequency point queries
      // with zero corpus scans. The sketch is LINEAR, so the batch leg
      // appends the batch's own grid (one O(batch) pass); deletions
      // subtract the removed docs' pre-image grid in [[maintain]]
      // (negative cells), falling back to a rebuild when the CDC
      // window is vacuumed (pre-image text unknowable).
      sketchName: Option[String] = None,
      sketchDepth: Int = 4,
      sketchWidth: Int = 512,
      // periodic sketch-vs-corpus reconcile ([[SketchStore.audit]]):
      // each maintenance run exact-counts the N most frequent tokens in
      // ONE corpus pass and checks the persisted estimates against the
      // strict-turnstile floor (estimate ≥ exact — a violation proves
      // over-deletion/corruption) and the e/w overestimate ceiling. A
      // failing grid is REBUILT from the live corpus on the spot (the
      // vacuumed-window rebuild's cost class — this audit is the
      // reconcile sweep, not a per-batch leg). 0 = off.
      sketchAuditTokens: Int = 0,
      // corpus [[FileBlooms]] columns (e.g. doc_id): point lookups and
      // point deletes — the data-deletion/compliance path — then open
      // only the files that can hold the key. Nil = no sidecar cost.
      bloomCols: Seq[String] = Nil,
      // ANN geometry follows corpus growth: each maintenance run
      // re-derives the LSH plane count from the accumulated vector
      // count ([[LshIndex.regrow]]) so probe cost tracks cell occupancy
      // instead of corpus size — the stream's cold build can't know its
      // eventual corpus. 0 disables (frozen cold-build geometry).
      annTargetOccupancy: Long = 256,
      // storage layout follows corpus growth: each compaction re-derives
      // every index family's bucket count from its largest table
      // ([[IndexCompaction.compactFamily]]) so file-level scan
      // parallelism tracks the data instead of the cold-build guess.
      // Grow-only, rewrite rides the fold. 0 disables.
      storageRowsPerBucket: Long = 1L << 20,
      // BATCH-ACCEPTANCE data-quality gate ([[graft.etl.DataQuality]]):
      // evaluated on the gated+deduped accept frame in ONE extra scan of
      // the batch. A failing batch is REJECTED whole — no merge, no
      // index appends — and its report is still published, so the
      // rejection is observable, not silent. Nil = gate off.
      batchChecks: Seq[DataQuality.RowCheck] = Nil,
      // WRITE-AUDIT-PUBLISH merge ([[ManifestTable.writeAuditPublishRetrying]]):
      // when set (and `batchChecks` is non-empty), the batch is STAGED
      // first and the checks run against the EXACT post-merge table
      // state the commit would publish — what a pre-merge gate
      // structurally cannot see (cross-batch key collisions after the
      // upsert folds, total-row floors, containment against the merged
      // reference). A rejected batch's staged bytes are abandoned:
      // quarantine leaves ZERO readable trace at any version — no
      // version consumed, time travel included — while the audit report
      // still publishes to the quality table (scope `wap_audit`), so
      // the rejection is observable. An OCC race re-stages AND
      // re-audits against the winner's state. false = the pre-merge
      // gate semantics (checks on the accept frame, then a plain merge).
      wapAudit: Boolean = false,
      // STANDING table-health checks, evaluated on the corpus manifest
      // after each merge: checks the zone-map metadata can prove are
      // answered with ZERO data files opened
      // ([[DataQuality.provableFromMetadata]]); the rest share one
      // fallback scan. Published with the batch's report. Nil = off.
      tableChecks: Seq[DataQuality.RowCheck] = Nil,
      // DRIFT watch over the published batch reports
      // ([[DataQuality.drift]]): after each batch's report lands, its
      // metrics are compared against the trailing `driftWindow`-batch
      // mean and deviations beyond the tolerance are stamped back onto
      // the report rows (`drifted = true`) and logged — the advisory
      // "passed every floor but looks nothing like the stream" signal;
      // it never blocks the batch. None = off.
      driftTolerance: Option[Double] = None,
      driftWindow: Int = 5)

  /** Start the composed pipeline over a streaming documents frame
    * (schema: `documents` + the config's date column). AvailableNow +
    * checkpoint: incremental across restarts, exactly-once effects by
    * the protocol audit above. */
  def start(spark: SparkSession, docs: DataFrame, checkpointDir: String,
      cfg: Config): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(spark, batch, batchId, cfg)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Stages 1–2: the deterministic accept decision for one batch given
    * the current index state. Package-private so the spec can replay
    * it standalone when simulating crashes. */
  private[graft] def accepted(spark: SparkSession, batch: DataFrame,
      cfg: Config): DataFrame = {
    val t = cfg.thresholds
    val scrubbed = batch.withColumn("text", TextOps.scrubPii(col("text")))
    val quality = CorpusPipeline.repetitionFilter(
      CorpusPipeline.qualityFilter(scrubbed, t), t)
    val safe =
      if (cfg.blocklist.isEmpty) quality
      else {
        val keep = TextOps
          .blocklistScore(quality, cfg.blocklist, cfg.maxBlocklistDensity)
          .filter(col("keep")).select(col("doc_id"))
        quality.join(keep, Seq("doc_id"), "left_semi")
      }
    // materialize the gated+exact-deduped batch once: the connected-
    // components collapse below is ITERATIVE (its own actions), and the
    // keepers join reads the frame again — without this, the whole
    // gates subtree re-evaluates per action (measured ~2 s of repeat
    // work per 500-doc batch at sf0.1)
    val deduped = CorpusPipeline.exactDedup(safe).localCheckpoint()
    val losers =
      if (cfg.exactCandidates)
        // exact within-batch pairs (prefix principle, zero false
        // negatives) → same transitive min-id collapse as the banded path
        graft.operators.ConnectedComponents.components(spark,
          DedupOps.prefixFilterJoin(deduped, cfg.nearDupThreshold)
            .select(col("doc_a"), col("doc_b")))
          .filter(col("component") =!= col("node"))
          .select(col("node").as("doc_id"))
      else
        DedupOps
          .minhashComponents(spark, deduped, cfg.nearDupThreshold)
          .filter(col("component") =!= col("doc_id"))
          .select(col("doc_id"))
    val keepers = deduped.join(losers, Seq("doc_id"), "left_anti")
    if (MinhashIndex.exists(spark, cfg.indexName)) {
      val corpusPairs =
        if (cfg.exactCandidates)
          MinhashIndex.exactIncrementalPairs(spark, keepers, cfg.indexName,
            cfg.nearDupThreshold)
        else
          MinhashIndex.incrementalPairs(spark, keepers, cfg.indexName,
            cfg.nearDupThreshold)
      val dupOfCorpus = corpusPairs
        .filter(col("doc_old") =!= col("doc_new")) // replay: indexed self
        .select(col("doc_new").as("doc_id")).distinct()
      keepers.join(dupOfCorpus, Seq("doc_id"), "left_anti")
    } else keepers
  }

  /** Stages 3–5 for one micro-batch. Public shape of the foreachBatch
    * body; package-private so the spec can crash-inject between legs. */
  private[graft] def ingestBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, cfg: Config): Unit = {
    val tBatch = System.nanoTime()
    def stamp(stage: String): Unit =
      println(f"[ingest] batch $batchId $stage at ${(System.nanoTime() - tBatch) / 1e9}%.1f s")
    val bid = s"b$batchId"
    // one limit-1 job instead of the full gates+dedup+probe pipeline on
    // an empty drain (measured ~1.1 s of pure job overhead for 0 rows —
    // the steady-state cost of an idle stream polling on a schedule)
    if (batch.isEmpty) {
      if (cfg.compactEvery > 0 && (batchId + 1) % cfg.compactEvery == 0)
        maintain(spark, cfg)
      return
    }
    // localCheckpoint, NOT persist: the accept decision's lineage ends in
    // a probe of the index tables, so the first index append (or even its
    // purge DROP PARTITION) invalidates a persisted plan via the table
    // cache — and every later leg silently re-runs the full
    // gates+dedup+probe pipeline. Measured at sf0.1: the recompute
    // repeated ~4x across the legs, tripling the batch. Checkpointing
    // truncates the lineage to the materialized rows, which no catalog
    // mutation can invalidate. (Block loss on a cluster fails the micro-
    // batch, which replays — the normal streaming retry path.)
    val release = graft.core.Pins.since(spark.sparkContext)
    try {
      val accept = accepted(spark, batch, cfg).localCheckpoint()
      stamp("accept decided")
      if (accept.count() > 0) {
        val useWap = cfg.wapAudit && cfg.batchChecks.nonEmpty
        // Batch-acceptance gate: one scan of the (checkpointed) accept
        // frame computes every metric; the report is published whether
        // the batch lands or not, so a rejection leaves evidence. The
        // publish rides the report table's OWN merge — a replay of this
        // batch upserts the identical rows and converges.
        val gatePassed =
        if (useWap) {
          // stage → audit the post-merge state → publish-or-abandon.
          // The checks see the table AS IT WOULD PUBLISH; a rejection
          // consumes no version and leaves no readable bytes, while the
          // report (from the final attempt's audit) still lands beside
          // the corpus so quarantine is observable.
          var lastRep: Option[DataFrame] = None
          val published = ManifestTable.writeAuditPublishRetrying(spark,
            accept, cfg.corpusPath, cfg.keys, cfg.dateCol,
            bloomCols = cfg.bloomCols) { merged =>
            val rep = DataQuality.report(Seq(
              DataQuality.rowChecks(merged, cfg.batchChecks))).localCheckpoint()
            lastRep = Some(rep)
            DataQuality.allPassed(rep)
          }
          lastRep.foreach(rep => publishReport(spark, cfg, bid, accept, rep
            .withColumn("scope", lit("wap_audit"))
            .withColumn("from_metadata", lit(0L))))
          stamp(if (published.isDefined) "WAP audit passed, published"
            else "batch REJECTED by WAP audit — staged bytes abandoned")
          published.isDefined
        } else cfg.batchChecks.isEmpty || {
          val rep = DataQuality.report(Seq(
            DataQuality.rowChecks(accept, cfg.batchChecks))).localCheckpoint()
          val ok = DataQuality.allPassed(rep)
          publishReport(spark, cfg, bid, accept, rep
            .withColumn("scope", lit("batch"))
            .withColumn("from_metadata", lit(0L)))
          stamp(if (ok) "quality gate passed" else "batch REJECTED by quality gate")
          cfg.driftTolerance.foreach { tol =>
            watchDrift(spark, cfg, bid, tol)
            stamp("drift watched")
          }
          ok
        }
        if (gatePassed) {
        // OCC retry, not plain mergeInto: free absent conflicts, and a
        // second writer on the same corpus (backfill job, another
        // stream) re-stages and lands instead of failing the batch.
        // (The WAP path has already published atomically inside its
        // audit loop — merging again would double-stage the batch.)
        if (!useWap) {
          ManifestTable.mergeIntoRetrying(spark, accept, cfg.corpusPath,
            cfg.keys, cfg.dateCol, bloomCols = cfg.bloomCols)
          stamp("merged")
        }
        // the serving artifacts, in leg order, each exactly-once behind
        // its OWN batch log: a replay that already committed a leg
        // no-ops it individually
        IndexFamily.enabled(cfg).foreach { f =>
          f.ingest(spark, accept, bid)
          stamp(f.stamp)
        }
        // Post-merge standing health report: the metadata-provable
        // checks open ZERO data files (a driver-side fold over the
        // manifest's zone-map lines); only the rest share one scan
        if (cfg.tableChecks.nonEmpty) {
          publishReport(spark, cfg, bid, accept, tableHealth(spark, cfg))
          stamp("table health checked")
        }
        } // gatePassed
      }
    } finally {
      // drop exactly the RDDs this batch pinned — `accept` and the
      // gates-internal dedup pin inside accepted() — once every leg's
      // actions are done
      release()
    }
    if (cfg.compactEvery > 0 && (batchId + 1) % cfg.compactEvery == 0) {
      maintain(spark, cfg)
      stamp("maintenance done")
    }
  }

  /** The periodic maintenance leg — safe to run (or crash out of) at
    * any point between batches: compaction never changes visible rows,
    * and the deletion sync is idempotent with its bookmark advanced only
    * after every family applied (a crash mid-way replays the same
    * purge).
    *
    * Corpus deletions ([[ManifestTable.deleteWhere]]) propagate to the
    * index families HERE, piggybacking on the compaction rewrite via
    * [[IndexDeleteSync]] — between maintenance runs a deleted doc's
    * ghost index rows persist, so a re-submitted copy of it is still
    * rejected as a near-dup until the next maintenance (conservative,
    * documented). Ordering: the delete set is computed and applied
    * BEFORE vacuum, so the CDC diff window the bookmark points into is
    * never reclaimed out from under the sync. */
  private[graft] def maintain(spark: SparkSession, cfg: Config): Unit = {
    // the deletion-sync diff set is a localCheckpoint — pinned blocks
    // the cache manager never frees; a long-lived stream would leak one
    // set per maintenance. Drop exactly what this run pinned once every
    // family has folded (the ingestBatch discipline; nothing reads the
    // set after the bookmark advances).
    val release = graft.core.Pins.since(spark.sparkContext)
    try maintainInner(spark, cfg) finally release()
  }

  private def maintainInner(spark: SparkSession, cfg: Config): Unit = {
    val sync =
      if (ManifestTable.versions(spark, cfg.corpusPath).nonEmpty) {
        ManifestTable.compact(spark, cfg.corpusPath)
        IndexDeleteSync.pendingFull(spark, cfg.corpusPath,
          deleteBookmarkPath(cfg), cfg.keys)
      } else None
    // deletes and update-reindex reach every family through the same
    // sync set, each family deciding its replay from its own state
    // ([[KeyedFamily]] has the protocol)
    IndexFamily.enabled(cfg).foreach(_.maintain(spark, sync))
    sync.foreach(ss =>
      IndexDeleteSync.advance(spark, deleteBookmarkPath(cfg), ss.toVersion))
    if (ManifestTable.versions(spark, cfg.corpusPath).nonEmpty)
      ManifestTable.vacuum(spark, cfg.corpusPath, cfg.retainVersions)
  }

  /** Where the deletion-sync version bookmark lives: beside the corpus
    * it describes (underscore-prefixed — parquet readers ignore it). */
  private[graft] def deleteBookmarkPath(cfg: Config): String =
    s"${cfg.corpusPath}/_index_delete_bookmark"

  /** Where the published data-quality reports live: an append-only
    * [[ManifestTable]] beside the corpus, one row per
    * (batch, scope, check). */
  private[graft] def dqReportPath(cfg: Config): String =
    s"${cfg.corpusPath}_dq"

  /** The standing table-health report frame: each configured check is
    * first offered to [[DataQuality.provableFromMetadata]] — a
    * driver-side fold over the manifest's zone-map stats, zero data
    * files opened, NO Spark job — and only the unprovable remainder
    * shares one fallback scan of the corpus. `from_metadata` records
    * which path answered each row. */
  private[graft] def tableHealth(spark: SparkSession,
      cfg: Config): DataFrame =
    DataQuality.hybridReport(spark, cfg.corpusPath, cfg.tableChecks)
      .withColumn("scope", lit("table"))

  /** The advisory drift watch: compare THIS batch's just-published
    * report metrics against the trailing-window mean of the batch
    * series ([[DataQuality.drift]] — ordered by the numeric batch id
    * parsed from `b<N>`), stamp deviations back onto the report rows
    * (schema-evolving upsert: `trailing_mean`/`drift`/`drifted`
    * columns), and log them. Deterministic function of the report
    * history, so a replay stamps identical verdicts. Bounded: the
    * drift frame is one row per (batch, check); the stamped upsert is
    * this batch's ≤ |checks| rows. */
  private def watchDrift(spark: SparkSession, cfg: Config, bid: String,
      tol: Double): Unit = {
    val hist = ManifestTable.read(spark, dqReportPath(cfg))
      .filter(col("scope") === "batch")
    val verdicts = DataQuality
      .drift(hist, expr("CAST(substring(batch_id, 2) AS LONG)"),
        cfg.driftWindow, tol)
      .filter(col("batch_id") === bid && col("drift").isNotNull)
      .select(col("batch_id"), col("scope"), col("check_name"),
        col("report_date"), col("trailing_mean"), col("drift"),
        when(col("drifted"), 1L).otherwise(0L).as("drifted"))
      .localCheckpoint() // read completes before the upsert flips the table
    val flagged = verdicts.filter(col("drifted") === 1L)
      .select(col("check_name"), col("drift")).collect() // ≤ |checks| rows
    flagged.foreach(r => println(
      f"[ingest] DRIFT $bid ${r.getString(0)}: ${r.getDouble(1)}%+.4f vs trailing mean"))
    if (!verdicts.isEmpty)
      ManifestTable.mergeIntoRetrying(spark, verdicts, dqReportPath(cfg),
        Seq("batch_id", "scope", "check_name", "report_date"), "report_date")
  }

  /** Publish a report frame to the corpus-side quality table. Keyed by
    * (batch, scope, check) and stamped with the batch's max date — all
    * deterministic functions of the batch, so an at-least-once replay
    * upserts identical rows and converges; the merge itself takes the
    * OCC retry path (the report table has at least two writer call
    * sites per batch). */
  private def publishReport(spark: SparkSession, cfg: Config, bid: String,
      accept: DataFrame, rep: DataFrame): Unit = {
    val reportDate = coalesce(
      accept.agg(max(col(cfg.dateCol))).head.get(0) match {
        case d: java.sql.Date => lit(d)
        case _ => lit(null)
      }, to_date(lit("1970-01-01")))
    ManifestTable.mergeIntoRetrying(spark,
      rep.withColumn("batch_id", lit(bid))
        .withColumn("report_date", reportDate),
      dqReportPath(cfg),
      Seq("batch_id", "scope", "check_name", "report_date"), "report_date")
  }
}
