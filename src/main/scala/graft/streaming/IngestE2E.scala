package graft.streaming

import graft.core.{QueryDef, QueryModule, Scratch, T}
import graft.etl.{BatchLog, DataQuality, ManifestTable}
import graft.operators.{CorpusPipeline, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The END-TO-END continuous-ingest leg as DECLARED, oracle-checked
  * queries — the engine's most operationally important path, previously
  * unit-green only (ContinuousIngestSpec's crash seams): a staged
  * three-batch documents stream runs the real
  * [[ContinuousIngest]] `foreachBatch` pipeline — PII scrub → quality +
  * repetition gates → within-batch exact dedup → near-dup components →
  * persisted-MinHash-index probe against the accumulated corpus →
  * **write-audit-publish ManifestTable merge** (checks audited on the
  * exact post-merge state) → exactly-once index append — and the FINAL
  * TABLE STATE is hash-checked against a DuckDB oracle that replays the
  * accept algebra and the keyed-upsert merge in plain SQL.
  *
  * Seven declared regimes (s28 adds the update-reindex: superseded TEXT
  * generations purged+reindexed at maintenance; s29 the EMBEDDING
  * sibling: an updated doc's stale VECTOR purged+reindexed, pinned by
  * ANN probes of both generations' embeddings; s30 the blind-window
  * negative: updates then old-text copies with NO maintenance between —
  * the conservative ghost rejection is the declared hash; s31 the
  * VECTOR blind window: s29 without its reindex maintenance, the stale
  * embedding's serving HIT pinned):
  *
  *  - [[s25]] `s25_ingest_e2e` — the EXACT-duplicate regime
  *    (`nearDupThreshold = 1.0`): byte-copies planted under fresh ids
  *    must be dropped by the index probe, updated re-arrivals must be
  *    upserted. At τ = 1.0 the banded candidates are complete (an
  *    identical shingle set cannot miss its own signature), so the
  *    oracle replays Jaccard 1.0 as equality of canonical
  *    sorted-distinct-shingle keys.
  *  - [[s26]] `s26_ingest_e2e_fuzzy` — the PRODUCTION fuzzy regime
  *    (τ = 0.8), where banding recall would otherwise make the accept
  *    set unreplayable: `exactCandidates = true` routes the
  *    within-batch collapse through the proven-complete prefix-filter
  *    join ([[graft.operators.DedupOps.prefixFilterJoin]], zero false
  *    negatives vs the all-pairs oracle in `dd_prefix_filter_join`) and
  *    the cross-batch probe through the shared-shingle exact join
  *    ([[graft.etl.MinhashIndex.exactIncrementalPairs]]) — so DuckDB
  *    replays true pairwise Jaccard at τ < 1. Planted FUZZY copies
  *    (8 appended tokens) land on both sides of the τ boundary
  *    depending on the source doc's shingle count; the oracle decides
  *    per doc.
  *  - [[s27]] `s27_ingest_delete_sync` — the ADVERSARIAL superseded-
  *    index ordering `s25` deliberately avoids: docs are DELETED from
  *    the corpus between batches, maintenance
  *    ([[ContinuousIngest.maintain]]) purges their ghost index rows via
  *    [[graft.etl.IndexDeleteSync]], and byte-copies of the DELETED
  *    texts then arrive under fresh ids. The pinned outcome: after the
  *    purge the copies are ACCEPTED (nothing similar remains indexed) —
  *    if ghost rows linger past compaction, the probe drops the copies,
  *    `n_docs`/`id_sum` shift, and the hash breaks. (IngestE2ESpec's
  *    sibling proves the negative control: WITHOUT the maintenance leg
  *    the same copies are rejected against the ghosts — the documented
  *    conservative behavior between maintenance runs.)
  *
  * Shared config pins the accept semantics to an oracle-expressible
  * core (nothing is stubbed — these are real knobs a deployment sets):
  * gate thresholds at their permissive bounds (`minTokens = 1`, ratio
  * caps at 1.0: the surviving gate terms are exactly "non-empty
  * normalized text" and "has a 2-gram"), WAP ON with completeness/
  * non-negativity checks (every batch stages, audits the post-merge
  * state, publishes through one atomic manifest flip). Updates arrive
  * in the LAST batch by design in s25/s26: no later batch probes
  * against the superseded index rows of an UPDATED (still-live) doc —
  * that interleaving is exactly what s27 exercises for DELETED docs,
  * where the purge machinery exists; superseded rows of live updated
  * docs have no delete feed and are deliberately out of scope (the
  * probes' documented blind window).
  *
  * At 100 TB this is the same pipeline shape: per-batch cost is
  * O(batch) gates plus an index probe that shuffles only the batch
  * (banded) or only matched shingle rows (exact — scanning only the
  * sh_p side-table partitions the batch's shingles hash into, the
  * round-17 pruning; zero false negatives either way), and the merge
  * rewrites only touched date partitions behind one atomic manifest
  * flip.
  */
object IngestE2E extends QueryModule {

  private val PlantedOffset = 10000000L
  private val Epoch = "2023-12-29" // id % 7 spreads dates across 2 years
  private val FuzzyTau = 0.8
  // 7 letter-only filler tokens + the unique fz<id> token = 8 appended
  // tokens = 8 fresh shingles, landing J = n/(n+8) on either side of τ
  // by source-doc shingle count n (accepted iff n < 32 at τ = 0.8)
  private val FuzzyFiller = "qa qb qc qd qe qf qg"

  private def root(sfDir: String): String = Scratch.dir("graft_stream", "ie", sfDir)

  private def indexName(sfDir: String): String =
    "ingest_e2e_" + Scratch.safe(sfDir).toLowerCase

  private def docsOf(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .withColumn("doc_id", col("doc_id").cast("long"))
      .withColumn("n_chars", col("n_chars").cast("long"))

  /** `doc_date` derived from the ARRIVING id so both engines compute it
    * identically. */
  private def dated(df: DataFrame): DataFrame =
    df.withColumn("doc_date",
      date_add(lit(java.sql.Date.valueOf(Epoch)),
        (col("doc_id") % 7).cast("int")))

  /** The s25 arrival slices (byte-copies + updates — see object doc). */
  private[graft] def slices(s: SparkSession, dir: String): Seq[DataFrame] = {
    val docs = docsOf(s, dir)
    val s0 = docs.filter(col("doc_id") % 3 === 0)
    val planted = s0.filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + PlantedOffset)
    val s1 = docs.filter(col("doc_id") % 3 === 1).unionByName(planted)
    val updates = s0.filter(col("doc_id") % 10 === 3)
      .withColumn("text", concat(col("text"), lit(" upd"),
        col("doc_id").cast("string")))
      .withColumn("n_chars", col("n_chars") + 1000L)
    val s2 = docs.filter(col("doc_id") % 3 === 2).unionByName(updates)
    Seq(s0, s1, s2).map(dated)
  }

  /** The s26 arrival slices: FUZZY plants instead of byte-copies — the
    * slice-0 `% 5 == 0` docs re-arrive in slice 1 under fresh ids with
    * 8 appended tokens, so their Jaccard vs the original is n/(n+8)
    * (n = source shingle count): short docs clear τ = 0.8 and are
    * ACCEPTED as genuinely-new, long docs are DROPPED as near-dups —
    * the oracle replays the exact per-doc decision. Updates arrive
    * last, as in s25. */
  private[graft] def fuzzySlices(s: SparkSession, dir: String): Seq[DataFrame] = {
    val docs = docsOf(s, dir)
    val s0 = docs.filter(col("doc_id") % 3 === 0)
    val planted = s0.filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + PlantedOffset)
      .withColumn("text", concat(col("text"), lit(" fz"),
        col("doc_id").cast("string"), lit(s" $FuzzyFiller")))
    val s1 = docs.filter(col("doc_id") % 3 === 1).unionByName(planted)
    val updates = s0.filter(col("doc_id") % 10 === 3)
      .withColumn("text", concat(col("text"), lit(" upd"),
        col("doc_id").cast("string")))
      .withColumn("n_chars", col("n_chars") + 1000L)
    val s2 = docs.filter(col("doc_id") % 3 === 2).unionByName(updates)
    Seq(s0, s1, s2).map(dated)
  }

  /** The s28 slices: slice 1 carries the UPDATES (`% 10 == 3` of
    * slice 0 re-arrive with new text under the SAME id); slice 2 then
    * probes both generations — byte-copies of the updated docs' OLD
    * text under `+PlantedOffset` ids (must be ACCEPTED once the
    * update-reindex purged the superseded rows) and byte-copies of
    * their NEW text under `+2·PlantedOffset` ids (must be DROPPED
    * against the reindexed current version). */
  private[graft] def updateReindexSlices(s: SparkSession, dir: String): Seq[DataFrame] = {
    val docs = docsOf(s, dir)
    val s0 = docs.filter(col("doc_id") % 3 === 0)
    val updKeys = s0.filter(col("doc_id") % 10 === 3)
    val updates = updKeys
      .withColumn("text", concat(col("text"), lit(" upd"),
        col("doc_id").cast("string")))
      .withColumn("n_chars", col("n_chars") + 1000L)
    val s1 = docs.filter(col("doc_id") % 3 === 1).unionByName(updates)
    val oldCopies = updKeys
      .withColumn("doc_id", col("doc_id") + PlantedOffset)
    val newCopies = updates
      .withColumn("doc_id", col("doc_id") + 2L * PlantedOffset)
    val s2 = docs.filter(col("doc_id") % 3 === 2)
      .unionByName(oldCopies).unionByName(newCopies)
    Seq(s0, s1, s2).map(dated)
  }

  /** Deterministic 16-dim embedding, a pure function of the doc id —
    * the s29 stream's encoder stand-in. `neg` flips every coordinate
    * (cosine −1 against the original), so an update's NEW vector is
    * maximally far from its OLD one: the two probes' hit/miss outcomes
    * are sign-separated, never a near-threshold coin flip. */
  private[graft] val VecDims = 16
  private[graft] def vecExpr(neg: Boolean): org.apache.spark.sql.Column = {
    val sign = if (neg) -1.0 else 1.0
    transform(sequence(lit(0), lit(VecDims - 1)),
      j => lit(sign) *
        (pmod(xxhash64(col("doc_id"), j), lit(1000L)).cast("double")
          / lit(500.0) - lit(1.0)))
  }

  /** The s29 slices: slice 0 is the base corpus CARRYING an embedding
    * column (the stream feeds the vectors, the merge persists them —
    * the precondition for the embedding-family update-reindex); slice 1
    * re-arrives the `% 10 == 3` docs with new text AND a new (negated)
    * embedding under the SAME ids. */
  private[graft] def vectorSlices(s: SparkSession, dir: String): Seq[DataFrame] = {
    val docs = docsOf(s, dir)
    val s0 = docs.filter(col("doc_id") % 3 === 0)
      .withColumn("embedding", vecExpr(neg = false))
    val updates = s0.filter(col("doc_id") % 10 === 3)
      .withColumn("text", concat(col("text"), lit(" upd"),
        col("doc_id").cast("string")))
      .withColumn("n_chars", col("n_chars") + 1000L)
      .withColumn("embedding", vecExpr(neg = true))
    Seq(s0, updates).map(dated)
  }

  /** The s27 slices: no plants in slices 0/1; slice 2 carries
    * byte-copies of the docs the scripted DELETE removed (`% 10 == 6`
    * of slice 0) under fresh ids — the resurrection probes. */
  private[graft] def deleteSyncSlices(s: SparkSession, dir: String): Seq[DataFrame] = {
    val docs = docsOf(s, dir)
    val s0 = docs.filter(col("doc_id") % 3 === 0)
    val s1 = docs.filter(col("doc_id") % 3 === 1)
    val copies = s0.filter(col("doc_id") % 10 === 6)
      .withColumn("doc_id", col("doc_id") + PlantedOffset)
    val s2 = docs.filter(col("doc_id") % 3 === 2).unionByName(copies)
    Seq(s0, s1, s2).map(dated)
  }

  private def mkCfg(base: String, idx: String, tau: Double,
      exact: Boolean): ContinuousIngest.Config =
    ContinuousIngest.Config(
      corpusPath = s"$base/corpus",
      indexName = idx,
      thresholds = CorpusPipeline.Thresholds(minTokens = 1,
        maxPunctRatio = 1.0, maxDupTokenFrac = 1.0, maxTop2gramFrac = 1.0),
      nearDupThreshold = tau,
      exactCandidates = exact,
      batchChecks = Seq(
        DataQuality.Completeness("text", "batch.text"),
        DataQuality.NonNegative("n_chars", "batch.n_chars")),
      wapAudit = true)

  /** Idempotent reset: corpus/checkpoint root, the index family's
    * catalog tables, its batch log. */
  private def wipeAll(s: SparkSession, base: String, idx: String): Unit = {
    Scratch.wipe(s, base)
    Scratch.wipe(s, BatchLog.logDir(s, idx).toString)
    Seq("banded", "shingles", "sizes", "meta", "meta__new",
        "shingles_bysh", "shingles_bysh__new")
      .foreach(t => s.sql(s"DROP TABLE IF EXISTS ${idx}_$t"))
  }

  /** Stage `slices` as mtime-ordered files (numbered from `from`) and
    * drain the pipeline over them (AvailableNow + checkpoint: calling
    * again with later files resumes incrementally — the s27 script).
    * Staging and source are the streaming replays' own
    * ([[WatermarkQueries.stageSlices]], [[WatermarkQueries.source]]). */
  private def stageAndRun(s: SparkSession, base: String,
      slices: Seq[DataFrame], cfg: ContinuousIngest.Config,
      from: Int = 0): Unit = {
    WatermarkQueries.stageSlices(s, base, slices, from = from)
    ContinuousIngest.start(s, WatermarkQueries.source(s, s"$base/in"),
      s"$base/ck", cfg).awaitTermination()
  }

  /** Per-date rollup of the published corpus — what the oracles hash
    * and what the bench builds time (the serving read of the table the
    * pipeline publishes). */
  private def rollup(s: SparkSession, corpusPath: String): DataFrame =
    ManifestTable.read(s, corpusPath)
      .groupBy(col("doc_date"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        sum(col("doc_id")).cast("long").as("id_sum"))
      .orderBy(col("doc_date"))

  def ingestE2E(s: SparkSession, dir: String): DataFrame =
    runIngest(s, dir, root(dir), indexName(dir))

  private[graft] def runIngest(s: SparkSession, dir: String,
      base: String, idx: String): DataFrame = {
    wipeAll(s, base, idx)
    stageAndRun(s, base, slices(s, dir), mkCfg(base, idx, 1.0, exact = false))
    rollup(s, s"$base/corpus")
  }

  def ingestE2EFuzzy(s: SparkSession, dir: String): DataFrame =
    runIngestFuzzy(s, dir, s"${root(dir)}_fz", indexName(dir) + "_fz")

  private[graft] def runIngestFuzzy(s: SparkSession, dir: String,
      base: String, idx: String): DataFrame = {
    wipeAll(s, base, idx)
    stageAndRun(s, base, fuzzySlices(s, dir),
      mkCfg(base, idx, FuzzyTau, exact = true))
    rollup(s, s"$base/corpus")
  }

  def ingestDeleteSync(s: SparkSession, dir: String): DataFrame =
    runIngestDeleteSync(s, dir, s"${root(dir)}_ds", indexName(dir) + "_ds",
      withMaintenance = true)

  /** The s27 script: drain batches 0–1, DELETE the `% 10 == 6` slice-0
    * docs from the corpus, run the maintenance leg (compaction-borne
    * [[graft.etl.IndexDeleteSync]] — first sync, so the RECONCILE
    * degrade path: bookmark absent, purge = retain-live-ids sweep),
    * then drain batch 2 carrying byte-copies of the deleted texts.
    * `withMaintenance = false` is the spec's negative control: ghosts
    * linger and the copies are rejected. */
  private[graft] def runIngestDeleteSync(s: SparkSession, dir: String,
      base: String, idx: String, withMaintenance: Boolean): DataFrame = {
    wipeAll(s, base, idx)
    val cfg = mkCfg(base, idx, 1.0, exact = false)
    val sl = deleteSyncSlices(s, dir)
    stageAndRun(s, base, sl.take(2), cfg)
    ManifestTable.deleteWhere(s, cfg.corpusPath,
      col("doc_id") % 3 === 0 && col("doc_id") % 10 === 6)
    if (withMaintenance) ContinuousIngest.maintain(s, cfg)
    stageAndRun(s, base, sl.drop(2), cfg, from = 2)
    rollup(s, cfg.corpusPath)
  }

  def ingestUpdateReindex(s: SparkSession, dir: String): DataFrame =
    runIngestUpdateReindex(s, dir, s"${root(dir)}_ur", indexName(dir) + "_ur")

  /** The s28 script: drain batch 0, run maintenance A (reconcile — its
    * only job here is establishing the CDC bookmark), drain batch 1
    * (the updates merge as a keyed upsert AND append their new rows to
    * the index — the superseded generation's rows now coexist under the
    * same ids), run maintenance B (CDC mode: the update-reindex purges
    * the superseded generations during the fold and the `reidx-v<N>`
    * append restores exactly the current version), then drain batch 2
    * carrying byte-copies of BOTH generations' texts under fresh ids. */
  private[graft] def runIngestUpdateReindex(s: SparkSession, dir: String,
      base: String, idx: String, withReindex: Boolean = true): DataFrame = {
    wipeAll(s, base, idx)
    val cfg = mkCfg(base, idx, 1.0, exact = false)
    val sl = updateReindexSlices(s, dir)
    stageAndRun(s, base, sl.take(1), cfg)
    ContinuousIngest.maintain(s, cfg) // bookmark only (reconcile, no-op sweep)
    stageAndRun(s, base, sl.slice(1, 2), cfg, from = 1)
    // the purge+reindex under test; `withReindex = false` is the spec's
    // negative control — superseded generations linger and ghost-reject
    // the old-text copies
    if (withReindex)
      ContinuousIngest.maintain(s, cfg) // CDC: purge superseded + reindex
    stageAndRun(s, base, sl.drop(2), cfg, from = 2)
    rollup(s, cfg.corpusPath)
  }

  /** The s30 slices: the s28 arrival WITHOUT the new-text copies — the
    * between-maintenance interleaving s25/s26 deliberately avoid
    * (updates last) and s28 resolves (maintenance between): the updates
    * land in slice 1, byte-copies of their OLD text arrive in slice 2,
    * and the script runs NO maintenance, so the copies probe an index
    * still holding both generations. */
  private[graft] def blindWindowSlices(s: SparkSession, dir: String): Seq[DataFrame] = {
    val docs = docsOf(s, dir)
    val s0 = docs.filter(col("doc_id") % 3 === 0)
    val updKeys = s0.filter(col("doc_id") % 10 === 3)
    val updates = updKeys
      .withColumn("text", concat(col("text"), lit(" upd"),
        col("doc_id").cast("string")))
      .withColumn("n_chars", col("n_chars") + 1000L)
    val s1 = docs.filter(col("doc_id") % 3 === 1).unionByName(updates)
    val oldCopies = updKeys
      .withColumn("doc_id", col("doc_id") + PlantedOffset)
    val s2 = docs.filter(col("doc_id") % 3 === 2).unionByName(oldCopies)
    Seq(s0, s1, s2).map(dated)
  }

  def ingestBlindWindow(s: SparkSession, dir: String): DataFrame =
    runIngestBlindWindow(s, dir, s"${root(dir)}_bw", indexName(dir) + "_bw")

  /** The s30 script: all three slices drain with NO maintenance run —
    * the documented conservative blind window between maintenance
    * cadences, now a DECLARED hash instead of a doc comment: a copy of
    * an updated (still-live) doc's superseded text is REJECTED against
    * the lingering ghost generation. A refactor that eagerly purged
    * superseded rows at merge time (without the maintenance protocol)
    * would accept the copies and break this hash — while one that
    * stopped purging at maintenance breaks s28's. The two hashes pin
    * the window's both edges. */
  private[graft] def runIngestBlindWindow(s: SparkSession, dir: String,
      base: String, idx: String): DataFrame = {
    wipeAll(s, base, idx)
    val cfg = mkCfg(base, idx, 1.0, exact = false)
    stageAndRun(s, base, blindWindowSlices(s, dir), cfg)
    rollup(s, cfg.corpusPath)
  }

  def ingestVectorReindex(s: SparkSession, dir: String): DataFrame =
    runIngestVectorReindex(s, dir, s"${root(dir)}_vr", indexName(dir) + "_vr")

  /** The s31 script: s29 WITHOUT maintenance B — the embedding
    * families' blind window declared, the way s30 declared the text
    * family's. Updates land new text AND a negated vector under the
    * same ids in batch 1, and NOTHING runs between that merge and the
    * serving probe, so BOTH generations serve: the OLD embedding still
    * HITS (the stale vector is the documented window — an eager
    * merge-time vector purge would flip it to a miss and break this
    * hash, while a dropped maintenance purge breaks s29's), and the
    * NEW embedding hits through the per-batch index append. s29 and
    * s31 pin the vector window's both edges, the s28/s30 pairing. */
  def ingestVectorBlind(s: SparkSession, dir: String): DataFrame =
    runIngestVectorReindex(s, dir, s"${root(dir)}_vb", indexName(dir) + "_vb",
      withReindex = false)

  /** The s29 script — the EMBEDDING-family update-reindex declared:
    * drain batch 0 (base corpus + vectors; the per-batch legs build the
    * LSH ANN index, the IVF lists, and the chunk index), run
    * maintenance A (bookmark only), drain batch 1 (updates merge new
    * text AND a new vector under the same ids — every vector family now
    * holds BOTH generations per updated id), run maintenance B (the
    * vector purge+reindex under test), then PROBE both doc-level
    * families: for each gate-passing updated doc, a search with its OLD
    * embedding must MISS (the stale vector was purged — a lingering
    * ghost answers at cosine 1.0 and breaks the hash) and one with its
    * NEW embedding must HIT the reindexed current vector (a lost
    * replacement breaks it the other way). The chunk family rides the
    * same pipeline but is pinned in VectorReindexSpec (its probe
    * outcome is content-dependent — see runIngestVectorReindex's
    * note). `withReindex = false` is the spec's negative control: both
    * generations serve and the old probes HIT. */
  private[graft] def runIngestVectorReindex(s: SparkSession, dir: String,
      base: String, idx: String, withReindex: Boolean = true): DataFrame = {
    wipeAll(s, base, idx)
    val an = s"${idx}_ann"
    val cn = s"${idx}_ch"
    Seq(an, cn).foreach { n =>
      graft.etl.LshIndex.dropAll(s, n)
      Scratch.wipe(s, BatchLog.logDir(s, n).toString)
    }
    // all three vector families ride the declared pipeline: the LSH and
    // IVF doc-level indexes are hash-witnessed by the probe columns
    // below; the chunk index is exercised end-to-end here but pinned in
    // VectorReindexSpec instead — its old-vs-new probe outcome is not
    // constant-expressible (the two generations share their identical
    // leading chunks, so an old-text chunk probe legitimately hits the
    // reindexed rows).
    val cfg = mkCfg(base, idx, 1.0, exact = false)
      .copy(annIndexName = Some(an), annDims = VecDims,
        ivfIndexPath = Some(s"$base/ivf"), chunkIndexName = Some(cn))
    val sl = vectorSlices(s, dir)
    stageAndRun(s, base, sl.take(1), cfg)
    ContinuousIngest.maintain(s, cfg) // bookmark only (reconcile sweep)
    stageAndRun(s, base, sl.drop(1), cfg, from = 1)
    if (withReindex)
      ContinuousIngest.maintain(s, cfg) // CDC: vector purge + reindex
    vectorProbeResult(s, dir, base, an)
  }

  /** The s29 serving read: ANN-probe the maintained index with each
    * gate-passing updated doc's OLD and NEW embeddings (fresh probe ids
    * offset past the corpus id range — the search's self-id filter must
    * not eat the match) and report per doc whether each probe found the
    * doc itself at cosine ≥ 0.999. Exact-vector probes make LSH recall
    * deterministic: an identical vector lands in the probed bucket of
    * every table, and the negated sibling shares none, so old_hit/
    * new_hit are purge/reindex facts, not banding luck. The IVF index
    * is the run's `base/ivf`; the result is written under `base/probe`
    * and read back, like the streaming replays' sinks. */
  private def vectorProbeResult(s: SparkSession, dir: String,
      base: String, an: String): DataFrame = {
    val off = PlantedOffset
    // the oracle's gate replay, mirrored: an update instance enters the
    // corpus (and the index) iff its scrubbed+normalized text is
    // non-empty and has >= 2 tokens (the pinned permissive thresholds)
    // Persisted because the probe DAG consumes these small frames many
    // times (the LSH search reads the query set twice, the IVF search
    // three times — once as a driver-side collect for the partition
    // filter — and the final result joins back): without the pin the
    // gate replay's scan + PII-scrub regex chain re-executed per
    // consumer, ~6 evaluations per probe (guide §1.2 "don't compute
    // things twice"). Both frames are O(updated docs) rows. The result
    // below is written before returning so both caches can be dropped —
    // a query must not squat on executor memory after its action (the
    // OperatorSmokeSpec no-leaked-pins invariant).
    val updIds = docsOf(s, dir)
      .filter(col("doc_id") % 3 === 0 && col("doc_id") % 10 === 3)
      .withColumn("text", concat(col("text"), lit(" upd"),
        col("doc_id").cast("string")))
      .withColumn("norm", lower(trim(regexp_replace(
        TextOps.scrubPii(col("text")), "\\s+", " "))))
      .filter(length(col("norm")) > 0 &&
        size(split(col("norm"), " ")) >= 2)
      .select(col("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probes = updIds
      .select((col("doc_id") + off).as("vec_id"),
        vecExpr(neg = false).as("embedding"))
      .unionByName(updIds
        .select((col("doc_id") + 2L * off).as("vec_id"),
          vecExpr(neg = true).as("embedding")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def hitCols(res: DataFrame, prefix: String): (DataFrame, DataFrame) = {
      val hits = res.filter(col("cosine_sim") >= 0.999)
      (hits.filter(col("q_id") < lit(2L * off) &&
          col("neighbor_id") === col("q_id") - lit(off))
        .select((col("q_id") - off).as("doc_id"),
          lit(1L).as(s"${prefix}old_hit")),
        hits.filter(col("q_id") >= lit(2L * off) &&
            col("neighbor_id") === col("q_id") - lit(2L * off))
          .select((col("q_id") - 2L * off).as("doc_id"),
            lit(1L).as(s"${prefix}new_hit")))
    }
    val (oldHits, newHits) =
      hitCols(graft.etl.LshIndex.search(s, probes, an, topK = 10), "")
    // IVF at nprobe = 1 is DETERMINISTIC for these probes: the probe
    // ranks clusters with the identical (cosine desc, cluster_id asc)
    // ordering [[graft.operators.IvfIndex.assign]] used to place the
    // vector, over byte-identical operands, so an exact-vector query's
    // rank-1 cluster IS the stored vector's cluster — the NEW-embedding
    // hit cannot be lost to cluster routing, and the OLD-embedding miss
    // holds under any routing (its id's only stored vector is at cosine
    // −1). Scanning one list keeps the serving probe O(corpus/k) per
    // query — an earlier all-cluster variant measured 5× growth at 10×
    // corpus, a brute scan in disguise.
    val (ivfOld, ivfNew) = hitCols(graft.operators.IvfIndex
      .searchIndexDirAuto(s, s"$base/ivf", probes, topK = 10, nprobe = 1),
      "ivf_")
    val result = updIds
      .join(oldHits, Seq("doc_id"), "left_outer")
      .join(newHits, Seq("doc_id"), "left_outer")
      .join(ivfOld, Seq("doc_id"), "left_outer")
      .join(ivfNew, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("old_hit"), lit(0L)).as("old_hit"),
        coalesce(col("new_hit"), lit(0L)).as("new_hit"),
        coalesce(col("ivf_old_hit"), lit(0L)).as("ivf_old_hit"),
        coalesce(col("ivf_new_hit"), lit(0L)).as("ivf_new_hit"))
    val out = s"$base/probe"
    try result.write.mode("overwrite").parquet(out)
    finally {
      updIds.unpersist(blocking = false)
      probes.unpersist(blocking = false)
    }
    s.read.parquet(out).orderBy(col("doc_id"))
  }

  /** DuckDB fragment: the PII scrub chain over `text` — the shared
    * mirror of [[TextOps.scrubPii]] (one definition for every oracle
    * replaying the scrub). */
  private def scrubSql: String = TextOps.scrubSqlChain("text")

  /** Shared oracle CTE prefix: scrub+normalize, gates, within-slice
    * exact dedup — identical accept algebra across the three declared
    * regimes; `arrSql` supplies each regime's arrival slices. */
  private def gatesCtes(arrSql: String): String = s"""
      b AS (
        SELECT doc_id,
          lower(trim(regexp_replace($scrubSql, '\\s+', ' ', 'g'))) AS norm,
          CAST(n_chars AS BIGINT) AS n_chars
        FROM documents),
      arr AS ($arrSql),
      -- gates at the pinned thresholds: non-empty normalized text
      -- (punct ratio is NULL on '' and fails closed) + has a 2-gram
      gated AS (
        SELECT slice, id, norm, n_chars, string_split(norm, ' ') AS ws
        FROM arr
        WHERE len(norm) > 0 AND len(string_split(norm, ' ')) >= 2),
      -- within-batch exact dedup: min id per normalized fingerprint
      dedup AS (
        SELECT slice, id, norm, n_chars, ws FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY slice, norm
                                       ORDER BY id) AS rn
          FROM gated) WHERE rn = 1)"""

  /** Shared oracle CTE block (the τ = 1.0 regimes): canonical 3-gram
    * shingle-SET key per surviving instance (exact Jaccard 1.0 <=>
    * equal sets; docs with < 3 tokens have no shingles and can neither
    * drop nor be dropped), NULL-skey passthrough, and the within-batch
    * component collapse (min id per shingle-set key). ONE definition —
    * a fix to the canonical key applies to every oracle that hashes
    * against it (s25/s27/s28). */
  private def skeyCtes: String = """
      skeys AS (
        SELECT d.slice, d.id,
          md5(string_agg(s.sh, chr(1) ORDER BY s.sh)) AS skey
        FROM dedup d, LATERAL (
          SELECT unnest(list_distinct(list_transform(
            range(1, greatest(len(d.ws) - 1, 1)),
            i -> d.ws[i] || ' ' || d.ws[i+1] || ' ' || d.ws[i+2]))) AS sh) s
        WHERE len(d.ws) >= 3
        GROUP BY d.slice, d.id),
      dk AS (
        SELECT d.slice, d.id, d.n_chars, k.skey
        FROM dedup d LEFT JOIN skeys k
          ON k.slice = d.slice AND k.id = d.id),
      -- within-batch component collapse at Jaccard 1.0: min id per
      -- shingle-set key; shingle-less docs pass through
      comp AS (
        SELECT slice, id, n_chars, skey FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY slice, skey
                                       ORDER BY id) AS rn2
          FROM dk WHERE skey IS NOT NULL) WHERE rn2 = 1
        UNION ALL
        SELECT slice, id, n_chars, skey FROM dk WHERE skey IS NULL)"""

  private val s25 = QueryDef(
    "s25_ingest_e2e",
    Some(s"""
      WITH ${gatesCtes(s"""
        SELECT doc_id % 3 AS slice, doc_id AS id, norm, n_chars FROM b
        UNION ALL
        SELECT 1, doc_id + $PlantedOffset, norm, n_chars FROM b
        WHERE doc_id % 3 = 0 AND doc_id % 5 = 0
        UNION ALL
        -- re-normalize the appended suffix: the engine normalizes the
        -- CONCATENATED text, so a blank base norm must collapse to the
        -- single token 'upd<id>' (and fail the 2-gram gate), not gain a
        -- phantom leading empty token
        SELECT 2, doc_id,
          lower(trim(regexp_replace(
            norm || ' upd' || CAST(doc_id AS VARCHAR), '\\s+', ' ', 'g'))),
          n_chars + 1000
        FROM b WHERE doc_id % 3 = 0 AND doc_id % 10 = 3""")},
      $skeyCtes,
      -- cross-batch index probe: a doc is dropped iff an ACCEPTED doc
      -- of an earlier batch carries the identical shingle set
      acc0 AS (SELECT * FROM comp WHERE slice = 0),
      acc1 AS (
        SELECT * FROM comp WHERE slice = 1 AND (skey IS NULL OR
          skey NOT IN (SELECT skey FROM acc0 WHERE skey IS NOT NULL))),
      acc2 AS (
        SELECT * FROM comp WHERE slice = 2 AND (skey IS NULL OR
          skey NOT IN (SELECT skey FROM acc0 WHERE skey IS NOT NULL
                       UNION
                       SELECT skey FROM acc1 WHERE skey IS NOT NULL))),
      -- keyed upsert: later slice wins per id (doc_date is id-derived,
      -- so the id IS the merge key)
      final AS (
        SELECT id, n_chars FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY id
                                       ORDER BY slice DESC) AS rn3
          FROM (SELECT * FROM acc0 UNION ALL
                SELECT * FROM acc1 UNION ALL
                SELECT * FROM acc2)) WHERE rn3 = 1)
      SELECT DATE '$Epoch' + CAST(id % 7 AS INTEGER) AS doc_date,
        COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        CAST(SUM(id) AS BIGINT) AS id_sum
      FROM final
      GROUP BY 1
      ORDER BY doc_date"""),
    (s, dir) => ingestE2E(s, dir),
    // Bench discipline (the s23/s24 scripted-sequence convention): the
    // staged three-batch ingest is the SETUP — a periodic pipeline run,
    // ~30 Spark jobs of per-batch protocol cost (gates, dedup, probe,
    // WAP stage+audit+publish, report merge, index append) that a real
    // deployment amortizes over its batch cadence, measured and
    // recorded per-leg in SCALE.md — and the timed path is the serving
    // read of the table the pipeline published. Verify always runs the
    // full self-contained `build`.
    benchBuild = Some((s, dir) =>
      rollup(s, s"${root(dir)}_b/corpus")),
    benchSetup = Some((s, dir) => {
      runIngest(s, dir, s"${root(dir)}_b", indexName(dir) + "_b")
      ()
    }))

  private val s26 = QueryDef(
    "s26_ingest_e2e_fuzzy",
    Some(s"""
      WITH RECURSIVE ${gatesCtes(s"""
        SELECT doc_id % 3 AS slice, doc_id AS id, norm, n_chars FROM b
        UNION ALL
        -- fuzzy plants: 8 appended tokens, re-normalized (blank base
        -- collapses instead of gaining a phantom empty token)
        SELECT 1, doc_id + $PlantedOffset,
          lower(trim(regexp_replace(
            norm || ' fz' || CAST(doc_id + $PlantedOffset AS VARCHAR)
                 || ' $FuzzyFiller', '\\s+', ' ', 'g'))),
          n_chars
        FROM b WHERE doc_id % 3 = 0 AND doc_id % 5 = 0
        UNION ALL
        SELECT 2, doc_id,
          lower(trim(regexp_replace(
            norm || ' upd' || CAST(doc_id AS VARCHAR), '\\s+', ' ', 'g'))),
          n_chars + 1000
        FROM b WHERE doc_id % 3 = 0 AND doc_id % 10 = 3""")},
      -- distinct 3-gram shingles per surviving instance (docs with < 3
      -- tokens have none and can neither drop nor be dropped)
      sh AS (
        SELECT d.slice, d.id, s.sh AS shingle
        FROM dedup d, LATERAL (
          SELECT unnest(list_distinct(list_transform(
            range(1, greatest(len(d.ws) - 1, 1)),
            i -> d.ws[i] || ' ' || d.ws[i+1] || ' ' || d.ws[i+2]))) AS sh) s
        WHERE len(d.ws) >= 3),
      sizes AS (SELECT slice, id, COUNT(*) AS n_sh FROM sh GROUP BY 1, 2),
      -- EXACT pairwise Jaccard between every two instances sharing a
      -- shingle — the completeness the engine's exactCandidates path
      -- guarantees (prefix-filter within a batch, shared-shingle probe
      -- across batches); banding recall never enters the accept set
      jac AS (
        SELECT a.slice AS s_a, a.id AS i_a, b2.slice AS s_b, b2.id AS i_b,
          COUNT(*) AS n_inter
        FROM sh a JOIN sh b2 ON a.shingle = b2.shingle
          AND (a.slice <> b2.slice OR a.id <> b2.id)
        GROUP BY 1, 2, 3, 4),
      jp AS (
        SELECT j.s_a, j.i_a, j.s_b, j.i_b,
          j.n_inter / (za.n_sh + zb.n_sh - j.n_inter) AS jaccard
        FROM jac j
        JOIN sizes za ON za.slice = j.s_a AND za.id = j.i_a
        JOIN sizes zb ON zb.slice = j.s_b AND zb.id = j.i_b),
      -- within-slice transitive collapse at tau: recursive min-label
      -- walk over the qualifying-pair graph (the ConnectedComponents
      -- semantics), min id kept per component
      edges AS (
        SELECT s_a AS slice, i_a AS a, i_b AS b FROM jp
        WHERE s_a = s_b AND jaccard >= $FuzzyTau),
      walk(slice, node, reach) AS (
        SELECT slice, a, a FROM edges
        UNION
        SELECT w.slice, w.node, e.b FROM walk w
        JOIN edges e ON e.slice = w.slice AND e.a = w.reach),
      wcomp AS (
        SELECT slice, node AS id, MIN(reach) AS component
        FROM walk GROUP BY slice, node),
      surv AS (
        SELECT d.slice, d.id, d.n_chars FROM dedup d
        LEFT JOIN wcomp c ON c.slice = d.slice AND c.id = d.id
        WHERE c.id IS NULL OR c.component = d.id),
      -- cross-batch exact probe: a survivor is dropped iff an ACCEPTED
      -- earlier-batch doc under a DIFFERENT id is >= tau similar (the
      -- same-id exclusion is the updated-doc self-pair filter)
      acc0 AS (SELECT * FROM surv WHERE slice = 0),
      acc1 AS (
        SELECT s.* FROM surv s WHERE s.slice = 1 AND NOT EXISTS (
          SELECT 1 FROM jp JOIN acc0 o ON jp.s_a = 0 AND jp.i_a = o.id
          WHERE jp.s_b = 1 AND jp.i_b = s.id
            AND jp.jaccard >= $FuzzyTau AND jp.i_a <> s.id)),
      acc2 AS (
        SELECT s.* FROM surv s WHERE s.slice = 2 AND NOT EXISTS (
          SELECT 1 FROM jp
          WHERE jp.s_b = 2 AND jp.i_b = s.id
            AND jp.jaccard >= $FuzzyTau AND jp.i_a <> s.id
            AND ((jp.s_a = 0 AND EXISTS (
                    SELECT 1 FROM acc0 o WHERE o.id = jp.i_a))
              OR (jp.s_a = 1 AND EXISTS (
                    SELECT 1 FROM acc1 o WHERE o.id = jp.i_a))))),
      final AS (
        SELECT id, n_chars FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY id
                                       ORDER BY slice DESC) AS rn3
          FROM (SELECT * FROM acc0 UNION ALL
                SELECT * FROM acc1 UNION ALL
                SELECT * FROM acc2)) WHERE rn3 = 1)
      SELECT DATE '$Epoch' + CAST(id % 7 AS INTEGER) AS doc_date,
        COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        CAST(SUM(id) AS BIGINT) AS id_sum
      FROM final
      GROUP BY 1
      ORDER BY doc_date"""),
    (s, dir) => ingestE2EFuzzy(s, dir),
    benchBuild = Some((s, dir) =>
      rollup(s, s"${root(dir)}_fzb/corpus")),
    benchSetup = Some((s, dir) => {
      runIngestFuzzy(s, dir, s"${root(dir)}_fzb", indexName(dir) + "_fzb")
      ()
    }))

  private val s27 = QueryDef(
    "s27_ingest_delete_sync",
    Some(s"""
      WITH ${gatesCtes(s"""
        SELECT doc_id % 3 AS slice, doc_id AS id, norm, n_chars FROM b
        UNION ALL
        -- byte-copies of the to-be-DELETED docs arrive in slice 2
        SELECT 2, doc_id + $PlantedOffset, norm, n_chars FROM b
        WHERE doc_id % 3 = 0 AND doc_id % 10 = 6""")},
      $skeyCtes,
      acc0 AS (SELECT * FROM comp WHERE slice = 0),
      acc1 AS (
        SELECT * FROM comp WHERE slice = 1 AND (skey IS NULL OR
          skey NOT IN (SELECT skey FROM acc0 WHERE skey IS NOT NULL))),
      -- the scripted DELETE + maintenance: the % 10 = 6 docs leave the
      -- corpus AND (via the delete-sync purge) the index before slice 2
      -- arrives — slice 2's probe reference is the PURGED accept set
      live01 AS (
        SELECT * FROM (SELECT * FROM acc0 UNION ALL SELECT * FROM acc1)
        WHERE NOT (id % 3 = 0 AND id % 10 = 6)),
      acc2 AS (
        SELECT * FROM comp WHERE slice = 2 AND (skey IS NULL OR
          skey NOT IN (SELECT skey FROM live01 WHERE skey IS NOT NULL))),
      final AS (
        SELECT id, n_chars FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY id
                                       ORDER BY slice DESC) AS rn3
          FROM (SELECT * FROM live01 UNION ALL SELECT * FROM acc2))
        WHERE rn3 = 1)
      SELECT DATE '$Epoch' + CAST(id % 7 AS INTEGER) AS doc_date,
        COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        CAST(SUM(id) AS BIGINT) AS id_sum
      FROM final
      GROUP BY 1
      ORDER BY doc_date"""),
    (s, dir) => ingestDeleteSync(s, dir),
    benchBuild = Some((s, dir) =>
      rollup(s, s"${root(dir)}_dsb/corpus")),
    benchSetup = Some((s, dir) => {
      runIngestDeleteSync(s, dir, s"${root(dir)}_dsb",
        indexName(dir) + "_dsb", withMaintenance = true)
      ()
    }))

  private val s28 = QueryDef(
    "s28_ingest_update_reindex",
    Some(s"""
      WITH ${gatesCtes(s"""
        SELECT doc_id % 3 AS slice, doc_id AS id, norm, n_chars FROM b
        UNION ALL
        -- the UPDATES: same id, new text, merged as a keyed upsert
        SELECT 1, doc_id,
          lower(trim(regexp_replace(
            norm || ' upd' || CAST(doc_id AS VARCHAR), '\\s+', ' ', 'g'))),
          n_chars + 1000
        FROM b WHERE doc_id % 3 = 0 AND doc_id % 10 = 3
        UNION ALL
        -- byte-copies of the updated docs' OLD text under fresh ids:
        -- accepted iff the superseded index generation was purged
        SELECT 2, doc_id + $PlantedOffset, norm, n_chars FROM b
        WHERE doc_id % 3 = 0 AND doc_id % 10 = 3
        UNION ALL
        -- byte-copies of their NEW text: must match the reindexed
        -- current version and be dropped
        SELECT 2, doc_id + ${2 * PlantedOffset},
          lower(trim(regexp_replace(
            norm || ' upd' || CAST(doc_id AS VARCHAR), '\\s+', ' ', 'g'))),
          n_chars + 1000
        FROM b WHERE doc_id % 3 = 0 AND doc_id % 10 = 3""")},
      $skeyCtes,
      acc0 AS (SELECT * FROM comp WHERE slice = 0),
      -- same-id pairs are EXCLUDED (the engine's indexed-self filter):
      -- an update never matches its own superseded version
      acc1 AS (
        SELECT c.* FROM comp c WHERE c.slice = 1 AND (c.skey IS NULL OR
          NOT EXISTS (SELECT 1 FROM acc0 o
                      WHERE o.skey = c.skey AND o.id <> c.id))),
      -- the probe reference after the update-reindex: exactly ONE
      -- generation per id — the LATEST accepted version (the purge
      -- dropped the superseded rows, the reidx append restored current)
      ref AS (
        SELECT id, n_chars, skey FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY id
                                       ORDER BY slice DESC) AS rnv
          FROM (SELECT * FROM acc0 UNION ALL SELECT * FROM acc1))
        WHERE rnv = 1),
      acc2 AS (
        SELECT c.* FROM comp c WHERE c.slice = 2 AND (c.skey IS NULL OR
          NOT EXISTS (SELECT 1 FROM ref r
                      WHERE r.skey = c.skey AND r.id <> c.id))),
      final AS (
        SELECT id, n_chars FROM ref
        UNION ALL
        SELECT id, n_chars FROM acc2)
      SELECT DATE '$Epoch' + CAST(id % 7 AS INTEGER) AS doc_date,
        COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        CAST(SUM(id) AS BIGINT) AS id_sum
      FROM final
      GROUP BY 1
      ORDER BY doc_date"""),
    (s, dir) => ingestUpdateReindex(s, dir),
    benchBuild = Some((s, dir) =>
      rollup(s, s"${root(dir)}_urb/corpus")),
    benchSetup = Some((s, dir) => {
      runIngestUpdateReindex(s, dir, s"${root(dir)}_urb",
        indexName(dir) + "_urb")
      ()
    }))

  private val s29 = QueryDef(
    "s29_ingest_vector_reindex",
    // The oracle replays the one engine-side decision DuckDB can see —
    // which update instances pass the gates (and therefore merge and
    // index) — and pins the CONSTANT probe outcome the maintained
    // indexes must produce for every one of them, for BOTH doc-level
    // vector families: the OLD embedding misses (old_hit/ivf_old_hit 0:
    // the superseded vector was purged; a stale vector answers its own
    // probe at cosine 1.0 and flips it), the NEW embedding hits
    // (new_hit/ivf_new_hit 1: the reidx append restored exactly the
    // current vector; a lost replacement flips it — the IVF probe's
    // nprobe = 1 routing provably reaches the assigned cluster for an
    // exact-vector query, see vectorProbeResult, so its hits are purge
    // facts, not quantizer luck). The vectors never enter the oracle — both
    // engines agree on the probe SET, and the hit pattern is what the
    // protocol guarantees.
    Some(s"""
      WITH b AS (
        SELECT doc_id,
          lower(trim(regexp_replace($scrubSql, '\\s+', ' ', 'g'))) AS norm
        FROM documents),
      upd AS (
        SELECT doc_id,
          lower(trim(regexp_replace(
            norm || ' upd' || CAST(doc_id AS VARCHAR), '\\s+', ' ', 'g')))
            AS unorm
        FROM b WHERE doc_id % 3 = 0 AND doc_id % 10 = 3)
      SELECT doc_id, CAST(0 AS BIGINT) AS old_hit,
        CAST(1 AS BIGINT) AS new_hit,
        CAST(0 AS BIGINT) AS ivf_old_hit,
        CAST(1 AS BIGINT) AS ivf_new_hit
      FROM upd
      WHERE len(unorm) > 0 AND len(string_split(unorm, ' ')) >= 2
      ORDER BY doc_id"""),
    (s, dir) => ingestVectorReindex(s, dir),
    // benchmark discipline (the s25–s28 convention): the two-batch
    // ingest + maintenance pipeline is the untimed SETUP; the timed
    // path is the ANN serving probe of the maintained index.
    benchBuild = Some((s, dir) =>
      vectorProbeResult(s, dir, s"${root(dir)}_vrb", indexName(dir) + "_vrb_ann")),
    benchSetup = Some((s, dir) => {
      runIngestVectorReindex(s, dir, s"${root(dir)}_vrb",
        indexName(dir) + "_vrb")
      ()
    }))

  private val s31 = QueryDef(
    "s31_ingest_vector_blind",
    // s29's oracle with the hit pattern the ABSENT maintenance makes
    // inevitable: every gate-passing update instance merged and every
    // vector family appended BOTH generations, nothing purged — so the
    // OLD embedding's self-probe hits the lingering stale vector
    // (old_hit/ivf_old_hit 1: the declared blind window; an eager
    // merge-time purge flips it) and the NEW embedding hits its
    // batch-1 append (new_hit/ivf_new_hit 1). Constant-expressible for
    // the same reason as s29: both engines agree on the probe SET (the
    // gate replay below), and the hit pattern is protocol fact —
    // sign-separated cosines, never threshold luck.
    Some(s"""
      WITH b AS (
        SELECT doc_id,
          lower(trim(regexp_replace($scrubSql, '\\s+', ' ', 'g'))) AS norm
        FROM documents),
      upd AS (
        SELECT doc_id,
          lower(trim(regexp_replace(
            norm || ' upd' || CAST(doc_id AS VARCHAR), '\\s+', ' ', 'g')))
            AS unorm
        FROM b WHERE doc_id % 3 = 0 AND doc_id % 10 = 3)
      SELECT doc_id, CAST(1 AS BIGINT) AS old_hit,
        CAST(1 AS BIGINT) AS new_hit,
        CAST(1 AS BIGINT) AS ivf_old_hit,
        CAST(1 AS BIGINT) AS ivf_new_hit
      FROM upd
      WHERE len(unorm) > 0 AND len(string_split(unorm, ' ')) >= 2
      ORDER BY doc_id"""),
    (s, dir) => ingestVectorBlind(s, dir),
    benchBuild = Some((s, dir) =>
      vectorProbeResult(s, dir, s"${root(dir)}_vbb", indexName(dir) + "_vbb_ann")),
    benchSetup = Some((s, dir) => {
      runIngestVectorReindex(s, dir, s"${root(dir)}_vbb",
        indexName(dir) + "_vbb", withReindex = false)
      ()
    }))

  private val s30 = QueryDef(
    "s30_ingest_blind_window",
    Some(s"""
      WITH ${gatesCtes(s"""
        SELECT doc_id % 3 AS slice, doc_id AS id, norm, n_chars FROM b
        UNION ALL
        -- the UPDATES: same id, new text, merged as a keyed upsert
        SELECT 1, doc_id,
          lower(trim(regexp_replace(
            norm || ' upd' || CAST(doc_id AS VARCHAR), '\\s+', ' ', 'g'))),
          n_chars + 1000
        FROM b WHERE doc_id % 3 = 0 AND doc_id % 10 = 3
        UNION ALL
        -- byte-copies of the updated docs' OLD text under fresh ids —
        -- NO maintenance ran, so they must be REJECTED against the
        -- lingering superseded generation (the pinned blind window)
        SELECT 2, doc_id + $PlantedOffset, norm, n_chars FROM b
        WHERE doc_id % 3 = 0 AND doc_id % 10 = 3""")},
      $skeyCtes,
      acc0 AS (SELECT * FROM comp WHERE slice = 0),
      -- same-id pairs are EXCLUDED (the engine's indexed-self filter)
      acc1 AS (
        SELECT c.* FROM comp c WHERE c.slice = 1 AND (c.skey IS NULL OR
          NOT EXISTS (SELECT 1 FROM acc0 o
                      WHERE o.skey = c.skey AND o.id <> c.id))),
      -- the blind window's probe reference: EVERY accepted instance of
      -- both earlier slices — superseded generations INCLUDED, because
      -- nothing purged them (contrast s28's one-generation ref)
      ref AS (
        SELECT id, skey FROM acc0
        UNION ALL
        SELECT id, skey FROM acc1),
      acc2 AS (
        SELECT c.* FROM comp c WHERE c.slice = 2 AND (c.skey IS NULL OR
          NOT EXISTS (SELECT 1 FROM ref r
                      WHERE r.skey = c.skey AND r.id <> c.id))),
      final AS (
        SELECT id, n_chars FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY id
                                       ORDER BY slice DESC) AS rn3
          FROM (SELECT * FROM acc0 UNION ALL
                SELECT * FROM acc1 UNION ALL
                SELECT * FROM acc2)) WHERE rn3 = 1)
      SELECT DATE '$Epoch' + CAST(id % 7 AS INTEGER) AS doc_date,
        COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        CAST(SUM(id) AS BIGINT) AS id_sum
      FROM final
      GROUP BY 1
      ORDER BY doc_date"""),
    (s, dir) => ingestBlindWindow(s, dir),
    benchBuild = Some((s, dir) =>
      rollup(s, s"${root(dir)}_bwb/corpus")),
    benchSetup = Some((s, dir) => {
      runIngestBlindWindow(s, dir, s"${root(dir)}_bwb",
        indexName(dir) + "_bwb")
      ()
    }))

  override val defs: Seq[QueryDef] = Seq(s25, s26, s27, s28, s29, s30, s31)
}
