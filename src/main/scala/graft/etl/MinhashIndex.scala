package graft.etl

import graft.operators.DedupOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted corpus-side MinHash band index — the artifact a continuous
  * ingestion pipeline maintains so per-batch near-dup probes never
  * recompute the corpus (the reference's per-record dedup check,
  * `src/lambdas/ingest/ingestStreamateModelPerformance.py:72-142`, is the
  * degenerate one-row form of this probe). Three tables, each
  * partitioned by `batch_id` and bucketed on its join keys:
  *
  *  - `<name>_banded(doc_id, band, bucket)` bucketed by (band, bucket):
  *    the LSH candidate index. A probe shuffles only its OWN banded rows
  *    (batch-sized) to the index's bucketing; the corpus side is read in
  *    place with zero exchange (MinhashIndexSpec asserts this on the
  *    executed plan — the batch partition column does not cost the
  *    bucketed distribution, probed before commit, see [[BatchLog]]).
  *  - `<name>_shingles(doc_id, shingle)` bucketed by (doc_id, shingle):
  *    the exact-Jaccard verify side — intersection counts join candidate
  *    pairs here, again corpus-exchange-free.
  *  - `<name>_sizes(doc_id, n_sh)` bucketed by doc_id: Jaccard
  *    denominators, joined (not broadcast — one row per corpus doc is NOT
  *    driver-small at 100 TB) with the corpus side read in place.
  *
  * At 100 TB the bucketed layout is the entire point: the corpus never
  * moves. Probe cost is O(batch) shuffle + colocated reads of the index
  * buckets the batch actually touches. Index refresh is [[append]], run
  * once per accepted batch and EXACTLY-ONCE BY CONSTRUCTION: rows are
  * batch-partition-tagged and every append is driven through the
  * committed [[BatchLog]] — a replayed append is a no-op, a crashed one
  * purges its partial partition and converges on retry. Hyperparameters
  * (permutations, bands, buckets) persist in an [[IndexMeta]] table at
  * build time; maintenance and probes READ them instead of trusting
  * callers to re-supply the same values.
  *
  * The shingle table stores shingle STRINGS by default so the verify
  * stage is value-identical to the recompute pipeline (and its DuckDB
  * oracle); `hashedShingles = true` stores 8-byte xxhash64 values
  * instead — intersection counts are identical absent 64-bit collisions
  * (spec-asserted pair-for-pair), cutting the index to a fraction of
  * corpus bytes. Bench probes the hashed form (the production layout);
  * Verify rebuilds and checks the string form against the oracle.
  */
object MinhashIndex {

  final case class Tables(banded: String, shingles: String, sizes: String)

  def tables(name: String): Tables =
    Tables(s"${name}_banded", s"${name}_shingles", s"${name}_sizes")

  /** The build-vs-append probe: [[IndexCompaction.exists]] over the
    * three tables. */
  def exists(s: SparkSession, name: String): Boolean = {
    val t = tables(name)
    IndexCompaction.exists(s, name, Seq(t.banded, t.shingles, t.sizes))
  }

  /** OPT-IN side table for the exact cross-batch probe
    * ([[exactIncrementalPairs]]): the same (doc_id, shingle) rows as
    * `_shingles`, laid out for the OTHER access pattern — partitioned
    * by `sh_p = pmod(xxhash64(shingle), parts)` so a probe prunes
    * its scan to the partitions the batch's shingles actually hash
    * into, instead of scanning the whole stored shingle table per
    * batch (the round-16 design's documented completeness price). The
    * main table keeps its (doc_id, shingle) bucketing — the banded
    * path's verify join depends on it — and the side table exists only
    * when the index was built with `exactProbe = true` (persisted in
    * [[IndexMeta]]; storage-doubling is a regime choice, never a
    * default). Maintenance: appends write it inside the same
    * exactly-once batch protocol; compaction re-derives it from the
    * folded main table (one extra write pass of rows the fold
    * rewrites anyway), and the probe HEALS the one crash window left
    * (main folded, side re-derive crashed) by comparing committed
    * batch-partition sets and re-deriving on mismatch. The probe
    * additionally excludes UNCOMMITTED orphan batch partitions from
    * its scan (a crash between the side write and the batch-log commit
    * leaves partial rows until that batch replays), so no crash window
    * feeds it ghost rows.
    *
    * GEOMETRY GROWS WITH THE TABLE (the [[LshIndex.regrow]] pattern):
    * the partition count starts at [[DefaultShPParts]] and is recorded
    * in [[IndexMeta]] (`sh_p_parts`) — a fixed constant would cap the
    * probe's pruning factor at 1/64 of the shingle table forever, a
    * real per-probe scan cost at 100 TB. [[compact]] measures mean
    * rows-per-partition after each fold and re-derives the side table
    * at the next power-of-two width once it outgrows
    * [[SideRowsPerPartTarget]]; the regrown table lands under a
    * geometry-suffixed name and the meta pointer flips atomically
    * ([[IndexMeta.write]] is a stage-then-swap), so a crash on either
    * side of the flip leaves ONE consistent (table, modulus) pair
    * serving — probes never mix a new modulus with an old layout. */
  private[etl] val DefaultShPParts = 64

  /** Mean side-table rows per partition above which [[compact]] widens
    * the geometry. At the default 64 partitions this triggers around
    * 256M stored shingle rows — far past any test corpus, so local
    * runs keep the build geometry; the spec exercises the regrow with
    * an explicit tiny target. */
  private[etl] val SideRowsPerPartTarget = 4L * 1000 * 1000

  def sideTable(name: String): String = s"${name}_shingles_bysh"

  /** The side-table generation serving geometry `parts` — the build
    * geometry keeps the unsuffixed name (and its specs); regrown
    * generations carry the width so a pointer flip is a rename-free
    * swap. */
  private[etl] def sideTableAt(name: String, parts: Int): String =
    if (parts == DefaultShPParts) sideTable(name)
    else s"${sideTable(name)}_p$parts"

  /** The recorded side-table partition count (build default when the
    * index predates the geometry key). */
  private[etl] def sideParts(meta: Map[String, String]): Int =
    meta.getOrElse("sh_p_parts", DefaultShPParts.toString).toInt

  private def shP(c: Column, parts: Int): Column =
    pmod(xxhash64(c), lit(parts.toLong))

  private def writeSide(s: SparkSession, rows: DataFrame, name: String,
      batchId: String, append: Boolean, parts: Int): Unit = {
    rows.select(col("doc_id"), col("shingle"),
        shP(col("shingle"), parts).as("sh_p"))
      .withColumn("batch_id", lit(BatchLog.sanitize(batchId)))
      .repartition(parts, col("sh_p"))
      .write.mode(if (append) "append" else "overwrite")
      .partitionBy("batch_id", "sh_p")
      .format("parquet")
      .saveAsTable(sideTableAt(name, parts))
  }

  /** Is the side-table generation at `side` derived from the SAME
    * committed content as the main shingle table? Batch-partition
    * parity is the witness: every maintenance that changes main's
    * partitions (fold, purge, reindex) rewrites or re-derives the side
    * in the same protocol, so a mismatch proves a crash between the
    * two — the probe re-derives before trusting it. (Geometry
    * consistency is NOT this check's job: the meta pointer names the
    * one (table, modulus) pair that serves, and the regrow flip is
    * atomic — see [[sideTableAt]].) */
  private def sideHealthy(s: SparkSession, name: String,
      side: String): Boolean = {
    if (!s.catalog.tableExists(side)) return false
    val committed = BatchLog.committed(s, BatchLog.logDir(s, name))
    def parts(t: String) = BatchLog.partitionIds(s, t).toSet.filter(committed)
    parts(side) == parts(tables(name).shingles)
  }

  /** Rebuild the side table from the main table's committed rows —
    * the compaction-time derive and the probe-time heal share this one
    * definition. Same-geometry rebuilds drop-and-rewrite in place, NOT
    * a stage-swap: the side table is DERIVED state with a probe-side
    * heal, so the only durability requirement is that every crash
    * window is detectable — a crash after the drop leaves the table
    * absent, a crash mid-write leaves no catalog entry (saveAsTable
    * commits last); [[sideHealthy]] reports false for both and the
    * next probe re-derives. (A rename swap is NOT usable here:
    * renaming a partitioned managed table leaves the partitions'
    * location URIs pointing into the retired stage directory — silent
    * empty reads.)
    *
    * `newParts > 0` REGROWS the geometry instead: the next generation
    * is written under its width-suffixed name while the old one keeps
    * serving, the meta pointer flips atomically, and the retired
    * generation drops. A crash before the flip leaves the old
    * (table, modulus) pair serving and the partial next generation
    * swept here on retry; a crash after it leaves the new pair serving
    * and the retired table as dead weight, also swept here. */
  private[etl] def reDeriveSide(s: SparkSession, name: String,
      newParts: Int = 0): Unit = {
    val cur = sideParts(IndexMeta.read(s, name))
    val parts = if (newParts > 0) newParts else cur
    val target = sideTableAt(name, parts)
    val committed = BatchLog.committed(s, BatchLog.logDir(s, name))
    // materialize BEFORE the drop: the derive reads the main table, not
    // the side table, but a lazy plan captured here must not race the
    // catalog mutation below
    val rows = BatchLog.committedTable(s, tables(name).shingles, committed)
      .select(col("doc_id"), col("shingle"),
        shP(col("shingle"), parts).as("sh_p"), col("batch_id"))
    dropTable(s, target)
    rows.repartition(parts, col("sh_p"))
      .write.partitionBy("batch_id", "sh_p")
      .format("parquet").saveAsTable(target)
    if (parts != cur)
      IndexMeta.write(s, name,
        IndexMeta.read(s, name) + ("sh_p_parts" -> parts.toString))
    // sweep every other generation (the retired one after a flip, or
    // partials a crashed regrow left behind)
    sweepSideGenerations(s, name, keep = target)
  }

  /** Drop every side-table generation except `keep` — catalog-listed,
    * so retired and crash-partial generations both leave. */
  private def sweepSideGenerations(s: SparkSession, name: String,
      keep: String): Unit =
    s.sql(s"SHOW TABLES LIKE '${sideTable(name).toLowerCase}*'").collect()
      .map(_.getAs[String]("tableName"))
      .filterNot(_ == keep.toLowerCase)
      .foreach(dropTable(s, _))

  /** Whether `name` maintains the exact-probe side table (set at build
    * via `exactProbe = true`, read from [[IndexMeta]] like every other
    * build-time choice). */
  def hasExactProbe(s: SparkSession, name: String): Boolean =
    IndexMeta.read(s, name).getOrElse("exact_probe", "false").toBoolean

  /** Batch partition value a full rebuild writes under. */
  val BuildBatchId: String = BatchLog.BuildId

  /** [[IndexMeta]] identity of the default seeded-xxhash64 permutation
    * hash. Callers swapping `hashFn` must pass a distinct id at build
    * AND probe — the mismatch check is what turns "silently empty
    * candidates" into an error. */
  val DefaultHashFnId = "xxh64-seed"

  private def defaultHashFn: (Column, Int) => Column =
    (c, seed) => xxhash64(c, lit(seed))

  /** The production storage form: 8-byte shingle hashes instead of
    * shingle strings, same column name so every downstream join is
    * unchanged. Intersection counts — and therefore the final Jaccard
    * pairs — are identical absent 64-bit collisions (spec-asserted
    * pair-for-pair on the testdata), and the index shrinks to a
    * fraction of corpus bytes: at 100 TB the shingle table is the
    * index's dominant cost, and it stops carrying text. */
  private def hashShingleCol(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))

  /** Whether `name` was built with `hashedShingles = true` — probes
    * adapt from the STORED schema, so callers never pass the flag
    * twice. */
  def isHashed(s: SparkSession, name: String): Boolean =
    s.table(tables(name).shingles).schema("shingle").dataType ==
      org.apache.spark.sql.types.LongType

  /** An index table minus its maintenance tag — what every join and
    * signature derivation consumes. A projection right after the scan
    * keeps the bucketed distribution (plan-asserted in spec). */
  private[etl] def stored(s: SparkSession, table: String): DataFrame =
    s.table(table).drop("batch_id")

  /** Full rebuild of the index over `corpus` (must carry doc_id, text).
    * Drops + recreates the three tables, resets the batch log (a rebuild
    * re-establishes what "already appended" means), persists the
    * hyperparameters ([[IndexMeta]]) BEFORE any data lands — a crashed
    * build either lacks the banded table (rebuild) or is complete but
    * uncommitted (an append of `buildBatchId` purges and converges), and
    * maintenance never runs against parameters it can't read. The
    * initial rows are tagged `buildBatchId`, committed to the log last.
    *
    * The shingle table is written first and the signature derived from
    * the STORED rows, so the three artifacts are consistent even if the
    * corpus frame is non-deterministic under recompute. (In hashed mode
    * signatures must derive from the string shingles — the stored hashes
    * can't be re-hashed into h1/h2 — so the string shingle frame is
    * PERSISTED for the duration of the build and both writes read that
    * one evaluation, preserving the same consistency invariant.) */
  def build(s: SparkSession, corpus: DataFrame, name: String,
      numPerms: Int = 32, bands: Int = 8, nBuckets: Int = 32,
      hashFn: (Column, Int) => Column = defaultHashFn,
      hashedShingles: Boolean = false,
      hashFnId: String = DefaultHashFnId,
      buildBatchId: String = BuildBatchId,
      exactProbe: Boolean = false): Tables = {
    val t = tables(name)
    Seq(t.banded, t.shingles, t.sizes,
      sideTable(name), sideTable(name) + "__new").foreach(dropTable(s, _))
    // regrown generations from a previous incarnation of this name
    sweepSideGenerations(s, name, keep = "")
    val log = BatchLog.logDir(s, name)
    BatchLog.reset(s, log)
    IndexMeta.write(s, name, Map(
      "num_perms" -> numPerms.toString,
      "bands" -> bands.toString,
      "n_buckets" -> nBuckets.toString,
      "hash_fn" -> hashFnId,
      "hashed_shingles" -> hashedShingles.toString,
      "exact_probe" -> exactProbe.toString,
      "sh_p_parts" -> DefaultShPParts.toString))
    val sh0 = DedupOps.shingleRows(corpus)
    val (sh, relSh) = if (hashedShingles) pin(sh0) else (sh0, () => ())
    try {
      writeBucketed(if (hashedShingles) hashShingleCol(sh) else sh,
        t.shingles, nBuckets, append = false, buildBatchId, "doc_id", "shingle")
      // one pinned evaluation per doc row; consumed by two writes below
      val (sig, relSig) = pin(DedupOps
        .minhashSigFromShingles(
          if (hashedShingles) sh else stored(s, t.shingles), numPerms, hashFn))
      try {
        writeBucketed(sig.select(col("doc_id"), col("n_sh")), t.sizes,
          nBuckets, append = false, buildBatchId, "doc_id")
        writeBucketed(DedupOps.bandedBuckets(sig, numPerms, bands, hashFn),
          t.banded, nBuckets, append = false, buildBatchId, "band", "bucket")
      } finally relSig()
    } finally relSh()
    // side table derives from the STORED main rows — same consistency
    // invariant as the signature derivation above (the corpus frame may
    // be non-deterministic under recompute; the stored rows are fact)
    if (exactProbe)
      writeSide(s, stored(s, t.shingles), name, buildBatchId,
        append = false, DefaultShPParts)
    BatchLog.commit(s, log, buildBatchId)
    t
  }

  /** Incremental refresh: append `newDocs`' rows to the three tables —
    * the per-batch maintenance job that keeps probes cheap (accepted
    * batch docs enter the corpus index without any rebuild). Appending
    * with the SAME bucket spec adds one file set per bucket per batch;
    * readers keep the bucketed distribution, so probes stay
    * corpus-exchange-free (spec-asserted post-append).
    *
    * Exactly-once is enforced, not requested: `batchId` is checked
    * against the committed [[BatchLog]] (replay → no-op), any partial
    * rows a crashed prior attempt left are dropped via their batch
    * partition before re-appending, and the marker commits only after
    * all three tables landed. Permutation/band/bucket parameters come
    * from the build's [[IndexMeta]]; `hashFnId` must match the build's
    * (checked — a silent mismatch would corrupt every future probe). */
  def append(s: SparkSession, newDocs: DataFrame, name: String,
      batchId: String,
      hashFn: (Column, Int) => Column = defaultHashFn,
      hashFnId: String = DefaultHashFnId): Unit = {
    val t = tables(name)
    BatchLog.runOnce(s, BatchLog.logDir(s, name), batchId) {
      Seq(t.shingles, t.sizes, t.banded)
        .foreach(dropBatchPartition(s, _, batchId))
      dropSideBatch(s, name, batchId)
    } {
      val meta = IndexMeta.read(s, name) // one read serves check + params
      IndexMeta.validateIn(meta, name, "hash_fn" -> hashFnId)
      val numPerms = meta("num_perms").toInt
      val bands = meta("bands").toInt
      val nBuckets = meta("n_buckets").toInt
      val exactProbe = meta.getOrElse("exact_probe", "false").toBoolean
      val hashed = isHashed(s, name) // match the built mode, never mix
      // ONE pinned evaluation of the batch's shingles feeds all three
      // writes (see [[pin]]: checkpoint, not persist — block loss fails
      // loudly instead of silently diverging the siblings). The previous
      // non-hashed path re-derived signatures by joining the FULL stored
      // shingle table against the batch's doc ids: an O(corpus) shuffle
      // per batch (measured 14.5 s of a 28 s incremental batch at sf0.1,
      // growing with corpus size) for rows the batch frame already has.
      val (sh, relSh) = pin(DedupOps.shingleRows(newDocs))
      try {
        writeBucketed(if (hashed) hashShingleCol(sh) else sh,
          t.shingles, nBuckets, append = true, batchId, "doc_id", "shingle")
        // the side write reads the same PINNED evaluation as the main
        // write, so the two layouts can never diverge row-for-row; the
        // geometry comes from the meta pointer, so appends always land
        // in the generation that serves
        if (exactProbe)
          writeSide(s, if (hashed) hashShingleCol(sh) else sh, name,
            batchId, append = true, sideParts(meta))
        val (sig, relSig) = pin(
          DedupOps.minhashSigFromShingles(sh, numPerms, hashFn))
        try {
          writeBucketed(sig.select(col("doc_id"), col("n_sh")), t.sizes,
            nBuckets, append = true, batchId, "doc_id")
          writeBucketed(DedupOps.bandedBuckets(sig, numPerms, bands, hashFn),
            t.banded, nBuckets, append = true, batchId, "band", "bucket")
        } finally relSig()
      } finally relSh()
    }
  }

  /** Fold all committed batch partitions back to one file per bucket —
    * run when [[IndexCompaction.fileCount]] drifts far above the bucket
    * count. Probes are row- and plan-identical afterwards
    * (spec-asserted); see [[IndexCompaction]] for the swap protocol.
    *
    * `deletes` purges doc ids during the same rewrite (zero extra pass):
    * corpus-deleted docs otherwise stay as GHOST rows — wasted probe
    * work that accumulates, ghost candidates in probe results, and a
    * blocked data-deletion story. Fed by [[IndexDeleteSync]] from the
    * manifest CDC feed. */
  def compact(s: SparkSession, name: String,
      deletes: Option[IndexCompaction.DeleteSet] = None,
      targetRowsPerBucket: Long = 0,
      protect: Option[String] = None,
      sideRowsPerPart: Long = SideRowsPerPartTarget): Unit = {
    val t = tables(name)
    IndexCompaction.compactFamily(s, name, Seq(
      t.shingles -> Seq("doc_id", "shingle"),
      t.sizes -> Seq("doc_id"),
      t.banded -> Seq("band", "bucket")),
      deletes.map("doc_id" -> _), targetRowsPerBucket, protect)
    // the exact-probe side table re-derives from the folded main rows
    // (purges and reindex protection land there for free); a crash
    // before this completes is the window [[sideHealthy]] detects and
    // the probe heals. Geometry check rides the same pass: once mean
    // rows-per-partition outgrow the target, the re-derive lands at
    // the next power-of-two width that restores it — the probe's
    // pruning factor follows the corpus instead of a fixed constant.
    if (IndexMeta.exists(s, name) && hasExactProbe(s, name)) {
      val rows = s.table(t.shingles).count() // parquet-metadata count
      val cur = sideParts(IndexMeta.read(s, name))
      var want = cur
      while (rows / want > sideRowsPerPart && want < (1 << 16)) want <<= 1
      reDeriveSide(s, name, if (want != cur) want else 0)
    }
  }

  /** Remove `ids` (single doc-id column) from all three tables — the
    * targeted deletion-maintenance entry ([[compact]] with a delete
    * set). */
  def applyDeletes(s: SparkSession, name: String,
      ids: org.apache.spark.sql.DataFrame): Unit =
    compact(s, name, Some(IndexCompaction.Remove(ids)))

  /** Drop one batch's rows from an index table — a metadata-cheap
    * `DROP PARTITION`, the purge arm of the exactly-once protocol. */
  private[etl] def dropBatchPartition(s: SparkSession, table: String,
      batchId: String): Unit =
    s.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION " +
      s"(batch_id='${BatchLog.sanitize(batchId)}')")

  /** [[dropBatchPartition]] for the two-level side table: enumerate the
    * batch's (batch_id, sh_p) leaf partitions and drop each with a full
    * spec (a partial spec is catalog-dependent; the listing is at most
    * the recorded partition count). Targets the generation the meta
    * pointer names — the only one appends ever wrote to. */
  private def dropSideBatch(s: SparkSession, name: String,
      batchId: String): Unit = {
    val t = sideTableAt(name, sideParts(IndexMeta.read(s, name)))
    if (!s.catalog.tableExists(t)) return
    val safe = BatchLog.sanitize(batchId)
    s.sql(s"SHOW PARTITIONS $t").collect().map(_.getString(0))
      .filter(_.startsWith(s"batch_id=$safe/"))
      .foreach { p =>
        val spec = p.split("/").map { kv =>
          val Array(k, v) = kv.split("=", 2); s"$k='$v'"
        }.mkString(", ")
        s.sql(s"ALTER TABLE $t DROP IF EXISTS PARTITION ($spec)")
      }
  }

  /** Full-rebuild drop: DROP TABLE clears only THIS session's catalog —
    * with the default in-memory catalog a fresh JVM doesn't know the
    * table, but its warehouse directory survives and `saveAsTable` then
    * fails with LOCATION_ALREADY_EXISTS. Clear the physical location
    * too. */
  private[etl] def dropTable(s: SparkSession, table: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $table")
    val p = new org.apache.hadoop.fs.Path(
      s.sessionState.conf.warehousePath, table.toLowerCase)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Repartition to the bucket spec before writing so each task owns
    * whole buckets — without it every task writes a file per bucket and
    * the table shatters into tasks×buckets small files. Rows carry the
    * writing batch's partition tag, the handle [[append]]'s purge and
    * [[graft.etl.IndexCompaction]] fold by. (private[graft]: specs use
    * it to plant the partial rows a crashed append leaves behind.) */
  /** Pin one evaluation of `df` for a multi-write sequence whose sibling
    * tables must agree row-for-row. `persist()` is NOT that guarantee:
    * an evicted or executor-lost block recomputes, and a
    * non-deterministic input frame then feeds the later writes DIFFERENT
    * rows than the earlier ones — silent index divergence.
    * `localCheckpoint` truncates lineage to materialized rows, so block
    * loss fails the job loudly (the streaming batch replays; exactly-once
    * holds by the batch log) instead of diverging. Returns the pinned
    * frame and its [[graft.core.Pins]] release thunk. */
  private[graft] def pin(df: DataFrame): (DataFrame, () => Unit) = {
    val release = graft.core.Pins.since(df.sparkSession.sparkContext)
    (df.localCheckpoint(), release)
  }

  private[graft] def writeBucketed(df: DataFrame, table: String, nBuckets: Int,
      append: Boolean, batchId: String, cols: String*): Unit =
    df.withColumn("batch_id", lit(BatchLog.sanitize(batchId)))
      .repartition(nBuckets, cols.map(col): _*)
      .write.mode(if (append) "append" else "overwrite")
      .partitionBy("batch_id")
      .bucketBy(nBuckets, cols.head, cols.tail: _*)
      .sortBy(cols.head, cols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Near-dup pairs between `batch` and the indexed corpus — the
    * per-batch probe. Candidates come from the (band, bucket) equi-join
    * against the banded index; exact-Jaccard verify restricts to
    * candidates and joins the stored shingle/size tables. All pairs are
    * cross-corpus by construction (the two sides are different frames),
    * so no pair predicate is needed. Banding parameters come from the
    * build's [[IndexMeta]] — a probe cannot disagree with the index it
    * probes — and `hashFnId` is checked the same way as in [[append]].
    * Semantically identical to [[DedupOps.minhashNearDups]] with the
    * cross-corpus pairPredicate — MinhashIndexSpec asserts row-for-row
    * equality, and the declared query's DuckDB oracle replays the
    * recompute form. */
  def incrementalPairs(s: SparkSession, batch: DataFrame, name: String,
      threshold: Double = 0.5,
      hashFn: (Column, Int) => Column = defaultHashFn,
      hashFnId: String = DefaultHashFnId): DataFrame = {
    val meta = IndexMeta.read(s, name) // one read serves check + params
    IndexMeta.validateIn(meta, name, "hash_fn" -> hashFnId)
    val numPerms = meta("num_perms").toInt
    val bands = meta("bands").toInt
    val t = tables(name)
    val shNew = DedupOps.shingleRows(batch)
    val sigNew = DedupOps.minhashSigFromShingles(shNew, numPerms, hashFn)
    // the batch side mirrors the STORED shingle form (strings or 8-byte
    // hashes — read from the schema), so the verify join key matches
    val shNewJ = if (isHashed(s, name)) hashShingleCol(shNew) else shNew
    // corpus-side frames are bucketed table reads: the candidate join,
    // the shingle verify join, and the sizes join all read them in place
    DedupOps.crossPairs(shNewJ, sigNew,
      DedupOps.bandedBuckets(sigNew, numPerms, bands, hashFn),
      stored(s, t.shingles), stored(s, t.banded), stored(s, t.sizes),
      threshold)
  }

  /** The candidate ids whose index state is NOT exactly one COMMITTED
    * generation — the witness set the update-reindex protocol
    * intersects its CDC insert∪update candidates with. Every per-batch
    * append (and every reindex) writes one sizes row per doc, so a
    * committed count of 2+ proves a superseded generation lingers, and
    * a count of 0 proves a half-done reindex (stale rows purged, the
    * replacement append crashed uncommitted — its orphan partition is
    * EXCLUDED here exactly as the fold excludes it, or the replay would
    * see the partial rows as a healthy generation, skip the re-append,
    * and the next fold would drop the doc from the index entirely).
    * Cost: an id-column scan of the sizes table, O(index docs).
    *
    * `perDocTable` generalizes the witness to any index family with a
    * per-doc-per-batch table and its own [[BatchLog]] under `name`
    * (e.g. [[TextIndex]]'s `_doclens`, [[LshIndex]]'s `_vectors`) — the
    * update-reindex protocol makes its replay decision PER FAMILY from
    * that family's own state, so a crash between two families' reindex
    * legs replays each leg to convergence independently (a shared
    * single-family witness would report "healthy" once the first
    * family's re-append committed, stranding the others mid-protocol).
    * `idExpr` maps the table's rows to the candidate doc-id domain
    * (`vec_id` for doc-level vector tables; `vec_id div span` for
    * chunk-level composites). Generations are counted as ROWS matching
    * `rowFilter` — never as distinct batch partitions, because
    * [[IndexCompaction.fold]] collapses every committed partition into
    * one fold id, which would hide a multi-generation doc from a
    * partition-count witness. One-row-per-doc-per-generation tables use
    * the default filter; the chunk family counts each generation's
    * single chunk-0 row (`vec_id % span = 0`) so variable chunk counts
    * can't masquerade as extra generations. */
  def staleGenerationIds(s: SparkSession, name: String,
      candidateIds: DataFrame, perDocTable: String = "",
      idExpr: Column = col("doc_id"),
      rowFilter: Column = lit(true)): DataFrame = {
    val perDoc =
      if (perDocTable.nonEmpty) perDocTable else tables(name).sizes
    staleAmong(candidateIds, BatchLog.committedTable(s, perDoc,
      BatchLog.committed(s, BatchLog.logDir(s, name))), idExpr, rowFilter)
  }

  /** The generation-count witness itself, over a family's committed
    * rows (catalog tables above, the IVF lists directory in
    * [[graft.operators.IvfIndex.staleGenerationIdsDir]]). */
  private[graft] def staleAmong(candidateIds: DataFrame,
      committedRows: DataFrame, idExpr: Column,
      rowFilter: Column = lit(true)): DataFrame = {
    val gens = committedRows.filter(rowFilter)
      .groupBy(idExpr.as("doc_id"))
      .agg(count(lit(1)).as("g"))
    candidateIds.toDF("doc_id")
      .join(gens, Seq("doc_id"), "left_outer")
      .filter(col("g").isNull || col("g") =!= 1)
      .select(col("doc_id"))
  }

  /** EXACT cross-frame near-dup pairs against the indexed corpus — the
    * completeness rung of [[incrementalPairs]]: candidates are every
    * (corpus doc, batch doc) pair sharing at least one stored shingle,
    * complete by construction for any τ > 0 (a qualifying pair has
    * n_inter ≥ 1 — the same zero-false-negative guarantee
    * [[graft.operators.DedupOps.prefixFilterJoin]] proves within one
    * frame), with the identical exact-Jaccard verify math. The batch's
    * (doc, shingle) rows ride a BROADCAST into the stored shingle
    * table, so the corpus side is read in place with no exchange and
    * only matching rows reach the pairs-sized aggregate; with the
    * opt-in [[sideTable]] (exactProbe builds) the scan additionally
    * PRUNES to the sh_p partitions the batch's shingles hash into, so
    * cost is O(touched-partition shingle rows + matched rows shuffled)
    * — more than the banded candidate set, far less than any corpus
    * recompute, and the price of banding-independent recall.
    * Production probes stay [[incrementalPairs]]; this is the
    * compliance/oracle-grade rung (`s26_ingest_e2e_fuzzy`).
    *
    * The broadcast hints carry the same contract as every probe in the
    * family: the BATCH side must be broadcast-sized (its shingle rows
    * ride into every stored-table read — that is what keeps the corpus
    * side exchange-free). A batch whose shingle frame approaches the
    * broadcast limit (default 8 GB) should be split upstream — the
    * micro-batch cadence ContinuousIngest runs at is orders of
    * magnitude under it; the hint makes an oversized batch fail loudly
    * at the broadcast rather than silently shuffling the corpus.
    *
    * Denominators take ONE size per stored doc (max over committed
    * generations), and the intersection counts DISTINCT shared
    * shingles in the post-join aggregate: under the pinned
    * updates-last arrival every doc has exactly one generation and
    * both are identities, but a probe issued between an update and its
    * reindex maintenance sees BOTH generations' rows — the distinct
    * count keeps shared shingles from double-counting and the max
    * keeps the pair set well-defined (one row, the conservative
    * smaller-jaccard denominator) in that window. Counting distinct
    * AFTER the broadcast join (instead of deduplicating the stored
    * side before it) is what keeps the corpus side exchange-free: only
    * matched rows reach the pairs-sized aggregate. Uncommitted orphan
    * batch partitions (a crashed append's partial rows) are excluded
    * from every stored-side scan, exactly as the fold and the
    * witnesses exclude them. */
  def exactIncrementalPairs(s: SparkSession, batch: DataFrame, name: String,
      threshold: Double): DataFrame = {
    val t = tables(name)
    val meta = if (IndexMeta.exists(s, name)) IndexMeta.read(s, name)
      else Map.empty[String, String]
    val committed = BatchLog.committed(s, BatchLog.logDir(s, name))
    val shNew = DedupOps.shingleRows(batch)
    val shNewJ = if (isHashed(s, name)) hashShingleCol(shNew) else shNew
    val sizesNew = shNew.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    // With the opt-in side table the scan PRUNES to the sh_p partitions
    // the batch's shingles hash into — the batch's distinct sh_p values
    // are at most the recorded partition count (driver-small), so the
    // filter is a real partition predicate, not a join. A batch whose
    // shingles cover every partition scans everything, honestly — the
    // pruning pays off exactly where the exact regime is dearest: small
    // compliance probes against a huge index. Falls back to the full
    // main-table scan when the index wasn't built with exactProbe.
    val storedSh =
      if (meta.getOrElse("exact_probe", "false").toBoolean) {
        val parts = sideParts(meta)
        val side = sideTableAt(name, parts)
        if (!sideHealthy(s, name, side)) reDeriveSide(s, name)
        val pVals = shNewJ.select(shP(col("shingle"), parts).as("p"))
          .distinct().collect().map(_.getLong(0)) // ≤ parts values
        BatchLog.committedTable(s, side, committed)
          .filter(col("sh_p").isin(pVals: _*))
          .select(col("doc_id"), col("shingle"))
      } else BatchLog.committedTable(s, t.shingles, committed)
        .select(col("doc_id"), col("shingle"))
    val inter = storedSh
      .select(col("doc_id").as("doc_old"), col("shingle"))
      .join(broadcast(shNewJ.select(col("doc_id").as("doc_new"), col("shingle"))),
        "shingle")
      .groupBy(col("doc_old"), col("doc_new"))
      .agg(countDistinct(col("shingle")).as("n_inter"))
    inter
      .join(BatchLog.committedTable(s, t.sizes, committed)
        .groupBy(col("doc_id").as("doc_old"))
        .agg(max(col("n_sh")).as("n_old")), "doc_old")
      .join(broadcast(sizesNew
        .select(col("doc_id").as("doc_new"), col("n_sh").as("n_new"))), "doc_new")
      .select(col("doc_old"), col("doc_new"),
        (col("n_inter") / (col("n_old") + col("n_new") - col("n_inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("doc_old"), col("doc_new"))
  }
}
