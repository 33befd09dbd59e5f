package graft.etl

import graft.functions.CosineSimilarity
import graft.operators.SimilarityOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Persisted LSH ANN index — the similarity-family sibling of
  * [[MinhashIndex]]: `sim_lsh_ann` recomputes the CORPUS side's
  * hyperplane buckets on every query, which is exactly backwards for a
  * serving path (the corpus is stable; the queries change). Two bucketed
  * tables:
  *
  *  - `<name>_buckets(vec_id, tbl, bucket)` bucketed by (tbl, bucket):
  *    candidate generation joins the (tiny, broadcast) query buckets
  *    against it with the corpus read in place — no exchange
  *    (LshIndexSpec walks the executed plan);
  *  - `<name>_vectors(vec_id, v)` bucketed by vec_id: the exact-cosine
  *    rerank fetches only CANDIDATE vectors from it, again in place.
  *
  * Probe cost is O(queries) shuffle + colocated reads of the touched
  * buckets; the corpus never moves. Refresh per ingest batch is
  * [[append]], exactly-once by construction ([[MinhashIndex.append]]'s
  * committed-[[BatchLog]] protocol verbatim: batch-partition-tagged
  * rows, no-op replay, purge-then-append recovery). The plane
  * parameters persist in [[IndexMeta]] at build time and every
  * append/search READS them — an index and its probes can no longer
  * disagree on the bucketing, which previously returned silently empty
  * candidate sets. Planes themselves are seeded and deterministic
  * ([[SimilarityOps.lshPlanes]]), so the persisted (tables, planes,
  * dims, seed) tuple reconstructs them exactly — and the DuckDB oracle
  * replays them from emitted literals, making the indexed query
  * hash-checkable end to end. */
object LshIndex {

  final case class Tables(buckets: String, vectors: String)

  def tables(name: String): Tables =
    Tables(s"${name}_buckets", s"${name}_vectors")

  /** The buckets table CURRENTLY serving `name`. Geometry regrowth
    * ([[regrow]]) rebuilds the sign buckets under a wider plane count
    * into a NEW generation table and flips this pointer through
    * [[IndexMeta]]'s atomic stage-swap write — so the serving name is
    * resolved from the meta map (key absent = the build-time name,
    * generation 0). Every probe/append/compact resolves through here;
    * none hardcodes the generation-0 name. */
  def bucketsTable(meta: Map[String, String], name: String): String =
    meta.getOrElse("buckets_table", tables(name).buckets)

  /** Does a complete, servable index exist under `name`? The right
    * existence probe for callers deciding build-vs-append: after a
    * geometry regrowth the generation-0 `<name>_buckets` no longer
    * exists, so checking that fixed name would silently trigger a full
    * rebuild.
    *
    * HEALS before answering: every maintenance swap in the family has a
    * crash window in which a table is transiently absent (IndexMeta's
    * drop→rename leaves only `_meta__new`; a compaction fold's
    * drop→rename leaves only the `__compact` stage) — a plain
    * tableExists probe in that window answers false, and a
    * build-vs-append caller then rebuilds from ONE batch, silently
    * truncating the accumulated index. Finishing the pending renames
    * first makes the answer reflect the index's durable state. A state
    * no heal explains — committed batches on record but a serving table
    * still missing — is a LOUD error, never a rebuild trigger. */
  def exists(s: SparkSession, name: String): Boolean = {
    val t = tables(name)
    if (!IndexMeta.exists(s, name)) {
      // no meta even after finishing a pending swap: either the family
      // was never built, or something external destroyed the meta. If a
      // vectors table still holds rows, answering "no index" would
      // route the caller into build() and drop them — refuse instead.
      IndexCompaction.heal(s, t.vectors)
      require(!s.catalog.tableExists(t.vectors),
        s"LSH index '$name' has a vectors table but no meta — not a " +
          "state any crash window produces; refusing to answer " +
          "'absent' (a rebuild would drop the stored vectors)")
      return false
    }
    val meta = IndexMeta.read(s, name)
    val bt = bucketsTable(meta, name)
    IndexCompaction.heal(s, bt)
    IndexCompaction.heal(s, t.vectors)
    if (s.catalog.tableExists(bt) && s.catalog.tableExists(t.vectors)) true
    else {
      // meta present, a serving table missing even after heal: fine iff
      // nothing was ever committed (a cold build crashed between its
      // meta write and its table writes — the retry's rebuild loses
      // nothing); with committed batches on record it is data loss.
      val committed = BatchLog.committed(s, BatchLog.logDir(s, name))
      require(committed.isEmpty,
        s"LSH index '$name' has meta and ${committed.size} committed " +
          s"batches but a serving table is missing ($bt / ${t.vectors}) " +
          "even after heal — a rebuild would truncate the index to one " +
          "batch; investigate instead")
      false
    }
  }

  /** Drop every table of the family — vectors, meta, the CURRENT
    * generation's buckets table, and any stale generation a crashed
    * regrow left behind. Harness/spec cleanup entry. */
  def dropAll(s: SparkSession, name: String): Unit = {
    if (s.catalog.tableExists(IndexMeta.table(name))) {
      val meta = IndexMeta.read(s, name)
      MinhashIndex.dropTable(s, bucketsTable(meta, name))
      meta.get("stale_buckets_table").foreach(MinhashIndex.dropTable(s, _))
      // a regrow that crashed after staging the NEXT generation but
      // before the meta flip leaves <name>_buckets_g{gen+1} referenced
      // by nothing — sweep it too, or it leaks in the catalog
      val gen = meta.getOrElse("generation", "0").toInt
      MinhashIndex.dropTable(s, s"${name}_buckets_g${gen + 1}")
    }
    Seq(tables(name).buckets, tables(name).vectors, IndexMeta.table(name))
      .foreach(MinhashIndex.dropTable(s, _))
  }

  private def planesFromMeta(meta: Map[String, String]) =
    SimilarityOps.lshPlanes(meta("tables").toInt,
      meta("planes_per_table").toInt, meta("dims").toInt,
      meta("seed").toLong)

  /** Plane count that holds the EXPECTED per-table bucket occupancy at
    * `targetOccupancy` as the corpus grows: a table with p planes has
    * 2^p sign cells, so p = ceil(log2(n / targetOccupancy)), floored at
    * `minPlanes` and capped at `maxPlanes` (past ~20 planes per-table
    * recall collapses faster than occupancy matters — add TABLES, not
    * planes). This is the knob the scaling curve measures: probe cost
    * follows bucket occupancy, and a FIXED plane count makes occupancy
    * — hence every probe — linear in the corpus. */
  def autoPlanes(corpusCount: Long, targetOccupancy: Long = 256,
      minPlanes: Int = 4, maxPlanes: Int = 20): Int = {
    require(targetOccupancy > 0, "targetOccupancy must be positive")
    val needed = math.ceil(
      math.log(math.max(1.0, corpusCount.toDouble / targetOccupancy))
        / math.log(2.0)).toInt
    math.min(maxPlanes, math.max(minPlanes, needed))
  }

  /** Build with corpus-derived sizing: counts the corpus once (the
    * offline build job owns that scan anyway), derives the plane count
    * via [[autoPlanes]] and the storage bucket count from the same
    * count (≈1M bucket-table rows per file at scale, floored for local
    * parallelism), and records both in [[IndexMeta]] — [[append]] and
    * [[search]] READ the meta, so they follow the derived sizing with
    * no caller change. The fixed-parameter [[build]] stays the
    * oracle-checked surface (the DuckDB replay needs literal planes). */
  def buildAuto(s: SparkSession, embeddings: DataFrame, name: String,
      tables0: Int = 16, dims: Int = 64, seed: Long = 42L,
      targetOccupancy: Long = 256,
      buildBatchId: String = BatchLog.BuildId): Tables = {
    val n = embeddings.count()
    val planes = autoPlanes(n, targetOccupancy)
    val nBuckets = math.max(32L, math.min(4096L, n * tables0 / 1000000L)).toInt
    build(s, embeddings, name, tables0, planes, dims, seed, nBuckets,
      buildBatchId)
  }

  def build(s: SparkSession, embeddings: DataFrame, name: String,
      tables0: Int = 16, planesPerTable: Int = 4, dims: Int = 64,
      seed: Long = 42L, nBuckets: Int = 32,
      buildBatchId: String = BatchLog.BuildId): Tables = {
    val t = tables(name)
    // a rebuild over a previously-regrown index must also clear the
    // serving generation table and any stale one, or they leak forever
    if (s.catalog.tableExists(IndexMeta.table(name))) {
      val old = IndexMeta.read(s, name)
      MinhashIndex.dropTable(s, bucketsTable(old, name))
      old.get("stale_buckets_table").foreach(MinhashIndex.dropTable(s, _))
      // sweep an unflipped next-generation stage too (crashed regrow)
      val gen = old.getOrElse("generation", "0").toInt
      MinhashIndex.dropTable(s, s"${name}_buckets_g${gen + 1}")
    }
    Seq(t.buckets, t.vectors).foreach(MinhashIndex.dropTable(s, _))
    val log = BatchLog.logDir(s, name)
    BatchLog.reset(s, log)
    IndexMeta.write(s, name, Map(
      "tables" -> tables0.toString,
      "planes_per_table" -> planesPerTable.toString,
      "dims" -> dims.toString,
      "seed" -> seed.toString,
      "n_buckets" -> nBuckets.toString))
    writeBatch(s,
      embeddings.select(col("vec_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v")),
      t, SimilarityOps.lshPlanes(tables0, planesPerTable, dims, seed),
      nBuckets, append = false, buildBatchId)
    BatchLog.commit(s, log, buildBatchId)
    t
  }

  /** Incremental refresh: append a batch's vectors and buckets under the
    * same bucket spec — probes stay corpus-exchange-free. Exactly-once
    * via the committed [[BatchLog]]; plane parameters come from the
    * build's [[IndexMeta]], never from the caller. */
  def append(s: SparkSession, embeddings: DataFrame, name: String,
      batchId: String): Unit = {
    // ONE meta read resolves both the serving buckets table and its
    // planes — an append can never mix one generation's table with
    // another's geometry
    val meta = IndexMeta.read(s, name)
    val t = Tables(bucketsTable(meta, name), tables(name).vectors)
    BatchLog.runOnce(s, BatchLog.logDir(s, name), batchId) {
      Seq(t.vectors, t.buckets)
        .foreach(MinhashIndex.dropBatchPartition(s, _, batchId))
    } {
      writeBatch(s,
        embeddings.select(col("vec_id"),
          col("embedding").cast(ArrayType(DoubleType)).as("v")),
        t, planesFromMeta(meta), meta("n_buckets").toInt,
        append = true, batchId)
    }
  }

  /** Fold all committed batch partitions back to one file per bucket
    * ([[IndexCompaction]] swap protocol). Searches are row- and
    * plan-identical afterwards.
    *
    * `deletes` purges vector ids during the same rewrite — the set's
    * single column aligns to `vec_id` positionally, so the one
    * corpus-wide delete feed serves this family too (doc_id == vec_id
    * under [[graft.streaming.ContinuousIngest]]'s wiring).
    *
    * `protect` exempts one batch partition from the Remove set — the
    * update-reindex protocol's `reidx-v<N>` partition, exactly
    * [[MinhashIndex.compact]]'s contract: without it, a replayed fold
    * would purge the replacement vectors the crashed attempt already
    * committed and the exactly-once re-append would refuse to restore
    * them. */
  def compact(s: SparkSession, name: String,
      deletes: Option[IndexCompaction.DeleteSet] = None,
      targetRowsPerBucket: Long = 0,
      protect: Option[String] = None): Unit = {
    val meta = IndexMeta.read(s, name)
    IndexCompaction.compactFamily(s, name, Seq(
      tables(name).vectors -> Seq("vec_id"),
      bucketsTable(meta, name) -> Seq("tbl", "bucket")),
      deletes.map("vec_id" -> _), targetRowsPerBucket, protect)
  }

  /** Grow the index geometry to match the corpus it has accumulated.
    *
    * A streaming index built on its FIRST batch freezes that batch's
    * plane count; as the corpus grows 100×–1000× past it, per-cell
    * occupancy — and with it every probe — grows linearly (the failure
    * mode [[autoPlanes]] sizes against, but a stream's cold build can't
    * know its eventual corpus). Regrow closes the loop from the
    * maintenance leg: re-derive the plane count from the committed
    * vector count; when it exceeds the recorded geometry, rebuild the
    * sign buckets from the stored vectors under the wider planes into a
    * NEW generation table, then flip the serving pointer.
    *
    * The flip is the ONLY visibility change and rides [[IndexMeta]]'s
    * atomic stage-swap write, so no crash point can pair one
    * generation's buckets with another's planes (the silent
    * empty-candidates failure a rename-in-place swap would admit):
    *  - crash while building the new generation: meta untouched, probes
    *    serve the old geometry; the next regrow drops the partial table
    *    and rebuilds (same generation number — meta never moved).
    *  - crash after the flip, before the old table drops: probes serve
    *    the new geometry; the old table is recorded as
    *    `stale_buckets_table` in the same meta write and swept at the
    *    next regrow/[[dropAll]].
    *
    * The new table is written under a fresh pre-committed fold id
    * ([[IndexCompaction.compactFamily]]'s discipline — never
    * [[BatchLog.BuildId]], which a crashed standalone build may have
    * left partial rows under). Bucket-count (`n_buckets`) is
    * deliberately NOT regrown here: appends land in BOTH tables under
    * the meta's single storage spec, and mixing bucket counts within a
    * family would corrupt the bucket-pruned reads. Storage-layout
    * growth happens where every table rewrites under one spec anyway:
    * [[IndexCompaction.compactFamily]]'s `targetRowsPerBucket` path —
    * on by default in [[graft.streaming.ContinuousIngest]]'s
    * maintenance (`storageRowsPerBucket` = 1M) — with [[buildAuto]] as
    * the cold-build sizing entry.
    *
    * Candidate sets change (that is the point — fewer, better-targeted
    * candidates per cell); exactness of results does not: search
    * answers equal a fresh [[buildAuto]] at the same derived parameters
    * (planes are seeded and deterministic), spec-asserted. Single
    * maintenance writer assumed, as everywhere in the family.
    *
    * Returns true iff the geometry moved. */
  def regrow(s: SparkSession, name: String,
      targetOccupancy: Long = 256): Boolean = {
    val meta0 = IndexMeta.read(s, name)
    // sweep a stale generation left by a crash between flip and drop
    meta0.get("stale_buckets_table").foreach { st =>
      MinhashIndex.dropTable(s, st)
      IndexMeta.write(s, name, meta0 - "stale_buckets_table")
    }
    val meta = meta0 - "stale_buckets_table"
    val cur = bucketsTable(meta, name)
    // the committed vectors: a crashed append's orphans stay out
    val vecs = BatchLog.committedTable(s, tables(name).vectors,
      BatchLog.committed(s, BatchLog.logDir(s, name))).drop("batch_id")
    val n = vecs.count()
    val want = autoPlanes(n, targetOccupancy)
    if (want <= meta("planes_per_table").toInt) return false
    val gen = meta.getOrElse("generation", "0").toInt + 1
    val newT = s"${name}_buckets_g$gen"
    MinhashIndex.dropTable(s, newT) // a crashed prior attempt's partial
    val log = BatchLog.logDir(s, name)
    val foldId = s"00000-regrow-${java.util.UUID.randomUUID().toString.take(8)}"
    BatchLog.commit(s, log, foldId)
    val planes = SimilarityOps.lshPlanes(meta("tables").toInt, want,
      meta("dims").toInt, meta("seed").toLong)
    MinhashIndex.writeBucketed(
      SimilarityOps.signBuckets(vecs, "vec_id", planes),
      newT, meta("n_buckets").toInt, append = false, foldId,
      "tbl", "bucket")
    IndexMeta.write(s, name, meta ++ Map(
      "planes_per_table" -> want.toString,
      "buckets_table" -> newT,
      "generation" -> gen.toString,
      "stale_buckets_table" -> cur)) // the atomic serving flip
    MinhashIndex.dropTable(s, cur)
    IndexMeta.write(s, name,
      IndexMeta.read(s, name) - "stale_buckets_table")
    true
  }

  /** One batch's vectors + sign-buckets, batch-tagged and bucketed.
    * Both writes read ONE pinned evaluation of the batch frame
    * ([[MinhashIndex.pin]]: checkpoint, not persist — lost blocks fail
    * loudly instead of silently recomputing a non-deterministic frame
    * into diverging sibling tables) — without the previous
    * write-then-read-back round trip. */
  private def writeBatch(s: SparkSession, batch0: DataFrame, t: Tables,
      planes: Seq[Seq[Seq[Double]]], nBuckets: Int, append: Boolean,
      batchId: String): Unit = {
    val (batch, release) = MinhashIndex.pin(batch0)
    try {
      MinhashIndex.writeBucketed(batch, t.vectors, nBuckets, append,
        batchId, "vec_id")
      MinhashIndex.writeBucketed(
        SimilarityOps.signBuckets(batch, "vec_id", planes),
        t.buckets, nBuckets, append, batchId, "tbl", "bucket")
    } finally release()
  }

  /** ANN search against the persisted index — same candidates, same
    * rerank, same results as [[SimilarityOps.lshAnn]] (spec-asserted and
    * oracle-replayed), with the corpus side read in place. The plane
    * parameters are READ from the index's [[IndexMeta]] — a probe cannot
    * bucket differently from the build. */
  def search(s: SparkSession, queries: DataFrame, name: String,
      topK: Int = 5): DataFrame = {
    import s.implicits._
    val meta = IndexMeta.read(s, name)
    val t = Tables(bucketsTable(meta, name), tables(name).vectors)
    val planes = planesFromMeta(meta)
    val q = queries.select($"vec_id".as("q_id"),
      col("embedding").cast(ArrayType(DoubleType)).as("qv"))
    val qb = SimilarityOps.signBuckets(
      q.select($"q_id", $"qv".as("v")), "q_id", planes)
    val cands = MinhashIndex.stored(s, t.buckets)
      .join(broadcast(qb), Seq("tbl", "bucket"))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("neighbor_id"))
      .distinct()
    val w = Window.partitionBy($"q_id").orderBy($"cosine_sim".desc, $"neighbor_id".asc)
    cands
      .join(broadcast(q), "q_id")
      .join(MinhashIndex.stored(s, t.vectors)
          .withColumnRenamed("vec_id", "neighbor_id"),
        "neighbor_id")
      .select($"q_id", $"neighbor_id",
        CosineSimilarity.cosineNative(s, $"qv", $"v").as("cosine_sim"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= topK)
      .select($"q_id", $"rank", $"neighbor_id", $"cosine_sim")
      .orderBy($"q_id", $"rank")
  }
}
