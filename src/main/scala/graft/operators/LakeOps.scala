package graft.operators

import graft.core._
import graft.etl.ManifestTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Lakehouse data-skipping as DECLARED, oracle-checked queries: the
  * manifest table's plan-time file pruning ([[graft.etl.ZoneMaps]] min/max
  * ranges, [[graft.etl.FileBlooms]] equality filters) exercised end to end
  * against the same DuckDB oracle as any operator — build a manifest table
  * from the testdata, prune-read it, and the result must hash-match the
  * plain filter over the source parquet. Correctness of the PRUNED read is
  * exactly `read().filter(p)` equivalence, which is what the oracle
  * replays.
  *
  * The pruning mechanics themselves (files actually skipped, sidecar
  * lifecycle, conservative fallbacks) are plan/file-count-asserted in
  * ZoneMapSpec and FileBloomsSpec; these queries pin the user-visible
  * contract.
  */
object LakeOps extends QueryModule {

  /** Per-variant scratch table path ([[Scratch.dir]]). */
  private def lakeDir(sfDir: String, tag: String): String =
    Scratch.dir("graft_lake", tag, sfDir)


  /** orders → manifest table, clustered-compacted on `o_custkey` with a
    * small file target so each partition really holds several
    * range-disjoint files for the zone maps to eliminate between. */
  private def buildZoneTable(s: SparkSession, dir: String, path: String): Unit = {
    Scratch.wipe(s, path)
    ManifestTable.mergeInto(s, T(s, dir, "orders"), path,
      keys = Seq("o_orderkey", "o_orderdate"), dateCol = "o_orderdate")
    ManifestTable.compact(s, path, targetFileBytes = 16L * 1024,
      clusterBy = Seq(col("o_custkey")))
  }

  /** S11: zone-map-pruned range scan. The `o_custkey BETWEEN` predicate
    * intersects the manifest's per-file min/max at PLAN time; after the
    * clustered compaction the surviving scan opens O(matching files). */
  private val s11 = QueryDef(
    "s11_zonemap_pruned_scan",
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
        CAST(year(o_orderdate) AS INTEGER) AS part_year
      FROM orders
      WHERE o_custkey BETWEEN 42 AND 57
      ORDER BY o_orderkey"""),
    (s, dir) => {
      import s.implicits._
      val path = lakeDir(dir, "zm_v")
      buildZoneTable(s, dir, path)
      ManifestTable.readWhere(s, path, $"o_custkey".between(42, 57))
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderdate",
          $"part_year")
        .orderBy($"o_orderkey")
    },
    benchBuild = Some((s, dir) => {
      import s.implicits._
      ManifestTable.readWhere(s, lakeDir(dir, "zm_b"), $"o_custkey".between(42, 57))
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderdate",
          $"part_year")
        .orderBy($"o_orderkey")
    }),
    benchSetup = Some((s, dir) => buildZoneTable(s, dir, lakeDir(dir, "zm_b"))))

  /** orders + a derived string key → manifest table with a declared bloom
    * column. The layout is date-partitioned and NOT clustered on the tag,
    * so min/max ranges overlap everywhere — only the Bloom sidecars can
    * eliminate files for a point lookup. */
  private def buildBloomTable(s: SparkSession, dir: String, path: String): Unit = {
    Scratch.wipe(s, path)
    val tagged = T(s, dir, "orders").withColumn("o_okey_tag",
      concat(lit("ok-"), col("o_orderkey").cast("string")))
    ManifestTable.mergeInto(s, tagged, path,
      keys = Seq("o_orderkey", "o_orderdate"), dateCol = "o_orderdate",
      bloomCols = Seq("o_okey_tag"))
  }

  /** S12: bloom-pruned point lookup on a string key — the elimination
    * zone maps structurally cannot make (strings record no bounds, and
    * an unclustered id spans every file's range anyway). */
  private val s12 = QueryDef(
    "s12_bloom_pruned_lookup",
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice,
        'ok-' || CAST(o_orderkey AS VARCHAR) AS o_okey_tag,
        CAST(year(o_orderdate) AS INTEGER) AS part_year
      FROM orders
      WHERE o_orderkey IN (7, 731)
      ORDER BY o_orderkey"""),
    (s, dir) => {
      import s.implicits._
      val path = lakeDir(dir, "bl_v")
      buildBloomTable(s, dir, path)
      ManifestTable.readWhere(s, path, $"o_okey_tag".isin("ok-7", "ok-731"))
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_okey_tag",
          $"part_year")
        .orderBy($"o_orderkey")
    },
    benchBuild = Some((s, dir) => {
      import s.implicits._
      ManifestTable.readWhere(s, lakeDir(dir, "bl_b"),
          $"o_okey_tag".isin("ok-7", "ok-731"))
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_okey_tag",
          $"part_year")
        .orderBy($"o_orderkey")
    }),
    benchSetup = Some((s, dir) => buildBloomTable(s, dir, lakeDir(dir, "bl_b"))))

  /** The metadata-aggregate frame: manifest-stats answer when provable
    * ([[ManifestTable.statsAgg]] — zero files opened, no Spark job), real
    * scan when not. Both arms produce the same values by the statsAgg
    * soundness contract (ZoneMapSpec), so the oracle checks whichever ran. */
  private def metaAggFrame(s: SparkSession, path: String) = {
    import s.implicits._
    ManifestTable.statsAgg(s, path, "o_totalprice") match {
      case Some(m) =>
        Seq((m.bounds.map(_._1.toDouble), m.bounds.map(_._2.toDouble),
          m.rows, m.nonNull))
          .toDF("min_price", "max_price", "n_rows", "n_price")
      case None =>
        ManifestTable.read(s, path).agg(
          min($"o_totalprice").as("min_price"),
          max($"o_totalprice").as("max_price"),
          count(lit(1)).as("n_rows"),
          count($"o_totalprice").as("n_price"))
    }
  }

  /** S13: metadata-only MIN/MAX/COUNT — the whole aggregate answered from
    * the manifest's zone maps, no data file opened (the Delta/Iceberg
    * "metadata query" optimization). The oracle replays it as a plain
    * aggregate over the source table. */
  private val s13 = QueryDef(
    "s13_metadata_minmax",
    Some("""
      SELECT CAST(min(o_totalprice) AS DOUBLE) AS min_price,
        CAST(max(o_totalprice) AS DOUBLE) AS max_price,
        count(*) AS n_rows, count(o_totalprice) AS n_price
      FROM orders"""),
    (s, dir) => {
      val path = lakeDir(dir, "ma_v")
      buildZoneTable(s, dir, path)
      metaAggFrame(s, path)
    },
    benchBuild = Some((s, dir) => metaAggFrame(s, lakeDir(dir, "ma_b"))),
    benchSetup = Some((s, dir) => buildZoneTable(s, dir, lakeDir(dir, "ma_b"))))

  /** orders → manifest v1, then a keyed price-update merge → v2: the
    * two-version fixture time travel and CDC read against. The update
    * batch re-prices every `l_orderkey % 7 = 0` order from its lineitem
    * sum (the a12 merge shape), carrying the merge-key date from the
    * base; all other columns ride `MergeService`'s updateAll carry. */
  private def buildVersioned(s: SparkSession, dir: String, path: String): Unit = {
    import s.implicits._
    Scratch.wipe(s, path)
    val orders = T(s, dir, "orders")
    val keys = Seq("o_orderkey", "o_orderdate")
    ManifestTable.mergeInto(s, orders, path, keys, dateCol = "o_orderdate")
    val upd = T(s, dir, "lineitem")
      .filter($"l_orderkey" % 7 === 0)
      .groupBy($"l_orderkey".as("o_orderkey"))
      .agg(H.dbl(sum(H.dec2($"l_extendedprice"))).as("o_totalprice"))
      .join(orders.select($"o_orderkey", $"o_orderdate"), "o_orderkey")
      .select($"o_orderkey", $"o_orderdate", $"o_totalprice")
    ManifestTable.mergeInto(s, upd, path, keys, dateCol = "o_orderdate")
  }

  /** S14: TIME TRAVEL oracle — after the v2 merge rewrote prices,
    * `readAt(v1)` must still return the original table bit-for-bit,
    * which is exactly what DuckDB sees reading the source parquet. */
  private val s14 = QueryDef(
    "s14_time_travel_read",
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
      FROM orders
      ORDER BY o_orderkey"""),
    (s, dir) => {
      import s.implicits._
      val path = lakeDir(dir, "tt14_v")
      buildVersioned(s, dir, path)
      ManifestTable.readAt(s, path, 1)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderpriority")
        .orderBy($"o_orderkey")
    },
    benchBuild = Some((s, dir) => {
      import s.implicits._
      ManifestTable.readAt(s, lakeDir(dir, "tt14_b"), 1)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderpriority")
        .orderBy($"o_orderkey")
    }),
    benchSetup = Some((s, dir) => buildVersioned(s, dir, lakeDir(dir, "tt14_b"))))

  /** S15: CDC oracle — `changes(v1, v2)` must emit exactly the rows
    * whose price the merge actually CHANGED (an update that lands the
    * old value is invisible, by the row-diff contract), which DuckDB
    * replays as the re-priced join filtered on inequality. Reads only
    * partitions whose manifest pointer moved (inputFiles-asserted in
    * ManifestTableSpec); here the oracle pins the emitted rows. */
  private val s15 = QueryDef(
    "s15_cdc_changes",
    Some("""
      WITH upd AS (
        SELECT l_orderkey AS o_orderkey,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS p
        FROM lineitem WHERE l_orderkey % 7 = 0 GROUP BY 1)
      SELECT 'update' AS change,
        CAST(year(b.o_orderdate) AS INTEGER) AS part_year,
        b.o_orderkey, u.p AS o_totalprice
      FROM orders b INNER JOIN upd u ON b.o_orderkey = u.o_orderkey
      WHERE u.p <> b.o_totalprice
      ORDER BY b.o_orderkey"""),
    (s, dir) => {
      import s.implicits._
      val path = lakeDir(dir, "tt15_v")
      buildVersioned(s, dir, path)
      ManifestTable.changes(s, path, 1, 2, Seq("o_orderkey", "o_orderdate"))
        .select($"change", $"part_year", $"o_orderkey", $"o_totalprice")
        .orderBy($"o_orderkey")
    },
    benchBuild = Some((s, dir) => {
      import s.implicits._
      ManifestTable.changes(s, lakeDir(dir, "tt15_b"), 1, 2,
          Seq("o_orderkey", "o_orderdate"))
        .select($"change", $"part_year", $"o_orderkey", $"o_totalprice")
        .orderBy($"o_orderkey")
    }),
    benchSetup = Some((s, dir) => buildVersioned(s, dir, lakeDir(dir, "tt15_b"))))

  /** orders → manifest table, then a MERGE-ON-READ delete of every
    * `o_orderkey % 10 = 3` order: tuples pend in an equality-delete
    * file, no data file rewritten. */
  private def buildMorTable(s: SparkSession, dir: String, path: String): Unit = {
    import s.implicits._
    Scratch.wipe(s, path)
    ManifestTable.mergeInto(s, T(s, dir, "orders"), path,
      keys = Seq("o_orderkey", "o_orderdate"), dateCol = "o_orderdate")
    ManifestTable.deleteWhereMoR(s, path, $"o_orderkey" % 10 === 3,
      Seq("o_orderkey", "o_orderdate"))
  }

  /** S16: merge-on-read delete, read back — the read applies the
    * pending equality-delete tuples (anti-join, zero data files
    * rewritten by the delete), which DuckDB replays as a plain negated
    * predicate over the source table. The hash match pins the MoR read
    * path's logical content cross-engine; MorDeleteSpec pins the
    * physical claims (no pointer movement, fold, CDC, stats refusal). */
  private val s16 = QueryDef(
    "s16_mor_delete_read",
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
        CAST(year(o_orderdate) AS INTEGER) AS part_year
      FROM orders
      WHERE o_orderkey % 10 <> 3
      ORDER BY o_orderkey"""),
    (s, dir) => {
      import s.implicits._
      val path = lakeDir(dir, "mor_v")
      buildMorTable(s, dir, path)
      ManifestTable.read(s, path)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderdate",
          $"part_year")
        .orderBy($"o_orderkey")
    },
    benchBuild = Some((s, dir) => {
      import s.implicits._
      ManifestTable.read(s, lakeDir(dir, "mor_b"))
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderdate",
          $"part_year")
        .orderBy($"o_orderkey")
    }),
    benchSetup = Some((s, dir) => buildMorTable(s, dir, lakeDir(dir, "mor_b"))))

  /** orders → manifest v1, then a batch carrying a column the table has
    * NEVER seen (`o_margin`, priced for one year's %5 keys only) → v2:
    * the schema-evolution fixture. Only 1995's partition is rewritten;
    * every other year's files physically LACK the new column and the
    * read must null-fill them from the evolved snapshot schema. */
  private def buildEvolved(s: SparkSession, dir: String, path: String): Unit = {
    import s.implicits._
    Scratch.wipe(s, path)
    val orders = T(s, dir, "orders")
    val keys = Seq("o_orderkey", "o_orderdate")
    ManifestTable.mergeInto(s, orders, path, keys, dateCol = "o_orderdate")
    val margined = orders
      .filter($"o_orderkey" % 5 === 0 && year($"o_orderdate") === 1995)
      // halving a double is exact in IEEE-754, so the oracle replays it
      .select($"o_orderkey", $"o_orderdate", ($"o_totalprice" / 2).as("o_margin"))
    ManifestTable.mergeInto(s, margined, path, keys, dateCol = "o_orderdate")
  }

  /** S17: SCHEMA EVOLUTION read — after a merge whose batch adds a brand
    * new column, the read returns the evolved shape: batch rows carry the
    * new values, matched rows keep their base values on every column the
    * batch never sent (updateAll carry), and rows in partitions the merge
    * never touched — whose parquet files do not contain the column at
    * all — come back as typed nulls. DuckDB replays the whole contract
    * as one CASE over the source table. */
  private val s17 = QueryDef(
    "s17_schema_evolution_read",
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice,
        CASE WHEN o_orderkey % 5 = 0 AND year(o_orderdate) = 1995
          THEN o_totalprice / 2 END AS o_margin,
        CAST(year(o_orderdate) AS INTEGER) AS part_year
      FROM orders
      ORDER BY o_orderkey"""),
    (s, dir) => {
      import s.implicits._
      val path = lakeDir(dir, "ev17_v")
      buildEvolved(s, dir, path)
      ManifestTable.read(s, path)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_margin",
          $"part_year")
        .orderBy($"o_orderkey")
    },
    benchBuild = Some((s, dir) => {
      import s.implicits._
      ManifestTable.read(s, lakeDir(dir, "ev17_b"))
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_margin",
          $"part_year")
        .orderBy($"o_orderkey")
    }),
    benchSetup = Some((s, dir) => buildEvolved(s, dir, lakeDir(dir, "ev17_b"))))

  /** Primary at three versions (v1 orders → v2 reprice merge → v3
    * merge-on-read delete of the %10=6 keys) and a REPLICA seeded with
    * v1 that consumes the primary's own CDC feeds in version order —
    * table replication end to end on the engine's primitives:
    * `changes(1,2)` upserts ride [[ManifestTable.applyChanges]]'s merge
    * arm, `changes(2,3)` deletes ride its MoR-tuple arm, each sync
    * paying O(changed rows), never a table copy. */
  private def buildReplica(s: SparkSession, dir: String, primary: String,
      replica: String): Unit = {
    import s.implicits._
    val keys = Seq("o_orderkey", "o_orderdate")
    buildVersioned(s, dir, primary)
    ManifestTable.deleteWhereMoR(s, primary, $"o_orderkey" % 10 === 6, keys)
    Scratch.wipe(s, replica)
    ManifestTable.mergeInto(s, T(s, dir, "orders"), replica, keys,
      dateCol = "o_orderdate")
    ManifestTable.applyChanges(s, replica,
      ManifestTable.changes(s, primary, 1, 2, keys), keys, "o_orderdate")
    ManifestTable.applyChanges(s, replica,
      ManifestTable.changes(s, primary, 2, 3, keys), keys, "o_orderdate")
  }

  /** S18: CDC-REPLICATED read — the replica, having seen nothing but the
    * primary's change feeds, must hold exactly the primary's v3 state:
    * every reprice applied, every deleted key gone. DuckDB replays that
    * state from the source tables directly (an update that lands the old
    * value is invisible in the feed, but COALESCE of an equal value is
    * the identity, so the replay is value-exact either way). */
  private val s18 = QueryDef(
    "s18_cdc_replica_read",
    Some("""
      WITH upd AS (
        SELECT l_orderkey AS o_orderkey,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS p
        FROM lineitem WHERE l_orderkey % 7 = 0 GROUP BY 1)
      SELECT b.o_orderkey, b.o_custkey,
        COALESCE(u.p, b.o_totalprice) AS o_totalprice,
        CAST(year(b.o_orderdate) AS INTEGER) AS part_year
      FROM orders b LEFT JOIN upd u ON b.o_orderkey = u.o_orderkey
      WHERE b.o_orderkey % 10 <> 6
      ORDER BY b.o_orderkey"""),
    (s, dir) => {
      import s.implicits._
      val primary = lakeDir(dir, "rep18p_v")
      val replica = lakeDir(dir, "rep18r_v")
      buildReplica(s, dir, primary, replica)
      ManifestTable.read(s, replica)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"part_year")
        .orderBy($"o_orderkey")
    },
    benchBuild = Some((s, dir) => {
      import s.implicits._
      ManifestTable.read(s, lakeDir(dir, "rep18r_b"))
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"part_year")
        .orderBy($"o_orderkey")
    }),
    benchSetup = Some((s, dir) =>
      buildReplica(s, dir, lakeDir(dir, "rep18p_b"), lakeDir(dir, "rep18r_b"))))

  /** Gold grain: daily revenue + order count. Decimal-exact sum cast to
    * double at the end (H policy), COUNT exact — both replayable. */
  private def goldAgg(df: org.apache.spark.sql.DataFrame) =
    df.groupBy(col("o_orderdate"))
      .agg(H.dbl(sum(H.dec2(col("o_totalprice")))).as("revenue"),
        count(lit(1)).as("n_orders"))

  /** Version-bookmarked gold maintenance end to end: bronze manifest v1
    * → FULL first refresh (version-0 diff is blind to deletions, so the
    * first pass replaces gold wholesale), reprice merge → v2 →
    * INCREMENTAL second refresh that diffs v1..v2 and re-aggregates only
    * the dates the merge touched (O(changed partitions), spec-proved in
    * IncrementalGoldSpec — here the RESULT is what the oracle pins). */
  private def buildGold(s: SparkSession, dir: String, bronze: String,
      gold: String, bookmark: String): Unit = {
    import s.implicits._
    Seq(bronze, gold, bookmark).foreach(Scratch.wipe(s, _))
    val keys = Seq("o_orderkey", "o_orderdate")
    val orders = T(s, dir, "orders")
    ManifestTable.mergeInto(s, orders, bronze, keys, dateCol = "o_orderdate")
    def refresh(): Unit = graft.etl.IncrementalGold.refreshFromManifest(
      s, bronze, gold, bookmark, "o_orderdate", keys, Seq("o_orderdate"),
      goldAgg)
    refresh()
    val upd = T(s, dir, "lineitem")
      .filter($"l_orderkey" % 7 === 0)
      .groupBy($"l_orderkey".as("o_orderkey"))
      .agg(H.dbl(sum(H.dec2($"l_extendedprice"))).as("o_totalprice"))
      .join(orders.select($"o_orderkey", $"o_orderdate"), "o_orderkey")
      .select($"o_orderkey", $"o_orderdate", $"o_totalprice")
    ManifestTable.mergeInto(s, upd, bronze, keys, dateCol = "o_orderdate")
    refresh()
  }

  /** S19: INCREMENTAL GOLD read — after the bookmarked refresh cycle the
    * gold table must hold exactly the aggregate of bronze's final state,
    * which DuckDB replays as one repriced grouped sum over the source
    * tables. (The repriced totals are integer cents, exact in double, so
    * the DECIMAL round-trip through the gold grain is bit-portable.) */
  private val s19 = QueryDef(
    "s19_incremental_gold",
    Some("""
      WITH upd AS (
        SELECT l_orderkey AS o_orderkey,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS p
        FROM lineitem WHERE l_orderkey % 7 = 0 GROUP BY 1),
      final AS (
        SELECT b.o_orderdate, COALESCE(u.p, b.o_totalprice) AS price
        FROM orders b LEFT JOIN upd u ON b.o_orderkey = u.o_orderkey)
      SELECT o_orderdate,
        CAST(SUM(CAST(price AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        COUNT(*) AS n_orders
      FROM final
      GROUP BY o_orderdate
      ORDER BY o_orderdate"""),
    (s, dir) => {
      import s.implicits._
      val bronze = lakeDir(dir, "ig19b_v")
      val gold = lakeDir(dir, "ig19g_v")
      val bookmark = lakeDir(dir, "ig19k_v")
      buildGold(s, dir, bronze, gold, bookmark)
      s.read.parquet(gold)
        .select($"o_orderdate", $"revenue", $"n_orders")
        .orderBy($"o_orderdate")
    },
    benchBuild = Some((s, dir) => {
      import s.implicits._
      s.read.parquet(lakeDir(dir, "ig19g_b"))
        .select($"o_orderdate", $"revenue", $"n_orders")
        .orderBy($"o_orderdate")
    }),
    benchSetup = Some((s, dir) => buildGold(s, dir, lakeDir(dir, "ig19b_b"),
      lakeDir(dir, "ig19g_b"), lakeDir(dir, "ig19k_b"))))

  /** Year-partitioned fact + a tiny year dim carrying the label the
    * query filters on — the classic dynamic-partition-pruning layout:
    * the fact's partition values are only knowable at RUNTIME from the
    * dim's filtered rows, so static pruning cannot help and the planner
    * must inject the pruning subquery. */
  private def buildDppTables(s: SparkSession, dir: String, factPath: String,
      dimPath: String): Unit = {
    Scratch.wipe(s, factPath); Scratch.wipe(s, dimPath)
    T(s, dir, "orders").withColumn("part_year", year(col("o_orderdate")))
      .write.partitionBy("part_year").mode("overwrite").parquet(factPath)
    T(s, dir, "orders")
      .select(year(col("o_orderdate")).as("part_year")).distinct()
      .withColumn("era",
        when(col("part_year").isin(1995, 1996), "mid").otherwise("other"))
      .coalesce(1).write.mode("overwrite").parquet(dimPath)
  }

  private def dppFrame(s: SparkSession, factPath: String, dimPath: String) = {
    val fact = s.read.parquet(factPath)
    val dim = s.read.parquet(dimPath).filter(col("era") === "mid")
    fact.join(dim, "part_year")
      .groupBy(col("part_year"))
      .agg(H.dbl(sum(H.dec2(col("o_totalprice")))).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("part_year"))
  }

  /** S20: DYNAMIC PARTITION PRUNING — at 100 TB the difference between
    * scanning 2 partition directories and scanning 2,000: the dim's
    * selective filter seeds a runtime subquery that prunes the fact's
    * partition listing before any fact bytes are read (plan-asserted in
    * PlanAuditSpec; here the oracle pins the join's values). */
  private val s20 = QueryDef(
    "s20_dpp_join",
    Some("""
      SELECT CAST(year(o_orderdate) AS INTEGER) AS part_year,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        COUNT(*) AS n_orders
      FROM orders
      WHERE year(o_orderdate) IN (1995, 1996)
      GROUP BY 1
      ORDER BY 1"""),
    (s, dir) => {
      val fact = lakeDir(dir, "dpp20f_v")
      val dim = lakeDir(dir, "dpp20d_v")
      buildDppTables(s, dir, fact, dim)
      dppFrame(s, fact, dim)
    },
    benchBuild = Some((s, dir) =>
      dppFrame(s, lakeDir(dir, "dpp20f_b"), lakeDir(dir, "dpp20d_b"))),
    benchSetup = Some((s, dir) =>
      buildDppTables(s, dir, lakeDir(dir, "dpp20f_b"), lakeDir(dir, "dpp20d_b"))))

  /** Catalog-table names must be path-free; derive a per-variant tag the
    * same way lakeDir derives its scratch dirs. */
  private def bucketTag(sfDir: String, v: String): String =
    v + "_" + Scratch.safe(sfDir)

  /** Orders and lineitem bucketed+sorted on the join key with EQUAL
    * bucket counts — the pre-paid shuffle. */
  /** DROP TABLE only clears the location when THIS session's catalog
    * knows the table; a fresh session re-running the build would
    * otherwise hit LOCATION_ALREADY_EXISTS on the stale warehouse dir
    * left by a previous JVM. Clear both. */
  private def dropBucketTable(s: SparkSession, name: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $name")
    Scratch.wipe(s,
      new Path(new Path(s.conf.get("spark.sql.warehouse.dir")), name).toString)
  }

  private def buildBucketedPair(s: SparkSession, dir: String, tag: String): Unit = {
    import graft.etl.LakeLayout
    dropBucketTable(s, s"j12_orders_$tag")
    dropBucketTable(s, s"j12_lineitem_$tag")
    LakeLayout.writeBucketed(
      T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice")),
      s"j12_orders_$tag", "o_orderkey", 8)
    LakeLayout.writeBucketed(
      T(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"),
        col("l_extendedprice")),
      s"j12_lineitem_$tag", "l_orderkey", 8)
  }

  private def bucketedJoinFrame(s: SparkSession, tag: String) = {
    val o = s.table(s"j12_orders_$tag")
    val l = s.table(s"j12_lineitem_$tag")
    // merge hint: the bucketed sort-merge path even where the optimizer
    // would broadcast at toy scale — the 100 TB fact↔fact shape is SMJ
    o.hint("merge").join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(H.dbl(sum(H.dec2(col("l_quantity")))).as("total_qty"),
        H.dbl(sum(H.dec2(col("l_extendedprice")))).as("revenue"))
      .orderBy(col("o_orderkey"))
  }

  /** J12: BUCKETED (co-located) fact↔fact join — both sides pre-bucketed
    * on the join key with equal bucket counts, so the sort-merge join
    * and the join-key aggregation run with ZERO hash exchanges in the
    * executed plan (the shuffle was paid once at write time;
    * plan-asserted in PlanAuditSpec, value-pinned here by DuckDB). */
  private val j12 = QueryDef(
    "j12_bucketed_join",
    Some("""
      SELECT o_orderkey,
        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_orderkey
      ORDER BY o_orderkey"""),
    (s, dir) => {
      val tag = bucketTag(dir, "v")
      buildBucketedPair(s, dir, tag)
      bucketedJoinFrame(s, tag)
    },
    benchBuild = Some((s, dir) => bucketedJoinFrame(s, bucketTag(dir, "b"))),
    benchSetup = Some((s, dir) => buildBucketedPair(s, dir, bucketTag(dir, "b"))))

  /** orders with an INT `o_custkey` (v1), then one year's rows re-merged
    * with the column as LONG (v2): the type-widening fixture. Only
    * 1995's partition is rewritten with int64 pages; every other year's
    * files still hold int32 pages and the read must return them widened
    * through the snapshot schema. */
  private def buildWidened(s: SparkSession, dir: String, path: String): Unit = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    import s.implicits._
    Scratch.wipe(s, path)
    val keys = Seq("o_orderkey", "o_orderdate")
    val orders = T(s, dir, "orders")
    ManifestTable.mergeInto(s,
      orders.withColumn("o_custkey", $"o_custkey".cast(IntegerType)),
      path, keys, dateCol = "o_orderdate")
    ManifestTable.mergeInto(s,
      orders.filter(year($"o_orderdate") === 1995)
        .select($"o_orderkey", $"o_orderdate",
          $"o_custkey".cast(LongType).as("o_custkey")),
      path, keys, dateCol = "o_orderdate")
  }

  /** S21: TYPE-WIDENING read — after a batch carries a column at a wider
    * numeric type (int→long), the whole table reads at the widened type:
    * untouched partitions' int32 pages come back as longs through the
    * snapshot schema, values bit-identical. The driver compares SCHEMA
    * as well as values, so DuckDB's BIGINT pins the widened type, and
    * the value hash pins that no row was corrupted by the widening.
    * (Narrowing/cross-family refusals are spec-asserted in
    * ManifestTableSpec.) */
  private val s21 = QueryDef(
    "s21_type_widening_read",
    Some("""
      SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS o_custkey,
        o_totalprice, CAST(year(o_orderdate) AS INTEGER) AS part_year
      FROM orders
      ORDER BY o_orderkey"""),
    (s, dir) => {
      import s.implicits._
      val path = lakeDir(dir, "tw21_v")
      buildWidened(s, dir, path)
      ManifestTable.read(s, path)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"part_year")
        .orderBy($"o_orderkey")
    },
    benchBuild = Some((s, dir) => {
      import s.implicits._
      ManifestTable.read(s, lakeDir(dir, "tw21_b"))
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"part_year")
        .orderBy($"o_orderkey")
    }),
    benchSetup = Some((s, dir) => buildWidened(s, dir, lakeDir(dir, "tw21_b"))))

  /** The WAP auditor: every post-merge total non-negative, table
    * non-empty — evaluated on the STAGED state, one scan. */
  private def wapAudit(merged: org.apache.spark.sql.DataFrame): Boolean = {
    import graft.etl.DataQuality
    DataQuality.allPassed(DataQuality.report(Seq(DataQuality.rowChecks(
      merged, Seq(DataQuality.NonNegative("o_totalprice", "orders.o_totalprice"),
        DataQuality.MinRows("orders", 1.0))))))
  }

  /** orders published through WRITE-AUDIT-PUBLISH (audit passes), then a
    * poisoned batch (negative total) whose staged state FAILS the same
    * audit — the rejection must consume no version and leak no bytes. */
  private def buildWap(s: SparkSession, dir: String, path: String): Unit = {
    import s.implicits._
    Scratch.wipe(s, path)
    val keys = Seq("o_orderkey", "o_orderdate")
    val orders = T(s, dir, "orders")
    val published = ManifestTable.writeAuditPublish(s, orders, path, keys,
      dateCol = "o_orderdate")(wapAudit)
    require(published.contains(1), s"clean batch must publish, got $published")
    // pin the poison's key/date columns to the table's own types — the
    // point is the AUDIT rejection, not a schema-evolution refusal
    val poison = Seq((java.sql.Date.valueOf("1995-06-01"), -1.0))
      .toDF("o_orderdate", "o_totalprice")
      .select(
        lit(-7L).cast(orders.schema("o_orderkey").dataType).as("o_orderkey"),
        $"o_orderdate".cast(orders.schema("o_orderdate").dataType)
          .as("o_orderdate"),
        $"o_totalprice")
    val rejected = ManifestTable.writeAuditPublish(s, poison, path, keys,
      dateCol = "o_orderdate")(wapAudit)
    require(rejected.isEmpty, "the poisoned batch must be rejected")
  }

  /** S22: WRITE-AUDIT-PUBLISH read — after a published clean batch and a
    * REJECTED poisoned one, the table must read as if the poison never
    * existed (the audit ran on the staged post-merge state; the flip
    * never happened; the staged bytes are gone). DuckDB replays the
    * published state as the plain source table — any leak of the
    * rejected write breaks the hash. The no-version-consumed and
    * bytes-deleted claims are spec-asserted in ManifestTableSpec. */
  private val s22 = QueryDef(
    "s22_wap_publish_read",
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice,
        CAST(year(o_orderdate) AS INTEGER) AS part_year
      FROM orders
      ORDER BY o_orderkey"""),
    (s, dir) => {
      import s.implicits._
      val path = lakeDir(dir, "wap22_v")
      buildWap(s, dir, path)
      ManifestTable.read(s, path)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"part_year")
        .orderBy($"o_orderkey")
    },
    benchBuild = Some((s, dir) => {
      import s.implicits._
      ManifestTable.read(s, lakeDir(dir, "wap22_b"))
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"part_year")
        .orderBy($"o_orderkey")
    }),
    benchSetup = Some((s, dir) => buildWap(s, dir, lakeDir(dir, "wap22_b"))))

  /** Scripted commit sequence shared by the metadata-table queries: a
    * full-orders merge (every year dir written), a one-year merge (only
    * that dir rewritten), and a MoR key delete (zero data dirs touched,
    * one equality-delete dir added). Each step's manifest-level shape is
    * derivable from the source table alone, so `history`/`files` become
    * oracle-checkable modulo timestamps. */
  private def buildMetaSeq(s: SparkSession, dir: String, path: String): Unit = {
    import s.implicits._
    Scratch.wipe(s, path)
    val keys = Seq("o_orderkey", "o_orderdate")
    val orders = T(s, dir, "orders")
    ManifestTable.mergeInto(s, orders, path, keys, dateCol = "o_orderdate")
    ManifestTable.mergeInto(s,
      orders.filter(year($"o_orderdate") === 1996)
        .withColumn("o_totalprice", $"o_totalprice" + 100.0),
      path, keys, dateCol = "o_orderdate")
    val n = ManifestTable.deleteKeysMoR(s, path,
      orders.filter(year($"o_orderdate") === 1996 && $"o_orderkey" % 10 === 0),
      keys)
    require(n > 0, "the MoR delete step must match rows at every SF")
  }

  /** S23: `history` METADATA TABLE read — after the scripted
    * merge/merge/MoR-delete sequence, the timestamp-free projection of
    * [[ManifestTable.history]] is fully determined by the protocol:
    * v1 writes every year dir, v2 rewrites exactly the one merged year,
    * v3 (MoR delete) rewrites ZERO data dirs and adds ONE delete dir.
    * The oracle derives partition and column counts from the source
    * table itself (COUNT(DISTINCT year), DESCRIBE count), so the row
    * stays green across SFs and testdata schema changes. Answerable
    * from O(versions) manifest listings — no data bytes open. */
  private val s23 = QueryDef(
    "s23_history_read",
    Some("""
      WITH y AS (SELECT CAST(COUNT(DISTINCT year(o_orderdate)) AS INTEGER)
                   AS ny FROM orders),
      c AS (SELECT CAST(COUNT(*) AS BIGINT) AS nc FROM (DESCRIBE orders))
      SELECT CAST(t.v AS INTEGER) AS version,
        y.ny AS n_partitions,
        CAST(CASE t.v WHEN 1 THEN y.ny WHEN 2 THEN 1 ELSE 0 END AS INTEGER)
          AS n_rewritten_dirs,
        CAST(CASE t.v WHEN 3 THEN 1 ELSE 0 END AS INTEGER) AS n_delete_dirs,
        c.nc AS n_schema_cols
      FROM (VALUES (1), (2), (3)) t(v), y, c
      ORDER BY version"""),
    (s, dir) => {
      import s.implicits._
      val path = lakeDir(dir, "meta23_v")
      buildMetaSeq(s, dir, path)
      ManifestTable.history(s, path)
        .select($"version", $"n_partitions", $"n_rewritten_dirs",
          $"n_delete_dirs", $"n_schema_cols")
        .orderBy($"version")
    },
    benchBuild = Some((s, dir) => {
      import s.implicits._
      ManifestTable.history(s, lakeDir(dir, "meta23_b"))
        .select($"version", $"n_partitions", $"n_rewritten_dirs",
          $"n_delete_dirs", $"n_schema_cols")
        .orderBy($"version")
    }),
    benchSetup = Some((s, dir) => buildMetaSeq(s, dir, lakeDir(dir, "meta23_b"))))

  /** S24: `files` METADATA TABLE read — the same scripted sequence plus
    * a [[ManifestTable.compact]]: compaction folds the pending MoR
    * tuples and rewrites every multi-file or delete-carrying partition
    * to its byte-derived target (one file per year at test scale), so
    * the per-partition file count from [[ManifestTable.filesMeta]]'s
    * pure listings is exactly 1 — a leaked stale file, an unfolded
    * delete dir, or a miscounted listing all break the hash. This is
    * the operational "is this table fragmented" view that drives
    * compaction decisions, at O(files) metadata cost. */
  private val s24 = QueryDef(
    "s24_files_read",
    Some("""
      SELECT CAST(year(o_orderdate) AS INTEGER) AS part_year,
        CAST(1 AS BIGINT) AS n_files
      FROM orders
      GROUP BY 1
      ORDER BY part_year"""),
    (s, dir) => {
      import s.implicits._
      val path = lakeDir(dir, "meta24_v")
      buildMetaSeq(s, dir, path)
      ManifestTable.compact(s, path)
      val files = ManifestTable.filesMeta(s, path)
      // The oracle's "exactly 1 file per year" holds only while each
      // year's bytes fit one compaction target file (128 MB default) —
      // true through sf0.1/curve scales, NOT a correctness property at
      // arbitrary SF (orders crosses it around sf>=100). Guard it so a
      // scale-driven break is a named error here, not a bare hash
      // mismatch at the driver. Bounded collect: one row per year.
      val target = ManifestTable.DefaultTargetFileBytes
      val oversize = files.groupBy($"part_year")
        .agg(sum($"bytes").as("part_bytes"))
        .filter($"part_bytes" > target).collect()
      require(oversize.isEmpty,
        s"s24_files_read's 1-file-per-partition oracle assumes every year " +
          s"fits one $target-byte compaction target; oversize years: " +
          oversize.map(r => s"${r.get(0)}=${r.get(1)}B").mkString(", ") +
          " — rerun at a smaller SF or derive the oracle's expected " +
          "count as ceil(part_bytes / target)")
      files.groupBy($"part_year").agg(count(lit(1)).as("n_files"))
        .orderBy($"part_year")
    },
    benchBuild = Some((s, dir) => {
      import s.implicits._
      ManifestTable.filesMeta(s, lakeDir(dir, "meta24_b"))
        .groupBy($"part_year").agg(count(lit(1)).as("n_files"))
        .orderBy($"part_year")
    }),
    benchSetup = Some((s, dir) => {
      val path = lakeDir(dir, "meta24_b")
      buildMetaSeq(s, dir, path)
      ManifestTable.compact(s, path)
    }))

  override val defs: Seq[QueryDef] =
    Seq(s11, s12, s13, s14, s15, s16, s17, s18, s19, s20, j12, s21, s22,
      s23, s24)
}
