package graft.operators

import graft.core._
import graft.etl.DataQuality
import graft.etl.DataQuality._

/** Declared data-quality validation: the [[graft.etl.DataQuality]] check
  * compiler run as an oracle-checked query — the batch-acceptance gate /
  * table health report of a lakehouse ingest, asserted value-exact
  * against DuckDB (the 0/1-indicator aggregates are integer-valued in
  * double, so the fractions are bit-portable across engines).
  *
  * The suite exercises every check type over `orders`/`lineitem`:
  * completeness, key uniqueness, accepted values, two range checks, a
  * non-negativity check, a row floor, and cross-table referential
  * containment — nine checks, THREE passes total (one scan per table's
  * row-level batch + one broadcast-left-join for the FK coverage). The
  * `l_tax ≤ 0.05` range check is deliberately tighter than the data so
  * the report's failure path is exercised, not just all-green rows.
  */
object QualityOps extends QueryModule {

  private val dqChecks = QueryDef(
    "dq_table_checks",
    Some("""
      WITH o AS (
        SELECT
          avg(CASE WHEN o_orderpriority IS NOT NULL THEN 1.0 ELSE 0.0 END) AS completeness,
          CAST(count(DISTINCT o_orderkey) AS DOUBLE) / count(*) AS uniq,
          avg(CASE WHEN o_orderstatus IN ('O', 'F', 'P') THEN 1.0 ELSE 0.0 END) AS accepted,
          CAST(count(*) AS DOUBLE) AS n_rows
        FROM orders),
      l AS (
        SELECT
          avg(CASE WHEN l_discount BETWEEN 0.0 AND 0.1 THEN 1.0 ELSE 0.0 END) AS r_disc,
          avg(CASE WHEN l_quantity BETWEEN 1.0 AND 50.0 THEN 1.0 ELSE 0.0 END) AS r_qty,
          avg(CASE WHEN l_tax BETWEEN 0.0 AND 0.05 THEN 1.0 ELSE 0.0 END) AS r_tax,
          avg(CASE WHEN l_extendedprice >= 0.0 THEN 1.0 ELSE 0.0 END) AS nonneg
        FROM lineitem),
      c AS (
        SELECT avg(CASE WHEN pk.o_orderkey IS NOT NULL THEN 1.0 ELSE 0.0 END) AS contained
        FROM lineitem li
        LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) pk
          ON li.l_orderkey = pk.o_orderkey),
      u AS (
        SELECT 'completeness(orders.o_orderpriority)' AS check_name,
          completeness AS metric_value, 1.0 AS threshold FROM o
        UNION ALL SELECT 'uniqueness(orders.o_orderkey)', uniq, 1.0 FROM o
        UNION ALL SELECT 'accepted_values(orders.o_orderstatus)', accepted, 1.0 FROM o
        UNION ALL SELECT 'min_rows(orders)', n_rows, 1.0 FROM o
        UNION ALL SELECT 'in_range(lineitem.l_discount)', r_disc, 1.0 FROM l
        UNION ALL SELECT 'in_range(lineitem.l_quantity)', r_qty, 1.0 FROM l
        UNION ALL SELECT 'in_range(lineitem.l_tax)', r_tax, 1.0 FROM l
        UNION ALL SELECT 'non_negative(lineitem.l_extendedprice)', nonneg, 1.0 FROM l
        UNION ALL SELECT 'containment(lineitem.l_orderkey)', contained, 1.0 FROM c)
      SELECT check_name, metric_value, threshold,
        CAST(CASE WHEN metric_value >= threshold THEN 1 ELSE 0 END AS BIGINT) AS passed
      FROM u
      ORDER BY check_name"""),
    (s, dir) => {
      val orders = T(s, dir, "orders")
      val lineitem = T(s, dir, "lineitem")
      DataQuality.report(Seq(
        DataQuality.rowChecks(orders, Seq(
          Completeness("o_orderpriority", "orders.o_orderpriority"),
          Uniqueness("o_orderkey", "orders.o_orderkey"),
          AcceptedValues("o_orderstatus", Seq("O", "F", "P"),
            "orders.o_orderstatus"),
          MinRows("orders", threshold = 1.0))),
        DataQuality.rowChecks(lineitem, Seq(
          InRange("l_discount", 0.0, 0.1, "lineitem.l_discount"),
          InRange("l_quantity", 1.0, 50.0, "lineitem.l_quantity"),
          InRange("l_tax", 0.0, 0.05, "lineitem.l_tax"),
          NonNegative("l_extendedprice", "lineitem.l_extendedprice"))),
        DataQuality.containment(lineitem, "l_orderkey", orders,
          "o_orderkey", "lineitem.l_orderkey")))
    })

  /** Scratch manifest path for the metadata arm ([[Scratch.dir]]). */
  private def dqDir(sfDir: String, tag: String): String =
    Scratch.dir("graft_lake", tag, sfDir)

  private def buildDqTable(s: org.apache.spark.sql.SparkSession,
      dir: String, path: String): Unit = {
    Scratch.wipe(s, path)
    graft.etl.ManifestTable.mergeInto(s, T(s, dir, "orders"), path,
      keys = Seq("o_orderkey", "o_orderdate"), dateCol = "o_orderdate")
  }

  private val metaChecks: Seq[RowCheck] = Seq(
    Completeness("o_orderpriority", "orders.o_orderpriority"),
    MinRows("orders", threshold = 1.0),
    NonNegative("o_totalprice", "orders.o_totalprice"),
    InRange("o_totalprice", 0.0, 1.0e9, "orders.o_totalprice"))

  /** The metadata-only health report as a declared, oracle-checked
    * query: [[DataQuality.hybridReport]] over a manifest copy of
    * `orders`. The three NUMERIC checks are answered from zone-map
    * stats with zero data files opened (`from_metadata = 1` — the
    * claim the scaladoc makes, here hash-checked); the STRING
    * completeness check is deliberately in the suite because string
    * stats are truncation-loose and statsAgg refuses them — it takes
    * the one fallback scan (`from_metadata = 0`). The DuckDB oracle
    * replays every metric as a plain aggregate over the source table:
    * by the statsAgg soundness contract the metadata answers equal the
    * scan answers, so the hash match IS the soundness check. */
  private val dqMeta = QueryDef(
    "dq_meta_checks",
    Some("""
      WITH m AS (
        SELECT
          avg(CASE WHEN o_orderpriority IS NOT NULL THEN 1.0 ELSE 0.0 END) AS comp,
          CAST(count(*) AS DOUBLE) AS n_rows,
          avg(CASE WHEN o_totalprice >= 0.0 THEN 1.0 ELSE 0.0 END) AS nonneg,
          avg(CASE WHEN o_totalprice BETWEEN 0.0 AND 1000000000.0 THEN 1.0 ELSE 0.0 END) AS rng
        FROM orders),
      u AS (
        SELECT 'completeness(orders.o_orderpriority)' AS check_name,
          comp AS metric_value, 1.0 AS threshold, 0 AS fm FROM m
        UNION ALL SELECT 'in_range(orders.o_totalprice)', rng, 1.0, 1 FROM m
        UNION ALL SELECT 'min_rows(orders)', n_rows, 1.0, 1 FROM m
        UNION ALL SELECT 'non_negative(orders.o_totalprice)', nonneg, 1.0, 1 FROM m)
      SELECT check_name, metric_value, threshold,
        CAST(CASE WHEN metric_value >= threshold THEN 1 ELSE 0 END AS BIGINT) AS passed,
        CAST(fm AS BIGINT) AS from_metadata
      FROM u
      ORDER BY check_name"""),
    (s, dir) => {
      val path = dqDir(dir, "dqm_v")
      buildDqTable(s, dir, path)
      DataQuality.hybridReport(s, path, metaChecks)
    },
    benchBuild = Some((s, dir) =>
      DataQuality.hybridReport(s, dqDir(dir, "dqm_b"), metaChecks)),
    benchSetup = Some((s, dir) => buildDqTable(s, dir, dqDir(dir, "dqm_b"))))

  /** The one-scan column profiler as a declared, oracle-checked query:
    * five `orders` columns (two bigint keys, two strings, a date — the
    * cross-engine-stringifiable domain) profiled in a single
    * aggregation; DuckDB replays every metric as plain aggregates. The
    * one-scan claim is plan-asserted in DataQualitySpec. */
  private val dqProfile = QueryDef(
    "dq_profile",
    Some("""
      WITH p AS (
        SELECT count(*) AS n,
          count(o_orderkey) AS nn1, count(DISTINCT o_orderkey) AS nd1,
            CAST(min(o_orderkey) AS VARCHAR) AS mn1, CAST(max(o_orderkey) AS VARCHAR) AS mx1,
          count(o_custkey) AS nn2, count(DISTINCT o_custkey) AS nd2,
            CAST(min(o_custkey) AS VARCHAR) AS mn2, CAST(max(o_custkey) AS VARCHAR) AS mx2,
          count(o_orderstatus) AS nn3, count(DISTINCT o_orderstatus) AS nd3,
            CAST(min(o_orderstatus) AS VARCHAR) AS mn3, CAST(max(o_orderstatus) AS VARCHAR) AS mx3,
          count(o_orderpriority) AS nn4, count(DISTINCT o_orderpriority) AS nd4,
            CAST(min(o_orderpriority) AS VARCHAR) AS mn4, CAST(max(o_orderpriority) AS VARCHAR) AS mx4,
          count(o_orderdate) AS nn5, count(DISTINCT o_orderdate) AS nd5,
            CAST(min(o_orderdate) AS VARCHAR) AS mn5, CAST(max(o_orderdate) AS VARCHAR) AS mx5
        FROM orders)
      SELECT column_name, n AS n_rows, n - nn AS n_nulls, nd AS n_distinct,
        mn AS min_value, mx AS max_value
      FROM (
        SELECT 'o_orderkey' AS column_name, n, nn1 AS nn, nd1 AS nd, mn1 AS mn, mx1 AS mx FROM p
        UNION ALL SELECT 'o_custkey', n, nn2, nd2, mn2, mx2 FROM p
        UNION ALL SELECT 'o_orderstatus', n, nn3, nd3, mn3, mx3 FROM p
        UNION ALL SELECT 'o_orderpriority', n, nn4, nd4, mn4, mx4 FROM p
        UNION ALL SELECT 'o_orderdate', n, nn5, nd5, mn5, mx5 FROM p)
      ORDER BY column_name"""),
    (s, dir) => DataQuality.profile(T(s, dir, "orders"),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
        "o_orderdate")))

  /** METRIC DRIFT as a declared, oracle-checked query: the
    * [[DataQuality.drift]] watcher (the ingest's advisory quality watch)
    * run over a deterministic series — daily event volumes — with DuckDB
    * replaying the trailing-k window mean. Portability is by
    * construction: the metric is an INTEGER-valued double (a count), so
    * the window SUM is exact under any summation order and the /k mean
    * divides the same two numbers in both engines; rows with fewer than
    * k predecessors report null (no baseline, never a guess), exactly
    * the product's contract. */
  private val dqDrift = QueryDef(
    "dq_drift_series",
    Some("""
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
          CAST(COUNT(*) AS DOUBLE) AS metric_value
        FROM events GROUP BY 1),
      win AS (
        SELECT day, metric_value,
          CASE WHEN COUNT(metric_value) OVER w >= 3
            THEN AVG(metric_value) OVER w END AS trailing_mean
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING))
      SELECT day, metric_value, trailing_mean,
        metric_value - trailing_mean AS drift,
        CASE WHEN trailing_mean IS NOT NULL
          THEN abs(metric_value - trailing_mean) > 150.0 END AS drifted
      FROM win
      ORDER BY day"""),
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val daily = EventOps.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).cast("double").as("metric_value"))
        .withColumn("scope", lit("events"))
        .withColumn("check_name", lit("daily_volume"))
      DataQuality.drift(daily, col("day"), k = 3, tolerance = 150.0)
        .select(col("day"), col("metric_value"), col("trailing_mean"),
          col("drift"), col("drifted"))
        .orderBy(col("day"))
    })

  /** The one-scan equi-width histogram as a declared query: orders'
    * totals over [0, 600k) in 12 × 50k buckets (clean literal width, so
    * the bucket index — one subtraction, one division, one floor — is
    * the same double math in both engines). */
  private val dqHistogram = QueryDef(
    "dq_histogram",
    Some("""
      WITH b AS (
        SELECT CASE WHEN o_totalprice < 0.0 THEN -1
                    WHEN o_totalprice >= 600000.0 THEN 12
                    ELSE CAST(floor((o_totalprice - 0.0) / 50000.0) AS INTEGER)
               END AS bucket
        FROM orders WHERE o_totalprice IS NOT NULL)
      SELECT bucket,
        CAST(0.0 + bucket * 50000.0 AS DOUBLE) AS lo_edge,
        CAST(0.0 + (bucket + 1) * 50000.0 AS DOUBLE) AS hi_edge,
        COUNT(*) AS n_rows
      FROM b GROUP BY bucket ORDER BY bucket"""),
    (s, dir) => DataQuality.histogram(T(s, dir, "orders"), "o_totalprice",
      lo = 0.0, hi = 600000.0, buckets = 12))

  override val defs: Seq[QueryDef] =
    Seq(dqChecks, dqMeta, dqProfile, dqDrift, dqHistogram)
}
