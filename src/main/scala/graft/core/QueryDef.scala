package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One declared engine capability: a Spark DataFrame builder over the
  * testdata tables plus (when SQL-expressible) an equivalent DuckDB oracle
  * query. Column names MUST match between the two — the driver sorts
  * columns by name and hashes values.
  *
  * `benchBuild`, when set, is what Bench times instead of `build`: some
  * queries are DECLARED with an oracle-portable hash (md5-derived, so
  * DuckDB can replay the pipeline value-for-value) whose scalar cost is
  * not the production path's. Verify always checks `build`; Bench measures
  * `benchBuild.getOrElse(build)`. The two must be the same pipeline shape —
  * only a scalar primitive may differ (the hash, or the ordered-fold vs
  * `avg` mean in IVF training).
  *
  * `benchSetup`, when set, runs ONCE before Bench's timed reps — for
  * queries that probe a persisted artifact (e.g. the MinHash band index)
  * whose construction is an offline job amortized across many probes, not
  * part of the per-query cost being measured. Verify never uses it: the
  * `build` path must be self-contained (it rebuilds any artifact inline so
  * correctness never depends on stale state).
  */
final case class QueryDef(
    name: String,
    oracle: Option[String],
    build: (SparkSession, String) => DataFrame,
    benchBuild: Option[(SparkSession, String) => DataFrame] = None,
    benchSetup: Option[(SparkSession, String) => Unit] = None)

trait QueryModule { def defs: Seq[QueryDef] }

/** On-disk scratch for the query modules whose builds stage fixtures
  * (streaming replays, lake tables, the ingest pipeline). */
object Scratch {

  /** `sfDir` with every non-alphanumeric character as `_`: a path
    * component or identifier suffix per sf dir. */
  def safe(sfDir: String): String = sfDir.replaceAll("[^A-Za-z0-9]", "_")

  /** `<java.io.tmpdir>/<area>/<tag>_<safe sfDir>`: one directory per
    * (fixture, sf dir), so Verify (sf0.01) and the specs (sf0.001) never
    * share state. */
  def dir(area: String, tag: String, sfDir: String): String =
    s"${sys.props("java.io.tmpdir")}/$area/${tag}_${safe(sfDir)}"

  /** Recursive delete of `path`; a no-op when it is absent. */
  def wipe(s: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }
}

/** Testdata table loader. Tables are single parquet files per TESTDATA.md.
  *
  * Every load is checked against a per-table column contract — the
  * round-8 lesson: the testdata's `events.ts` physical encoding changed
  * between rounds and the first symptom was 18 queries dying deep inside
  * analysis with a raw `DATATYPE_MISMATCH`. The contract turns the next
  * drift into ONE error naming the table, the column, what arrived, and
  * what the engine can absorb. Columns whose loaders adapt (timestamps
  * that have shipped as raw nanos, µs-timestamp, and NTZ; keys that have
  * shipped int32 and int64) admit the full set they handle; everything
  * else is pinned exact.
  */
object T {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val str: Set[DataType] = Set(StringType)
  private val dbl: Set[DataType] = Set(DoubleType)
  /** Integer keys have shipped both widths across testdata generations. */
  private val key: Set[DataType] = Set(IntegerType, LongType)
  /** `events.ts` encodings `EventOps.events` absorbs (raw-nanos LONG, µs
    * TIMESTAMP, NTZ, or plain DATE → midnight UTC). The contract and the
    * loader must agree EXACTLY — an encoding admitted here but not
    * branched there would pass the load check and then throw downstream,
    * which is the drift class this contract exists to catch. */
  private val eventTs: Set[DataType] =
    Set(LongType, TimestampType, TimestampNTZType, DateType)
  /** Date-valued columns (`o_orderdate`, `l_shipdate`) have NO adaptive
    * loader: queries apply `to_date()`/`year()` directly, which analyze
    * fine on DATE/TIMESTAMP/NTZ but fail on a raw integer — so LongType
    * is NOT admissible here, unlike `events.ts`. */
  private val dateLike: Set[DataType] =
    Set(DateType, TimestampType, TimestampNTZType)

  private val contracts: Map[String, Seq[(String, Set[DataType])]] = Map(
    "region" -> Seq("r_regionkey" -> key, "r_name" -> str),
    "nation" -> Seq("n_nationkey" -> key, "n_name" -> str,
      "n_regionkey" -> key),
    "customer" -> Seq("c_custkey" -> key, "c_name" -> str,
      "c_nationkey" -> key, "c_acctbal" -> dbl, "c_mktsegment" -> str),
    "supplier" -> Seq("s_suppkey" -> key, "s_name" -> str,
      "s_nationkey" -> key, "s_acctbal" -> dbl),
    "part" -> Seq("p_partkey" -> key, "p_name" -> str, "p_brand" -> str,
      "p_type" -> str, "p_size" -> key, "p_retailprice" -> dbl),
    "orders" -> Seq("o_orderkey" -> key, "o_custkey" -> key,
      "o_orderstatus" -> str, "o_totalprice" -> dbl,
      "o_orderdate" -> dateLike,
      "o_orderpriority" -> str),
    "lineitem" -> Seq("l_orderkey" -> key, "l_partkey" -> key,
      "l_suppkey" -> key, "l_linenumber" -> key, "l_quantity" -> dbl,
      "l_extendedprice" -> dbl, "l_discount" -> dbl, "l_tax" -> dbl,
      "l_returnflag" -> str, "l_linestatus" -> str,
      "l_shipdate" -> dateLike),
    "events" -> Seq("event_id" -> key, "ts" -> eventTs, "user_id" -> key,
      "event_type" -> str, "value" -> dbl, "props" -> str),
    "documents" -> Seq("doc_id" -> key, "text" -> str, "lang" -> str,
      "source" -> str, "n_chars" -> key),
    "embeddings" -> Seq("vec_id" -> key,
      "embedding" -> Set[DataType](ArrayType(FloatType), ArrayType(FloatType, containsNull = false)),
      "label" -> key))

  /** Only PRESENT columns are type-checked: a missing column already
    * fails analysis with a clear "column not found" naming it, and specs
    * legitimately load narrow fixtures carrying only the columns they
    * exercise. The dangerous drift class is a column that exists under a
    * DIFFERENT physical type — that one surfaces as a cryptic
    * DATATYPE_MISMATCH deep inside a downstream plan unless caught here. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    contracts.get(name).foreach(_.foreach { case (c, admissible) =>
      df.schema.find(_.name == c).foreach { f =>
        if (!admissible.contains(f.dataType))
          throw new IllegalStateException(
            s"$name.$c arrived as ${f.dataType.simpleString}; this engine " +
              s"absorbs ${admissible.map(_.simpleString).mkString("/")} — " +
              "the testdata's physical schema drifted; adapt the loader " +
              "(see EventOps.events for the pattern)")
      }
    })
    df
  }
}

/** Helpers shared by all operator modules.
  *
  * Money math policy (oracle parity): monetary source columns are doubles
  * that carry exact 2-dp values, so casting them to DECIMAL reproduces the
  * intended value exactly in both Spark and DuckDB. All arithmetic then
  * stays in decimal (exact, order-independent) and only the FINAL value is
  * cast back to double — which is also exact. Never cast a *computed*
  * double to decimal: the two engines round binary doubles to decimal
  * differently (shortest-repr vs binary-expansion) and may diverge.
  */
object H {
  /** 2-dp money column as exact decimal (default fits TPC-H price ranges). */
  def dec2(c: Column, prec: Int = 12): Column = c.cast(DecimalType(prec, 2))

  /** (1 - discount) as exact DECIMAL(4,2); mirrors the SQL helper below. */
  def oneMinus(c: Column): Column =
    (lit(1) - c.cast(DecimalType(4, 2))).cast(DecimalType(4, 2))

  /** (1 + tax) as exact DECIMAL(4,2). */
  def onePlus(c: Column): Column =
    (lit(1) + c.cast(DecimalType(4, 2))).cast(DecimalType(4, 2))

  def dbl(c: Column): Column = c.cast(DoubleType)

  /** DuckDB fragments mirroring the helpers above. */
  def sqlDec2(col: String, prec: Int = 12): String =
    s"CAST($col AS DECIMAL($prec,2))"
  def sqlOneMinus(col: String): String =
    s"CAST(1 - CAST($col AS DECIMAL(4,2)) AS DECIMAL(4,2))"
  def sqlOnePlus(col: String): String =
    s"CAST(1 + CAST($col AS DECIMAL(4,2)) AS DECIMAL(4,2))"
}
