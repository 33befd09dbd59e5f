package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory — the ONE place the engine's required configuration
  * lives, so no operator ever mutates session conf as a side effect.
  *
  *  - UTC + ANSI off: Athena-permissive cast/overflow semantics
  *    (SURVEY §7.4) and oracle parity.
  *  - `nanosAsLong`: some testdata generations store events.ts as parquet
  *    TIMESTAMP(NANOS), which Spark's vectorized reader rejects; reading
  *    as raw nanos lets [[graft.operators.EventOps.events]] rebuild a
  *    lossless µs timestamp. Harmless when the column ships as
  *    TIMESTAMP(MICROS) — the loader branches on the arrived type.
  *  - GraftExtensions: registers `cosine_sim` and the DimBroadcastRule.
  *
  *  - AQE partition coalescing respects the ADVISORY BYTE SIZE, not the
  *    core count (`parallelismFirst=false`): with the default
  *    `parallelismFirst=true`, AQE refuses to coalesce below
  *    `defaultParallelism`, so every post-shuffle stage is split
  *    core-count ways regardless of data volume — at bench scale that
  *    is 32 near-empty tasks per exchange and the 32-core suite ran
  *    ~40 % SLOWER than the same suite on 8 cores (BENCH_r18 vs
  *    BENCH_r18_c8: 194.8 s vs 135.3 s, every scaling ratio ≤ 1.07).
  *    Sizing partitions by bytes is the scale-adaptive rule (guide
  *    §2.1/§2.2/§2.6): tiny inputs coalesce to a handful of tasks, a
  *    100 TB shuffle still fans out to bytes/advisory partitions. The
  *    advisory size stays at Spark's default (64 MB).
  *
  * Callers append deployment-specific settings (master cores, shuffle
  * partitions sized to the cluster, AQE) on the returned builder; a
  * deployment that needs another advisory size, `parallelismFirst` or
  * coalescing floor sets that key there too, since a later `config`
  * call wins.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      // CPU floor under the bytes rule: a stage can be byte-tiny but
      // compute-heavy (the prefix join's candidate verify measured 3×
      // slower coalesced to 1 task), so keep at least a quarter of the
      // configured parallelism. Proportional to the deployment's core
      // count, so it scales with the cluster rather than pinning a
      // local constant.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionNum",
        math.max(1, shufflePartitions / 4).toString)
}
