package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.T

/** Empirical scaling-curve harness: answers "would this plan survive a
  * 10× scale-up?" with a measurement instead of an argument.
  *
  * The sf0.1 testdata is replicated m× (default m ∈ {1, 3, 10}) with
  * semantics-preserving remapping — fact keys offset per replica so join
  * cardinality and group counts scale linearly, dimension tables held
  * fixed (at 100 TB the fact side grows ~1000×, the dims don't),
  * document text salted per replica so the corpus' internal duplicate
  * structure is preserved but replicas are mutually dissimilar (a naive
  * copy would make every doc a cross-replica near-dup and grow LSH
  * candidate pairs quadratically — measuring an artifact, not the
  * engine), and embeddings sign-flipped on a per-replica dim pattern so
  * replica vectors land far apart in cosine space while norms are
  * untouched.
  *
  * One representative query per operator family is then timed at each
  * multiplier by [[Bench.measure]], the bench's own timing loop; the
  * per-family time ratio vs m=1 is the product. Near-m ratios mean the
  * family is linear in the data; the indexed-probe family should sit
  * well BELOW m (probe cost follows matching candidates, not corpus
  * size). Results land on stdout as one JSON line and in
  * `target/scalecurve.json`; SCALE.md records the round's run.
  */
object ScaleCurve {

  /** Dimension tables pass through unchanged at every multiplier. */
  val dims: Seq[String] = Seq("region", "nation", "customer", "supplier", "part")

  /** One query per operator family — each reads the standard table files,
    * so the declared [[SparkEntry]] builders run unmodified against a
    * replica dir. */
  val curveQueries: Seq[String] = Seq(
    "a1_pricing_summary",    // scan + grouped agg
    "j1_inner_equi_join",    // broadcast dim join + agg
    "a6_count_distinct",     // expand-based multi-distinct
    "w3_lag_partitioned",    // partitioned window
    "o8_grouped_topk",       // map-side-truncating top-k aggregate
    "dd_exact_dedup",        // hash-group dedup
    "dd_minhash_lsh",        // shingle → MinHash → banded self-join
    "dd_corpus_overlap",     // per-slice MinHash union signatures
    "cp_chunk_documents",    // per-row chunk explode
    "cp_split_leakage",      // near-dup pass + split-label joins
    "dd_repeated_passages",  // windowed-hash pair join + island merge
    "sim_chunk_retrieval",   // chunk → embed → brute cosine top-k
    "sim_chunk_indexed",     // chunk probe vs persisted index (sub-linear goal)
    "sim_cosine_topk",       // brute-force ANN baseline (O(corpus)/query)
    "sim_lsh_indexed",       // persisted-index ANN probe (sub-linear goal)
    "ta_bm25_indexed",       // persisted postings probe (sub-linear goal)
    "cp_temperature_mix",    // per-source agg + broadcast keep-rate join
    "ev_markov_transitions", // per-user keyed window + |types|² agg
    "dq_table_checks",       // one-scan-per-table check compiler
    "dq_meta_checks",        // hybrid health report (metadata + one scan)
    "dq_profile",            // k-column one-scan profiler (Expand distincts)
    "s16_mor_delete_read",   // MoR read: scan + broadcast anti-join
    "s17_schema_evolution_read", // evolved-schema read: null-fill from snapshot schema
    "s18_cdc_replica_read",  // CDC replication: O(changed rows) feeds + replica read
    "cp_weighted_sample",    // min-of-w-hash keys + global top-k heap
    "s19_incremental_gold",  // bookmarked gold refresh: O(affected dates)
    "dq_drift_series",       // per-series keyed window over a bounded report
    "s20_dpp_join",          // runtime partition pruning: scan 2 of 7 years
    "j12_bucketed_join",     // co-located SMB join: zero hash exchanges
    "ev_resample_fill",      // calendar spine + per-type fill windows
    "dd_keep_best",          // components + membership-sized ranked keep
    "s21_type_widening_read", // mixed-generation widened read
    "s22_wap_publish_read",  // WAP-published read (poison rejected)
    "mm_audio_windows",      // per-partition PCM decode + framing
    "dq_histogram",          // one-scan equi-width histogram
    "sim_mrl_recall",        // truncated-prefix search audit (2 brute passes)
    "ta_countmin_sketch",    // fixed d×w sketch grid + exact top-k audit
    "ev_type_pagerank",      // keyed-window pairs + driver power iteration
    "ta_sketch_served",      // persisted-grid probe (corpus-size-free goal)
    "dd_prefix_filter_join", // rarest-shingle prefix equi-join + exact verify
    "mm_shot_boundaries",    // byte-sliced frame hashes + per-video lag window
    "mm_voice_segments",     // PCM energies + per-doc gaps-and-islands
    "sim_mmr_rerank",        // distributed candidate pool + pool²-driver greedy
    "a18_grouping_sets",     // one-Expand multi-grain aggregate
    "ta_heavy_hitters",      // k-bounded MG partials + candidate recount
    "sim_mmr_ann",           // bucket-join candidates + pool²-driver greedy
    "dd_levenshtein_verify", // banded candidates + per-pair edit-distance DP
    "ev_watermark_late",     // 3-trigger watermarked streaming window
    "ev_stream_dedup",       // watermark-bounded streaming dedup
    "ev_stream_join",        // interval stream-stream join, condition-derived GC
    "ev_stream_sessions",    // session_window merge/flush across arrival slices
    "ev_stream_running_count", // flatMapGroupsWithState cross-batch state carry
    "sim_mmr_indexed",       // persisted-index MMR probe (corpus-size-free goal)
    "s23_history_read",      // manifest history listing (O(versions) goal)
    "s24_files_read",        // files metadata listing (O(files) goal)
    "ev_stream_outer_join",  // left-outer interval join, null-extension on wm passage
    "ev_stream_timeout",     // EventTimeTimeout keyed sessions, timer-evicted state
    "ev_stream_gold",        // update-mode windowed agg, foreachBatch keyed upsert
    "ev_stream_distinct",    // transformWithState MapState distinct tracking
    "ev_stream_bootstrap",   // initial-state TWS: batch-seeded stream state
    "s25_ingest_e2e",        // e2e ingest: published-table read (pipeline = setup)
    "s26_ingest_e2e_fuzzy",  // fuzzy e2e ingest: exact-candidate probe (pipeline = setup)
    "s27_ingest_delete_sync", // delete+purge+resurrect e2e (pipeline = setup)
    "s28_ingest_update_reindex", // update-reindex e2e (pipeline = setup)
    "ev_stream_ttl",         // processing-time TTL state expiry (TWS, RocksDB)
    "ev_stream_ttl2",        // mid-band TTL: retained one gap, expired past it
    "ev_stream_chained",     // dedup -> windowed agg, two chained stateful ops
    "s29_ingest_vector_reindex", // embedding-family reindex: ANN probe (pipeline = setup)
    "s30_ingest_blind_window",   // no-maintenance ghost rejection (pipeline = setup)
    "s31_ingest_vector_blind")   // no-maintenance stale-vector serving probe (pipeline = setup)

  private def span(df: DataFrame, keyCol: String): Long =
    df.agg(max(col(keyCol).cast("long"))).head.getLong(0) + 1L

  private def expand(df: DataFrame, m: Int): DataFrame =
    df.withColumn("r", explode(sequence(lit(0L), lit(m - 1L))))

  private def offsetKey(df: DataFrame, keyCol: String, keySpan: Long): DataFrame =
    df.withColumn(keyCol, col(keyCol).cast("long") + col("r") * keySpan)

  /** Pseudo-random sign-flip decision for embedding dim `i` in replica
    * `r` — multiplicative-hash parity, ~half the dims per replica, with
    * distinct replicas agreeing on only ~half their flips. */
  private def flipAt(i: org.apache.spark.sql.Column,
      r: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod((i.cast("long") + 1L) * (r * 2654435761L + 1L), lit(997L)) < 498L

  /** Replicate `srcDir`'s tables m× into `outDir` (same `<table>.parquet`
    * layout, so `T()` and every declared query work unchanged). File
    * count scales with m — a real lake's file population grows with its
    * data; scan parallelism must be part of what the curve measures.
    *
    * `userScaled = true` additionally offsets `events.user_id` per
    * replica: users ×m with per-user event density HELD CONSTANT — the
    * growth shape real event fleets follow (more users, not denser
    * ones). The default (users fixed, events ×m densified) stresses
    * per-key state depth instead; the interval-join decade rides both
    * to separate state growth from output-volume growth (the ~900×
    * match densification SCALE.md's 30× streaming decade calls out). */
  def replicate(spark: SparkSession, srcDir: String, outDir: String, m: Int,
      userScaled: Boolean = false): Unit = {
    require(m >= 1, s"multiplier must be >= 1, got $m")
    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")

    dims.foreach(n => write(T(spark, srcDir, n), n, 1))
    val factParts = math.max(4, 4 * m)

    // orders + lineitem share ONE offset base so the join stays 1:1 per
    // replica and its cardinality scales exactly ×m.
    val orders = T(spark, srcDir, "orders")
    val oSpan = span(orders, "o_orderkey")
    write(offsetKey(expand(orders, m), "o_orderkey", oSpan).drop("r"),
      "orders", factParts)
    write(offsetKey(expand(T(spark, srcDir, "lineitem"), m), "l_orderkey", oSpan)
      .drop("r"), "lineitem", factParts)

    // events: ids disjoint; by default users and time range are fixed —
    // per-user windows get ×m denser. userScaled offsets users per
    // replica instead: fleet ×m, per-user density constant.
    val events = T(spark, srcDir, "events")
    val ev = offsetKey(expand(events, m), "event_id", span(events, "event_id"))
    write((if (userScaled) offsetKey(ev, "user_id", span(events, "user_id"))
      else ev).drop("r"), "events", factParts)

    // documents: replica 0 is the original corpus; every other replica
    // suffixes a replica tag onto EVERY whitespace token, so all shingles
    // differ across replicas (mutually dissimilar) while the within-replica
    // duplicate structure is byte-preserved.
    val docs = T(spark, srcDir, "documents")
    write(offsetKey(expand(docs, m), "doc_id", span(docs, "doc_id"))
      .withColumn("text", when(col("r") === 0L, col("text"))
        .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("$1#"), col("r").cast("string")))))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("r"), "documents", factParts)

    // embeddings: replica r>0 flips the sign of a pseudo-random half of
    // the dims (multiplicative-hash parity per (dim, replica)) —
    // norm-preserving, deterministic, and any two distinct replicas of
    // the same vector have expected cosine ~0 (sign patterns agree on
    // ~half the mass), so ANN candidate structure scales linearly.
    val emb = T(spark, srcDir, "embeddings")
    write(offsetKey(expand(emb, m), "vec_id", span(emb, "vec_id"))
      .withColumn("embedding", when(col("r") === 0L, col("embedding"))
        .otherwise(transform(col("embedding"), (x, i) =>
          (x * when(flipAt(i, col("r")), lit(-1.0d)).otherwise(lit(1.0d)))
            .cast("float"))))
      .drop("r"), "embeddings", factParts)

    java.nio.file.Files.write(
      java.nio.file.Paths.get(outDir, "_REPLICA_OK"),
      m.toString.getBytes("UTF-8"))
  }

  /** Reuse an existing replica dir iff its completion marker records the
    * same multiplier (a partial/failed build never has the marker). */
  private[graft] def replicaReady(outDir: String, m: Int): Boolean = {
    val p = java.nio.file.Paths.get(outDir, "_REPLICA_OK")
    java.nio.file.Files.exists(p) &&
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim == m.toString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    val mults = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULTS", "1,3,10")
      .split(",").map(_.trim.toInt).toSeq
    val qNames = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSeq).getOrElse(curveQueries)
    val userScaled = sys.env.get("SPARK_GRAFT_SCALE_USERSCALED").contains("1")
    val root = "target/scalecurve"
    val spark = Bench.session(cpus)

    // query name -> multiplier -> min seconds
    val results = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.LinkedHashMap[Int, Double]]()

    mults.foreach { m =>
      // the TTL-retention band widens with the multiplier: its asserted
      // gap₁ tracks batch duration, which grows with data (the oracle is
      // band-independent — only the straddle pattern is pinned; the base
      // matches the runtime default, and the band-doubling retry covers
      // the mid-multiplier margin)
      sys.props("graft.ttl2.ms") =
        (2000L * math.max(1L, m.toLong / 3L)).toString
      val dir =
        if (m == 1) sfDir
        else {
          val d = if (userScaled) s"$root/m${m}u" else s"$root/m$m"
          if (!replicaReady(d, m)) {
            System.err.println(s"[scalecurve] building ${m}x" +
              s"${if (userScaled) " user-scaled" else ""} replica at $d")
            replicate(spark, sfDir, d, m, userScaled)
          }
          d
        }
      qNames.foreach { name =>
        val best = Bench.measure(spark, dir, name, reps)
        results.getOrElseUpdate(name,
          scala.collection.mutable.LinkedHashMap[Int, Double]()).update(m, best)
        System.err.println(f"[scalecurve] $name%-22s ${m}%2dx  $best%8.3f s")
      }
    }

    def fmt(v: Double) =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qJson = results.map { case (name, byM) =>
      val cells = byM.map { case (m, s) => s""""$m":${fmt(s)}""" }.mkString(",")
      val ratio = for {
        base <- byM.get(mults.head).filter(_ > 0)
        top <- byM.get(mults.last).filter(_ > 0)
      } yield fmt(top / base)
      s""""$name":{$cells${ratio.map(r => s""","ratio":$r""").getOrElse("")}}"""
    }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"scalecurve","sf":"$sfDir","mults":[${mults.mkString(",")}],"reps":$reps,"user_scaled":$userScaled,"queries":$qJson}"""
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    java.nio.file.Files.write(java.nio.file.Paths.get("target/scalecurve.json"),
      line.getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
