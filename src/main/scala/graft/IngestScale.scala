package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.T
import graft.etl.BatchLog
import graft.streaming.ContinuousIngest

/** Ingest scaling harness: measures the flagship continuous-ingest claim
  * — per-batch cost is O(batch), not O(corpus) — instead of arguing it.
  *
  * For each corpus multiplier m (default 1 and 10, riding
  * [[ScaleCurve.replicate]]'s semantics-preserving replicas), the harness
  * cold-ingests the m× documents table minus a held-out pool, then runs
  * three incremental 500-doc batches drawn from that pool — the SAME
  * three batches at every multiplier (they come from the base testdata,
  * which every replica preserves byte-identically as replica 0) — through
  * the full [[ContinuousIngest.ingestBatch]] body: gates, within-batch
  * dedup, corpus-index probe, manifest merge, and all SIX index
  * appends (MinHash, BM25, doc-level LSH, IVF, chunk-level LSH, CMS).
  * The headline is min-of-3 incremental seconds per multiplier;
  * a ratio near 1 at 10× the corpus is the designed behavior (the probe's
  * work follows matching bucket candidates, the merge touches only the
  * batch's partitions, the appends shuffle only the batch).
  *
  * Each rep uses a DISJOINT doc slice: a repeated batch would be
  * corpus-dup-rejected by the probe and measure a different (cheaper)
  * decision path than steady-state ingest.
  *
  * Replica copies of held-out docs do land in the m>1 cold corpus, with
  * per-replica-salted text ([[ScaleCurve.replicate]]) — mutually
  * dissimilar by construction, so they cannot flip the incremental
  * batches' accept decisions and the measured work stays comparable
  * across multipliers.
  *
  * {{{ SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.IngestScale" }}}
  * Env knobs: SPARK_GRAFT_INGEST_MULTS (default "1,10"),
  * SPARK_GRAFT_CPUS. One JSON line on stdout + target/ingestscale.json.
  */
object IngestScale {

  /** Deterministic 16-dim embedding derived from doc_id — the harness
    * only needs shape + stable values. */
  private def withCols(df: DataFrame): DataFrame = df
    .withColumn("doc_date", to_date(lit("2024-01-15")))
    .withColumn("embedding",
      transform(sequence(lit(0), lit(15)),
        k => (pmod(col("doc_id") * 31 + k * 7, lit(13)) - 6).cast("float")))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val mults = sys.env.getOrElse("SPARK_GRAFT_INGEST_MULTS", "1,10")
      .split(",").map(_.trim.toInt).toSeq
    val reps = 3

    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen warmup outside any timed window
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()

    // incremental pool: held out of EVERY cold corpus, identical bytes at
    // every multiplier (base-table rows are replica 0 of each replica dir)
    val base = T(spark, sfDir, "documents")
    val incSlices = (0 until reps).map(r =>
      withCols(base.filter(pmod(col("doc_id"), lit(10)) === r)).localCheckpoint())

    val results = scala.collection.mutable.LinkedHashMap[Int, (Double, Double)]()
    val probes = scala.collection.mutable
      .LinkedHashMap[Int, (Double, Double, String, String)]()
    mults.foreach { m =>
      val dir =
        if (m == 1) sfDir
        else {
          val d = s"target/scalecurve/m$m"
          if (!ScaleCurve.replicaReady(d, m)) {
            System.err.println(s"[ingestscale] building ${m}x replica at $d")
            ScaleCurve.replicate(spark, sfDir, d, m)
          }
          d
        }
      val root = java.nio.file.Files.createTempDirectory(s"ingest_scale_m$m").toString
      val tag = s"isc${m}_${System.nanoTime() % 1000000}"
      // the FULL six-artifact config: the O(batch) claim must hold with
      // every serving leg enabled, not just the three the claim was
      // first measured on
      val cfg = ContinuousIngest.Config(
        corpusPath = s"$root/corpus", indexName = s"${tag}_mh",
        textIndexName = Some(s"${tag}_ti"), annIndexName = Some(s"${tag}_ann"),
        annDims = 16,
        ivfIndexPath = Some(s"$root/ivf"),
        chunkIndexName = Some(s"${tag}_ck"),
        sketchName = Some(s"${tag}_cms"))

      def timed(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }

      val cold = withCols(
        T(spark, dir, "documents").filter(pmod(col("doc_id"), lit(10)) >= 3))
      val coldS = timed(ContinuousIngest.ingestBatch(spark, cold, 0L, cfg))
      System.err.println(f"[ingestscale] ${m}%2dx cold build   $coldS%7.2f s")

      val incTimes = incSlices.zipWithIndex.map { case (inc, i) =>
        val s = timed(ContinuousIngest.ingestBatch(spark, inc, i + 1L, cfg))
        System.err.println(f"[ingestscale] ${m}%2dx inc rep ${i + 1}   $s%7.2f s")
        s
      }
      results.update(m, (coldS, incTimes.min))

      // The geometry-regrowth payoff, measured: the stream's cold build
      // froze the ANN plane count at its default; probe cost at that
      // frozen geometry vs after LshIndex.regrow re-derives it from the
      // accumulated corpus (what the ingest maintenance leg runs).
      val ann = cfg.annIndexName.get
      val probeQs = withCols(base.filter(pmod(col("doc_id"), lit(10)) === 3)
        .limit(100)).select(col("doc_id").as("vec_id"), col("embedding"))
        .localCheckpoint()
      def probeMin: Double = (1 to reps).map(_ => timed(
        graft.etl.LshIndex.search(spark, probeQs, ann)
          .write.format("noop").mode("overwrite").save())).min
      val probeBefore = probeMin
      val planesBefore = graft.etl.IndexMeta.read(spark, ann)("planes_per_table")
      val regrew = graft.etl.LshIndex.regrow(spark, ann)
      val planesAfter = graft.etl.IndexMeta.read(spark, ann)("planes_per_table")
      val probeAfter = probeMin
      probes.update(m, (probeBefore, probeAfter, planesBefore, planesAfter))
      System.err.println(f"[ingestscale] ${m}%2dx ann probe    $probeBefore%7.2f s" +
        f" at $planesBefore planes -> $probeAfter%7.2f s at $planesAfter" +
        s" (regrew=$regrew)")

      Seq(s"${tag}_ann", s"${tag}_ck")
        .foreach(graft.etl.LshIndex.dropAll(spark, _)) // generation-aware
      Seq("_mh" -> Seq("banded", "shingles", "sizes", "meta"),
        "_ti" -> Seq("postings", "doclens", "stats", "meta"),
        "_cms" -> Seq("cells", "meta")).foreach {
        case (fam, ts) =>
          ts.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $tag$fam" + s"_$t"))
      }
      Seq("_mh", "_ti", "_ann", "_ck", "_cms").foreach(fam =>
        BatchLog.reset(spark, BatchLog.logDir(spark, s"$tag$fam")))
    }

    def fmt(v: Double) =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val cells = results.map { case (m, (c, inc)) =>
      val probe = probes.get(m).map { case (b, a, pb, pa) =>
        s""","annProbe":{"before":${fmt(b)},"after":${fmt(a)}""" +
          s""","planesBefore":$pb,"planesAfter":$pa}""" }.getOrElse("")
      s""""$m":{"cold":${fmt(c)},"incremental":${fmt(inc)}$probe}""" }.mkString(",")
    val ratio = for {
      b <- results.get(mults.head); t <- results.get(mults.last)
    } yield fmt(t._2 / b._2)
    val line = s"""{"metric":"ingestscale","sf":"$sfDir","mults":[${
      mults.mkString(",")}],"reps":$reps,"byMult":{$cells}${
      ratio.map(r => s""","incRatio":$r""").getOrElse("")}}"""
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    java.nio.file.Files.write(java.nio.file.Paths.get("target/ingestscale.json"),
      line.getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
