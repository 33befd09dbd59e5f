package graft

import graft.core.T
import graft.etl.{BatchLog, MinhashIndex, TextIndex}
import graft.operators.IvfIndex
import graft.streaming.{ContinuousIngest, IndexFamily}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** The catalog index families heal a fold's swap window before they
  * answer "exists", so the ingest batch after a crash appends instead of
  * rebuilding the index from itself alone; the IVF lists' fold and
  * retrain drop an uncommitted batch directory. */
class IndexHealSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = T(spark, sf0001, "documents")
    .select($"doc_id".cast("long").as("doc_id"), $"text")

  private def ids(table: String): Set[Long] =
    spark.table(table).select($"doc_id").distinct().collect().map(_.getLong(0)).toSet

  /** Ingest the even ids, run `crash`, ingest the odd ids; returns the
    * ids `table` held after the first batch and after the second. */
  private def acrossCrash(fam: IndexFamily, table: String)(
      crash: => Unit): (Set[Long], Set[Long]) = {
    fam.ingest(spark, docs.filter($"doc_id" % 2 === 0), "b0")
    val first = ids(table)
    crash
    fam.ingest(spark, docs.filter($"doc_id" % 2 === 1), "b1")
    (first, ids(table))
  }

  private def cfg(name: String) =
    ContinuousIngest.Config(corpusPath = "unused", indexName = name,
      textIndexName = Some(s"${name}_ti"))

  private def dropAll(name: String): Unit =
    (Seq("_banded", "_shingles", "_sizes", "_meta").map(name + _) ++
      Seq("_postings", "_doclens", "_stats", "_meta").map(s"${name}_ti" + _))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  test("MinHash: live renamed to its fold stage heals, and the next batch appends") {
    val name = "ihspec_mh"
    val t = MinhashIndex.tables(name)
    try {
      val (first, all) = acrossCrash(IndexFamily.enabled(cfg(name)).head, t.sizes) {
        spark.sql(s"ALTER TABLE ${t.banded} RENAME TO ${t.banded}__compact")
      }
      assert(first.nonEmpty && first.forall(_ % 2 == 0))
      assert(first.subsetOf(all) && all.exists(_ % 2 == 1),
        s"the index must hold both batches, not the second alone: $all")
      assert(ids(t.banded).exists(_ % 2 == 0) && ids(t.banded).exists(_ % 2 == 1))
      assert(!spark.catalog.tableExists(s"${t.banded}__compact"))
    } finally dropAll(name)
  }

  test("BM25: a missing sibling table heals instead of being recreated with one batch") {
    val name = "ihspec_bm"
    val t = TextIndex.tables(s"${name}_ti")
    try {
      val (first, all) = acrossCrash(IndexFamily.enabled(cfg(name))(1), t.doclens) {
        spark.sql(s"ALTER TABLE ${t.doclens} RENAME TO ${t.doclens}__compact")
      }
      assert(first.nonEmpty && first.forall(_ % 2 == 0))
      assert(first.subsetOf(all) && all.exists(_ % 2 == 1),
        s"doclens must hold both batches, not the second alone: $all")
    } finally dropAll(name)
  }

  test("a table lost with committed batches on record fails loudly; a healthy probe runs no job") {
    val name = "ihspec_loud"
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    try {
      val minhash = IndexFamily.enabled(cfg(name)).head
      minhash.ingest(spark, docs, "b0")
      sc.addSparkListener(listener)
      sc.setJobGroup("ihs-exists", "exists")
      assert(minhash.exists(spark))
      sc.setJobGroup("ihs-fence", "fence")
      spark.range(1).agg(sum($"id")).collect() // a job queued after the probe's
      val deadline = System.nanoTime() + 10000000000L
      while (!groups.contains("ihs-fence") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.contains("ihs-fence"), "the fence job was seen")
      assert(!groups.contains("ihs-exists"), "exists ran a Spark job")
      // no stage left behind: no crash window produces this
      spark.sql(s"DROP TABLE ${MinhashIndex.tables(name).sizes}")
      val e = intercept[IllegalArgumentException](minhash.exists(spark))
      assert(e.getMessage.contains("committed"), s"loud, explanatory: ${e.getMessage}")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      dropAll(name)
    }
  }

  test("IVF compact and retrain drop an uncommitted batch directory") {
    val emb = T(spark, sf0001, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("ihspec_ivf").toString + "/index"
    IvfIndex.buildIndexDir(spark, emb, path, k = 4, iters = 2)
    val n = emb.count()
    // a crashed append's partial rows: a batch directory the log never committed
    def plant(): Unit = {
      val rows = spark.read.parquet(path).drop("batch_id").limit(5).collect().toSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows),
          spark.read.parquet(path).drop("batch_id").schema)
        .withColumn("batch_id", lit("b9"))
        .write.mode("append").partitionBy("batch_id", "cluster_id").parquet(path)
      assert(spark.read.parquet(path).count() == n + 5)
      assert(!BatchLog.isCommitted(spark, BatchLog.logDirAt(path), "b9"))
    }
    def assertClean(): Unit = {
      val lists = spark.read.parquet(path)
      assert(lists.count() == n && lists.select($"vec_id").distinct().count() == n)
      assert(lists.filter($"batch_id" === "b9").isEmpty)
    }
    plant()
    IvfIndex.compactIndexDir(spark, path)
    assertClean()
    plant()
    assert(IvfIndex.retrainIndexDir(spark, path, iters = 2, minK = 8, growFactor = 1.0))
    assertClean()
  }
}
