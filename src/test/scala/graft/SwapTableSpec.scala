package graft

import graft.etl.{IndexCompaction, LshIndex, SketchStore}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.catalog.{ExternalCatalogEvent, ExternalCatalogEventListener, RenameTableEvent}
import org.apache.spark.sql.functions._
import scala.util.control.ControlThrowable

/** The catalog form of the stage-then-rename commit, crashed between
  * `ALTER TABLE stage RENAME TO live` and `RECOVER PARTITIONS`: a
  * partitioned live table then has its files but none of its
  * partitions registered and reads zero rows with no error. The heal a
  * reader runs must find the window and recover. The crash is injected
  * through a catalog listener that throws right after the rename of the
  * named table commits. */
class SwapTableSpec extends SparkSpec {
  import spark.implicits._

  private final class Crash extends ControlThrowable

  /** Run `body`, crashing it right after the catalog renames a table to
    * `live`. */
  private def crashAfterRenameTo(live: String)(body: => Unit): Unit = {
    val catalog = spark.sharedState.externalCatalog
    val crash = new ExternalCatalogEventListener {
      override def onEvent(e: ExternalCatalogEvent): Unit = e match {
        case RenameTableEvent(_, _, to) if to.equalsIgnoreCase(live) => throw new Crash
        case _ =>
      }
    }
    catalog.addListener(crash)
    try intercept[Crash](body) finally catalog.removeListener(crash)
  }

  private val vecs = (1L to 40L)
    .map(id => (id, Array.tabulate(8)(k => ((id * 31 + k * 7) % 13 - 6).toDouble)))
    .toDF("vec_id", "embedding")

  test("an index fold crashed after the rename heals on the next exists") {
    val name = "swt_lsh"
    try {
      LshIndex.build(spark, vecs.filter($"vec_id" <= 20), name, dims = 8)
      LshIndex.append(spark, vecs.filter($"vec_id" > 20), name, "b1")
      val vectors = s"${name}_vectors"
      crashAfterRenameTo(vectors)(LshIndex.compact(spark, name))
      assert(spark.catalog.tableExists(vectors), "the rename ran")
      assert(LshIndex.exists(spark, name))
      assert(spark.table(vectors).count() == 40L,
        "the folded vectors table reads every row after heal")
      assert(spark.table(vectors).select($"vec_id").as[Long].collect().toSet ==
        (1L to 40L).toSet)
      LshIndex.compact(spark, name) // the next fold runs normally
      assert(spark.table(vectors).count() == 40L)
    } finally LshIndex.dropAll(spark, name)
  }

  test("a sketch fold crashed after the rename heals on the next read") {
    val name = "swt_sketch"
    val docs = Seq(1L -> "alpha beta alpha", 2L -> "beta gamma")
      .toDF("doc_id", "text")
    val tokens = Seq("alpha", "beta", "gamma")
    def estimates: Map[String, Long] =
      SketchStore.estimate(spark, name, tokens).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    SketchStore.build(spark, docs, name)
    SketchStore.append(spark, docs, name, "b1")
    val before = estimates
    assert(before("alpha") >= 4L)
    crashAfterRenameTo(SketchStore.cellsTable(name))(SketchStore.fold(spark, name))
    assert(estimates == before, "the folded grid answers as before")
  }

  test("a heal with nothing to heal runs no Spark job") {
    val name = "swt_idle"
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    try {
      LshIndex.build(spark, vecs, name, dims = 8)
      sc.addSparkListener(listener)
      sc.setJobGroup("swt-heal", "heal")
      IndexCompaction.heal(spark, s"${name}_vectors")
      IndexCompaction.heal(spark, s"${name}_buckets")
      sc.setJobGroup("swt-fence", "fence")
      spark.range(1).agg(sum($"id")).collect() // a job queued after the heal's
      val deadline = System.nanoTime() + 10000000000L
      while (!groups.contains("swt-fence") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.contains("swt-fence"), "the fence job was seen")
      assert(!groups.contains("swt-heal"), "heal ran a Spark job")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      LshIndex.dropAll(spark, name)
    }
  }
}
