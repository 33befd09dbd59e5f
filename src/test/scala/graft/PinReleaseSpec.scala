package graft

import graft.core.Pins
import graft.etl.{LshIndex, ManifestTable}
import graft.streaming.ContinuousIngest
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Every scope that pins `localCheckpoint` blocks releases exactly what
  * it pinned ([[graft.core.Pins]]): a long-lived stream runs these
  * scopes once per batch or maintenance pass, so one leaked block set
  * per call grows without bound. Each case compares the session's
  * persistent RDD ids before and after the call. */
class PinReleaseSpec extends SparkSpec {
  import spark.implicits._

  private def pins: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def assertNoNewPins[A](what: String)(body: => A): A = {
    val before = pins
    val out = body
    assert(pins == before, s"$what left pinned RDDs: ${pins -- before}")
    out
  }

  test("Pins.since releases exactly the RDDs pinned after its mark, nested") {
    val base = pins
    val outer = Pins.since(spark.sparkContext)
    spark.range(10).localCheckpoint()
    val afterOuterPin = pins
    assert(afterOuterPin.size > base.size, "localCheckpoint must pin an RDD")
    val inner = Pins.since(spark.sparkContext)
    spark.range(5).localCheckpoint()
    inner()
    assert(pins == afterOuterPin, "the inner release frees only its own pins")
    outer()
    assert(pins == base, "the outer release frees the rest")
  }

  private val day = java.sql.Date.valueOf("2024-01-15")
  private def words(tag: String, n: Int) =
    (1 to n).map(k => s"${tag}_$k").mkString(" ")
  private def frame(ids: Seq[Long]) =
    ids.map(id => (id, words(s"d$id", 16), "en", "srcA", 16L, day,
      Array.tabulate(8)(k => ((id * 31 + k * 7) % 13 - 6).toFloat)))
      .toDF("doc_id", "text", "lang", "source", "n_chars", "doc_date",
        "embedding")

  test("ingestBatch and maintain with a pending delete release their pins") {
    // every IndexFamily is enabled, so each family's ingest and
    // maintenance step runs here
    val root = Files.createTempDirectory("pins_ci").toString
    val (corpus, ivf) = (root + "/corpus", root + "/ivf")
    val (mh, ti, ann, ck, sk) =
      ("pins_mh", "pins_ti", "pins_ann", "pins_ck", "pins_sk")
    val cfg = ContinuousIngest.Config(corpusPath = corpus, indexName = mh,
      textIndexName = Some(ti), annIndexName = Some(ann), annDims = 8,
      ivfIndexPath = Some(ivf), chunkIndexName = Some(ck), sketchName = Some(sk))
    def sizes(): Set[Long] = spark.table(s"${mh}_sizes")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    def ivfIds(): Set[Long] = spark.read.parquet(ivf)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    try {
      assertNoNewPins("the cold ingestBatch") {
        ContinuousIngest.ingestBatch(spark, frame(1L to 8L), 0, cfg)
      }
      assertNoNewPins("a warm ingestBatch") {
        ContinuousIngest.ingestBatch(spark, frame(9L to 12L), 1, cfg)
      }
      assert(sizes() == (1L to 12L).toSet, "both batches were accepted")
      ContinuousIngest.maintain(spark, cfg) // establish the delete bookmark
      assert(ManifestTable.deleteWhere(spark, corpus,
        $"doc_id".isin(2L, 9L)) == 2L)
      assertNoNewPins("maintain with a pending delete") {
        ContinuousIngest.maintain(spark, cfg)
      }
      assert(sizes() == (1L to 12L).toSet -- Set(2L, 9L),
        "the delete reached the index, so the pinning fold ran")
      assert(ivfIds() == (1L to 12L).toSet -- Set(2L, 9L),
        "the delete reached the IVF lists too")
    } finally {
      Seq(mh, ti, ann, sk).flatMap(n => Seq("banded", "shingles", "sizes",
        "postings", "doclens", "stats", "buckets", "vectors", "cells", "meta")
        .map(t => s"${n}_$t"))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      LshIndex.dropAll(spark, ck)
      val ivfDir = new org.apache.hadoop.fs.Path(ivf)
      ivfDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(ivfDir, true)
    }
  }

  test("applyChanges releases its feed pin and its delete-tuple pin") {
    val primary = Files.createTempDirectory("pins_p").toString + "/fact"
    val replica = Files.createTempDirectory("pins_r").toString + "/fact"
    val keys = Seq("id", "date")
    def rows(rs: (String, String, Double)*) =
      rs.toDF("id", "date", "v").withColumn("date", to_date($"date"))
    def sync(from: Int, to: Int): (Long, Long) =
      assertNoNewPins(s"applyChanges($from, $to)") {
        ManifestTable.applyChanges(spark, replica,
          ManifestTable.changes(spark, primary, from, to, keys), keys, "date")
      }
    ManifestTable.mergeInto(spark, rows(("k1", "2023-03-01", 1.0),
      ("k2", "2024-05-02", 2.0)), primary, keys, "date")
    assert(sync(0, 1) == (2L, 0L))
    assert(ManifestTable.deleteWhere(spark, primary, $"id" === "k2") == 1L)
    assert(sync(1, 2) == (0L, 1L), "the delete arm ran")
    assert(ManifestTable.read(spark, replica).select($"id").as[String]
      .collect().toSet == Set("k1"))
  }
}
