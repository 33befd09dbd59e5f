package graft

import graft.core._
import graft.etl._
import org.apache.spark.sql.functions._

/** Data-skipping measurement probe — builds the two manifest layouts the
  * `s11`/`s12` queries use at a chosen sf and prints FILE COUNTS a
  * pruned read opens vs. the table's total, plus the metadata-aggregate
  * answer. The numbers quoted in SCALE.md's "Data skipping" section come
  * from this main, as the per-leg ingest costs come from the traced
  * benchmark run (`python3 perfbench/run.py --workload ingest --trace 1`):
  * claims about skipped files are measured, not asserted.
  *
  * Usage: `sbt "runMain graft.SkipProbe [sfDir]"` (default sf0.1).
  */
object SkipProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val base = java.nio.file.Files.createTempDirectory("skipprobe").toString
    val zm = base + "/zm"
    val bl = base + "/bl"
    val orders = T(spark, dir, "orders")
    println(s"[skip] orders rows=${orders.count()} at $dir")

    // zone-map layout: clustered on o_custkey, small files
    ManifestTable.mergeInto(spark, orders, zm,
      Seq("o_orderkey", "o_orderdate"), "o_orderdate")
    ManifestTable.compact(spark, zm, targetFileBytes = 64L * 1024,
      clusterBy = Seq(col("o_custkey")))
    val zmAll = ManifestTable.read(spark, zm).inputFiles.length
    val zmHit = ManifestTable.readWhere(spark, zm,
      col("o_custkey").between(42, 57)).inputFiles.length
    println(s"[skip] zone: range o_custkey in [42,57] opens $zmHit of $zmAll files")

    // bloom layout: date-partitioned, NOT clustered on the lookup key
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "2000")
    val tagged = orders.withColumn("o_okey_tag",
      concat(lit("ok-"), col("o_orderkey").cast("string")))
    ManifestTable.mergeInto(spark, tagged, bl,
      Seq("o_orderkey", "o_orderdate"), "o_orderdate",
      bloomCols = Seq("o_okey_tag"))
    spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    val blAll = ManifestTable.read(spark, bl).inputFiles.length
    val hitDf = ManifestTable.readWhere(spark, bl, col("o_okey_tag") === "ok-7431")
    println(s"[skip] bloom: point lookup opens ${hitDf.inputFiles.length} of " +
      s"$blAll files (rows=${hitDf.count()})")
    val missOpens = ManifestTable.readWhere(spark, bl,
      col("o_okey_tag") === "absent-key").inputFiles.length
    println(s"[skip] bloom: absent-key lookup opens $missOpens of $blAll files")

    val ma = ManifestTable.statsAgg(spark, bl, "o_totalprice")
    println(s"[skip] statsAgg(o_totalprice)=$ma (zero files opened)")
    spark.stop()
  }
}
