package graft

import graft.core.T
import graft.etl.LakeLayout
import org.apache.spark.sql.functions._
import java.nio.file.Files

class LakeLayoutSpec extends SparkSpec {
  import spark.implicits._

  test("date-partitioned write enables partition pruning") {
    val dir = Files.createTempDirectory("lake").toString + "/lineitem"
    LakeLayout.writeDatePartitioned(
      T(spark, sf0001, "lineitem"), "l_shipdate", dir)
    val all = spark.read.parquet(dir)
    val years = all.select($"part_year").distinct().count()
    assert(years > 1)
    val pruned = all.filter($"part_year" === 1996)
    pruned.write.format("noop").mode("overwrite").save()
    val full = all.filter($"l_quantity" > 0)
    full.write.format("noop").mode("overwrite").save()
    assert(LakeLayout.selectedPartitions(pruned).head == 1,
      "year filter must prune to a single directory partition")
    assert(LakeLayout.selectedPartitions(full).head == years,
      "non-partition filter reads all partitions")
  }

  test("year-month prefixed write produces bare {yyyy}{MM}/ dirs (S6 layout)") {
    val dir = Files.createTempDirectory("ym").toString + "/users"
    LakeLayout.writeYearMonthPrefixed(
      T(spark, sf0001, "orders"), "o_orderdate", dir)
    val months = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filterNot(_.startsWith("_")).sorted
    assert(months.nonEmpty && months.forall(_.matches("\\d{6}")),
      s"expected bare yyyyMM dirs, got ${months.mkString(",")}")
    // round-trip one month: its rows are exactly that month's rows
    val m = months.head
    val got = spark.read.parquet(s"$dir/$m").count()
    val expected = T(spark, sf0001, "orders")
      .filter(date_format($"o_orderdate", "yyyyMM") === m).count()
    assert(got == expected && got > 0)
  }

  test("co-bucketed tables join without a shuffle") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      LakeLayout.writeBucketed(
        T(spark, sf0001, "orders"), "b_orders", "o_orderkey", 4)
      LakeLayout.writeBucketed(
        T(spark, sf0001, "lineitem")
          .withColumnRenamed("l_orderkey", "o_orderkey"), "b_lineitem",
        "o_orderkey", 4)
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"), Seq("o_orderkey"))
        .groupBy($"o_orderstatus")
        .agg(sum($"l_quantity").as("q"))
      joined.write.format("noop").mode("overwrite").save()
      assert(LakeLayout.shuffleCount(joined) <= 1,
        "bucketed join must not shuffle either fact side (only the small post-join agg may)")
      // contrast: the same join over plain parquet shuffles both sides
      val unbucketed = T(spark, sf0001, "lineitem")
        .withColumnRenamed("l_orderkey", "o_orderkey")
        .join(T(spark, sf0001, "orders"), Seq("o_orderkey"))
        .groupBy($"o_orderstatus").agg(sum($"l_quantity").as("q"))
      unbucketed.write.format("noop").mode("overwrite").save()
      assert(LakeLayout.shuffleCount(unbucketed) > LakeLayout.shuffleCount(joined))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("compact merges small files, preserves data, and cleans its working dirs") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("compact").toString + "/tbl"
    // a micro-batch writer's mess: 20 files for tiny data
    (1 to 200).map(i => (i.toLong, s"r$i")).toDF("id", "s")
      .repartition(20).write.parquet(path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files() = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .count(st => st.isFile && !st.getPath.getName.startsWith("_"))
    assert(files() == 20)
    val before = spark.read.parquet(path).orderBy($"id").collect().toSeq
    val n = graft.etl.LakeLayout.compact(spark, path)
    assert(n == 1 && files() == 1, "tiny table compacts to one file")
    assert(spark.read.parquet(path).orderBy($"id").collect().toSeq == before)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "_compact_tmp")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(path + "_compact_old")))
    // crash recovery: only the aside copy remains -> restored, then compacted
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "_compact_old")))
    assert(graft.etl.LakeLayout.compact(spark, path) == 1)
    assert(spark.read.parquet(path).orderBy($"id").collect().toSeq == before)
    // a completed swap's leftover: live dir AND a stale aside copy ->
    // the aside copy is swept, never restored over the live rows
    (1 to 5).map(i => (i.toLong, "stale")).toDF("id", "s")
      .write.parquet(path + "_compact_old")
    assert(graft.etl.LakeLayout.compact(spark, path) == 1)
    assert(spark.read.parquet(path).orderBy($"id").collect().toSeq == before)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "_compact_old")))
  }
}
