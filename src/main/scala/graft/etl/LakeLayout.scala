package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** Physical layout of the lake zones — the part of 100 TB design that no
  * query rewrite can recover if the write side gets it wrong
  * (SURVEY §1.1, §4: the reference partitions bronze by processing date,
  * `bronze_ingest_streamate_mock.py:51-52`, and relies on Athena partition
  * pruning).
  *
  *  - Date-partitioned facts: every dashboard query carries a date
  *    predicate, so directory partitioning by a date-derived column turns
  *    them into partition-pruned scans.
  *  - Bucketed tables: facts co-bucketed on their join key make the
  *    fact-fact join shuffle-free (both sides already hash-distributed) —
  *    at 100 TB the shuffle IS the cost, so this is the difference
  *    between reading 100 TB once and moving it twice.
  */
object LakeLayout {

  /** Write a fact partitioned by a derived calendar column. */
  def writeDatePartitioned(df: DataFrame, dateCol: String, path: String): Unit =
    df.withColumn("part_year", year(col(dateCol)))
      .write.mode("overwrite").partitionBy("part_year").parquet(path)

  /** S6: the reference's bronze-users layout — one bare `{yyyy}{MM}/`
    * prefix per calendar month (`BronzeIngestUsers.py:34,48`), NOT
    * hive-style `key=value` dirs. One distributed partitioned write,
    * then the partition dirs are renamed to the bare prefix (a
    * constant-time metadata op per month). Month dirs are read back
    * individually (`path/202409`), exactly how the reference's crawler
    * addresses them. */
  def writeYearMonthPrefixed(df: DataFrame, dateCol: String, path: String): Unit = {
    df.withColumn("__ym", date_format(col(dateCol), "yyyyMM"))
      .write.mode("overwrite").partitionBy("__ym").parquet(path)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    fs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("__ym="))
        Swap.rename(fs, st.getPath,
          new org.apache.hadoop.fs.Path(root, name.stripPrefix("__ym=")))
    }
  }

  /** Compact a parquet dir's small files to ~`targetBytes` outputs —
    * the chronic lake problem: streaming/micro-batch writers leave
    * thousands of KB-size files per partition, and at 100 TB the
    * per-file open/footer overhead dominates scans. One distributed
    * read → `coalesce` (no shuffle — coalescing only merges read
    * splits) → rewrite under `_compact_tmp` → [[Swap.dir]] through
    * `_compact_old`. Returns the new file count. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(path + "_compact_tmp")
    val old = new org.apache.hadoop.fs.Path(path + "_compact_old")
    Swap.healDir(fs, tmp, root, old)
    val dataFiles = fs.listStatus(root)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
    val totalBytes = dataFiles.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    spark.read.parquet(path).coalesce(nOut)
      .write.mode("overwrite").parquet(tmp.toString)
    Swap.dir(fs, tmp, root, old)
    fs.listStatus(root).count(st => st.isFile && !st.getPath.getName.startsWith("_"))
  }

  /** Bucketed + sorted table for co-located, shuffle-free equi-joins. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Number of directory partitions the scan actually selected — proof of
    * pruning (equivalent of checking `PartitionFilters` in explain). */
  def selectedPartitions(df: DataFrame): Seq[Int] =
    stripAqe(df.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec => f.selectedPartitions.partitionCount
    }

  /** Count of shuffle exchanges in the final plan — 0 for a co-located
    * bucketed join. */
  def shuffleCount(df: DataFrame): Int =
    stripAqe(df.queryExecution.executedPlan).collect {
      case _: ShuffleExchangeExec => 1
    }.sum

  private def stripAqe(plan: org.apache.spark.sql.execution.SparkPlan) =
    plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
}
