package graft

import graft.core.QueryDef
import scala.jdk.CollectionConverters._

/** Every declared operator runs at sf0.001 and yields a sane result.
  * (Value-level correctness is the driver's DuckDB oracle gate at sf0.01,
  * mirrored locally by tools/selfcheck.py; this spec guards against
  * runtime regressions — analysis errors, bad casts, empty results.) */
class OperatorSmokeSpec extends SparkSpec {

  // Queries whose legitimate result can be empty at tiny scale.
  // sim_lsh_ann is deliberately NOT here: as top-k-per-query it must
  // always return rows — it was empty for two rounds and nothing failed.
  // Pins left by EARLIER suites in the shared session are their bug,
  // not these queries' — the guard below is relative to this baseline
  // so one upstream leak can't cascade into hundreds of smoke failures
  // (it still catches any pin a query itself leaves behind).
  private lazy val pinnedBaseline: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def leakedPins: Map[Int, org.apache.spark.rdd.RDD[_]] =
    (spark.sparkContext.getPersistentRDDs -- pinnedBaseline.toSeq).toMap

  // Streams, on the same baseline rule: a query must stop every stream
  // it starts. Most streaming harnesses run in a child session
  // (`newSession()`), whose queries `spark.streams` does not list, so
  // the guard also looks for live stream execution threads JVM-wide
  // (each is named after its query's unique run id).
  private def streamThreads: Set[String] =
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith("stream execution thread"))
      .map(_.getName).toSet
  private lazy val streamBaseline: (Set[java.util.UUID], Set[String]) =
    (spark.streams.active.map(_.id).toSet, streamThreads)

  private def leakedStreams: Seq[String] = {
    def now = spark.streams.active.filterNot(q => streamBaseline._1(q.id))
      .map(_.toString).toSeq ++ (streamThreads -- streamBaseline._2)
    // a stopped query's thread may outlive awaitTermination by a moment;
    // a stream still running after this grace period is a leak
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var live = now
    while (live.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(100); live = now
    }
    live
  }

  private val mayBeEmpty = Set(
    "dd_minhash_lsh", "dd_ngram_jaccard", "dd_incremental_neardup",
    "j10_anti_join_not_exists", "p3_date_eq_filter", "p5_calendar_bucket_filter",
    "a12_merge_audit")

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("query names are unique and every oracle key has a query") {
    val names = SparkEntry.all.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  SparkEntry.all.foreach { d =>
    val (name, build) = (d.name, d.build)
    test(s"$name runs at sf0.001") {
      pinnedBaseline; streamBaseline // force capture BEFORE the first query runs
      val df = build(spark, sf0001)
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
      // a query must not squat on executor memory after its action — the
      // round-2 dd_ngram_jaccard persist leaked into ~50 later queries
      assert(leakedPins.isEmpty, s"$name left persisted RDDs behind: $leakedPins")
      assert(leakedStreams.isEmpty, s"$name left streams running: $leakedStreams")
    }
  }

  // the production variants Bench measures (declared queries use the
  // oracle-portable hash) must run too — they're never exercised by
  // Verify, and a broken benchBuild silently zeroes a bench number
  SparkEntry.all.filter(_.benchBuild.isDefined).foreach { d =>
    test(s"${d.name} production bench variant runs at sf0.001") {
      pinnedBaseline; streamBaseline // force capture BEFORE the first query runs
      d.benchSetup.foreach(_(spark, sf0001)) // untimed artifact builds
      val n = d.benchBuild.get(spark, sf0001).count()
      if (!mayBeEmpty(d.name)) assert(n > 0, s"${d.name} bench variant returned 0 rows")
      assert(leakedPins.isEmpty, s"${d.name} bench variant leaked pins: $leakedPins")
      assert(leakedStreams.isEmpty, s"${d.name} bench variant left streams running: $leakedStreams")
    }
  }
}
