package perfbench

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** The analytics suite: a fixed list of [[SparkEntry.benchQueries]] over
  * the seeded tables, each written through the `noop` sink as the
  * engine's bench main does. Set-up runs each query's `benchSetups`
  * entry (untimed), then one untimed pass of the same function that the
  * run times, written as parquet for the oracle check; it doubles as the
  * warm-up. The timed part repeats whole rounds of the list. */
object Suite {
  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val sf = ctx.work.resolve("sf").toString
    val names = Files.readAllLines(ctx.work.resolve("queries.txt")).asScala
      .map(_.trim).filter(_.nonEmpty).toIndexedSeq
    val oracle = SparkEntry.oracleSql
    Files.writeString(ctx.work.resolve("oracle_sql.json"), Json.obj(
      names.flatMap(n => oracle.get(n).map(n -> Json.str(_)))))
    val setup = scala.collection.mutable.LinkedHashMap[String, Double]()
    setup("session_ms") = Main.now / 1e6
    val queries = SparkEntry.benchQueries
    val setups = SparkEntry.benchSetups
    val ts = Main.now
    names.foreach(n => setups.get(n).foreach(_(spark, sf)))
    setup("bench_setups_ms") = (Main.now - ts) / 1e6
    Leaks.baseline(spark)
    val tw = Main.now
    val out = ctx.work.resolve("out")
    val warm = names.map { n =>
      ctx.op(s"check-$n", n) {
        queries(n)(spark, sf).coalesce(1).write.mode("overwrite")
          .parquet(out.resolve(n).toString)
        Map.empty
      }
    }
    setup("warmup_ms") = (Main.now - tw) / 1e6
    setup("warmup_failed") = warm.count(!_.ok).toDouble
    warm.filterNot(_.ok).foreach(o => System.err.println(s"[perfbench] ${o.kind}: ${o.error}"))
    val timedStart = Main.now
    val (ops, rounds) = Loop.closed(1, ctx.seconds, names, minRounds = 1) { (n, r) =>
      ctx.op(s"r$r-$n", n) {
        val t0 = System.nanoTime()
        val df = queries(n)(spark, sf)
        val built = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        Map("build_ms" -> (built - t0) / 1e6, "action_ms" -> (System.nanoTime() - built) / 1e6)
      }
    }
    val timedEnd = Main.now
    Result(setup.toMap, ops, timedStart, timedEnd, Map("rounds" -> rounds.toDouble))
  }
}
