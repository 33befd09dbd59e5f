package perfbench

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

import graft.domain._

/** Dashboard serving: a closed loop of `cores` clients sends the seeded
  * request mix (`requests.tsv`) to [[QueryService]] and [[SqlSurface]]
  * over the parquet lake. A request's latency runs from the method call
  * until all its rows are collected. The first answer to each request is
  * written out for the oracle check; every repeat must equal it. */
object Dashboard {
  final case class Req(idx: Int, method: String, start: String, end: String,
      locations: Seq[LocationFilter], user: Option[String],
      platform: Option[Platform], desc: Boolean, page: Int, limit: Int,
      city: String, office: String, name: String) {
    def request: EarningsRequest = EarningsRequest(start, end, locations, user,
      platform, desc, page, limit)
  }

  def parse(line: String): Req = {
    val f = line.split("\t", -1)
    def opt(s: String) = if (s.isEmpty) None else Some(s)
    val locs = if (f(4).isEmpty) Nil else f(4).split("\\|").toSeq.map { l =>
      val Array(k, v) = l.split(":", 2)
      if (k == "office") LocationFilter(officeName = Some(v)) else LocationFilter(cityName = Some(v))
    }
    val plat = opt(f(6)).map {
      case "Jasmin" => Platform.Jasmin
      case "Streamate" => Platform.Streamate
    }
    Req(f(0).toInt, f(1), f(2), f(3), locs, opt(f(5)), plat, f(7) == "1",
      f(8).toInt, f(9).toInt, f(10), f(11), f(12))
  }

  /** One request against the service: the response's columns and rows,
    * plus the ranking metadata when the method returns a page. */
  def call(svc: QueryService, t: DomainTables, r: Req): (DataFrame, Option[RankingPage]) = {
    val spark = t.users.sparkSession
    val q = r.request
    r.method match {
      case "earningsByDay" => (svc.earningsByDay(r.start, r.end, r.city, r.office, r.name), None)
      case "earningsSeries" => (svc.earningsSeries(q), None)
      case "detailedRanking" => (svc.detailedRanking(q), None)
      case "detailedRankingPaged" =>
        val p = svc.detailedRankingPaged(q); (p.rows, Some(p))
      case "earningsByDayOfWeek" => (svc.earningsByDayOfWeek(q), None)
      case "modelsEarningDistribution" => (svc.modelsEarningDistribution(q), None)
      case "needle" => (svc.needle(q), None)
      case "profitAvg" => (svc.profitAvg(q), None)
      case "totalProfitReport" => (svc.totalProfitReport(q), None)
      case "averageProfitability" => (svc.averageProfitability(q), None)
      case "weeklyEarnings" => (svc.weeklyEarnings(t.earningsByPerformer), None)
      case "earningsByDayOfWeekSql" => (svc.earningsByDayOfWeekSql(r.start, r.end), None)
      case "sql.earningsByDay" =>
        (SqlSurface.earningsByDay(spark, r.start, r.end, r.city, r.office, r.name), None)
      case "sql.earningsByDayOfWeek" => (SqlSurface.earningsByDayOfWeek(spark, r.start, r.end), None)
      case "sql.weeklyEarnings" => (SqlSurface.weeklyEarnings(spark), None)
    }
  }

  def render(cols: Seq[String], rows: Array[Row], page: Option[RankingPage]): String =
    Json.obj(Seq(
      "cols" -> Json.arr(cols.map(Json.str)),
      "rows" -> Json.arr(rows.toSeq.map(r => Json.arr(r.toSeq.map(Json.value)))),
      "total" -> page.map(_.totalResults.toString).getOrElse("null"),
      "hasMore" -> page.map(_.hasMore.toString).getOrElse("null")))

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val lake = ctx.work.resolve("lake").toString
    val setup = scala.collection.mutable.LinkedHashMap[String, Double]()
    setup("session_ms") = Main.now / 1e6
    def read(n: String) = spark.read.parquet(s"$lake/$n.parquet")
    val t = DomainTables(read("users"), read("jasmin_perf"), read("streamate_perf"),
      read("earnings_by_performer"))
    val svc = new QueryService(t)
    SqlSurface.registerViews(spark, t)
    val reqs = Files.readAllLines(ctx.work.resolve("requests.tsv")).asScala
      .filter(_.nonEmpty).map(parse).toIndexedSeq
    val first = new ConcurrentHashMap[Int, String]()
    Leaks.baseline(spark)

    def one(r: Req, round: Int): Op = ctx.op(s"r$round-${r.idx}", r.method) {
      val t0 = System.nanoTime()
      val (df, page) = call(svc, t, r)
      val built = System.nanoTime()
      val rows = df.collect()
      val doneAt = System.nanoTime()
      val body = render(df.columns.toSeq, rows, page)
      val prev = first.putIfAbsent(r.idx, body)
      if (prev != null && prev != body)
        throw new IllegalStateException(s"request ${r.idx} answered differently on a repeat")
      Map("build_ms" -> (built - t0) / 1e6, "action_ms" -> (doneAt - built) / 1e6,
        "rows" -> rows.length.toDouble)
    }

    // warm-up: two untimed rounds (the first timed round measured ~20%
    // slower after one), which also record every first answer
    val tw = Main.now
    val (warm, _) = Loop.closed(ctx.cores, 0, reqs, minRounds = 2)((r, _) => one(r, -1))
    setup("warmup_ms") = (Main.now - tw) / 1e6
    setup("warmup_failed") = warm.count(!_.ok).toDouble
    val timedStart = Main.now
    // at least four rounds (60 samples): on a slow machine a 10 s run fit
    // one round, reported the slowest of 15 requests as its p95, and its
    // medians followed the machine's speed over a few seconds
    val (ops, rounds) = Loop.closed(ctx.cores, ctx.seconds, reqs, minRounds = 4)(one)
    val timedEnd = Main.now
    val out = reqs.map(r => Json.obj(Seq("i" -> r.idx.toString,
      "response" -> Option(first.get(r.idx)).getOrElse("null"))))
    Files.writeString(ctx.work.resolve("responses.jsonl"), out.mkString("\n"))
    Result(setup.toMap, ops,
      timedStart, timedEnd, Map("rounds" -> rounds.toDouble, "clients" -> ctx.cores.toDouble))
  }
}
