package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed operation of a workload. `kind` names the request method,
  * query or batch role; times are nanoseconds on the JVM's monotonic
  * clock, relative to the harness start. */
final case class Op(id: String, kind: String, start: Long, end: Long,
    ok: Boolean, error: String, extra: Map[String, Double] = Map.empty)

/** Entry point of the benchmark JVM: `perfbench.Main <workload> <work dir>
  * <seconds> <trace 0|1> <cores>`. The workload reads its inputs from the
  * work dir (written by the seeded generator), runs its untimed set-up,
  * then its timed rounds, and writes `result.json` (and, traced,
  * `trace.json`) back into the work dir for the checks. */
object Main {
  val t0: Long = System.nanoTime()
  val epochMs: Long = System.currentTimeMillis()
  def now: Long = System.nanoTime() - t0

  def main(args: Array[String]): Unit = {
    val Array(workload, workDir, secondsArg, traceArg, coresArg) = args
    val work = Paths.get(workDir).toAbsolutePath
    val cores = coresArg.toInt
    val traced = traceArg == "1"
    val spark = session(work, cores)
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val ctx = Ctx(spark, work, secondsArg.toDouble, cores, tracer)
    def body(): Result = workload match {
      case "dashboard" => Dashboard.run(ctx)
      case "suite" => Suite.run(ctx)
      case "ingest" => Ingest.run(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    // traced: the threads the workload starts inherit the stamp sink
    val res = tracer.fold(body())(t => Console.withOut(t.stampOut)(body()))
    tracer.foreach(_.finish(ctx, res))
    Files.writeString(work.resolve("result.json"), res.json)
    spark.stop()
  }

  /** The session every workload uses: the engine's own builder at `cores`
    * with AQE on, as the engine's bench main sets it. Everything the
    * session writes stays inside the work dir. */
  def session(work: Path, cores: Int): SparkSession = {
    val s = graft.core.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** What a workload needs from the harness. */
final case class Ctx(spark: SparkSession, work: Path, seconds: Double,
    cores: Int, tracer: Option[Tracer]) {

  /** Run `body` as one operation: its own job group, timed from the call
    * until it returns, then the leak guard. A failure or a leak fails
    * the operation and names it; it never stops the run. */
  def op(id: String, kind: String)(body: => Map[String, Double]): Op = {
    val sc = spark.sparkContext
    sc.setJobGroup(id, kind, interruptOnCancel = false)
    tracer.foreach(_.opStart(id))
    val start = Main.now
    val res = try Right(body) catch { case e: Throwable => Left(e) }
    val end = Main.now
    tracer.foreach(_.opEnd(id))
    sc.clearJobGroup()
    val leak = Leaks.check(spark)
    res match {
      case Left(e) =>
        Op(id, kind, start, end, ok = false,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      case Right(_) if leak.nonEmpty =>
        Op(id, kind, start, end, ok = false, s"leak: $leak")
      case Right(extra) => Op(id, kind, start, end, ok = true, "", extra)
    }
  }
}

/** The leak guard: after every operation no streaming query may still be
  * active and nothing may stay pinned (persisted RDDs, cached Datasets)
  * beyond what the workload's own set-up pinned. A leak is released so
  * that it cannot slow the operations after it. */
object Leaks {
  @volatile private var baseRdds = Set.empty[Int]
  @volatile private var baseCached = false

  def baseline(spark: SparkSession): Unit = {
    baseRdds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    baseCached = !spark.sharedState.cacheManager.isEmpty
  }

  def check(spark: SparkSession): String = synchronized {
    val streams = spark.streams.active.toSeq
    val rdds = spark.sparkContext.getPersistentRDDs.filter { case (k, _) => !baseRdds(k) }
    val cached = !baseCached && !spark.sharedState.cacheManager.isEmpty
    val parts = Seq(
      if (streams.nonEmpty) Some(s"${streams.size} active stream(s)") else None,
      if (rdds.nonEmpty) Some(s"${rdds.size} pinned RDD(s) ${rdds.values.map(_.name).mkString(",")}") else None,
      if (cached) Some("cached Dataset(s)") else None).flatten
    streams.foreach(q => try q.stop() catch { case _: Throwable => () })
    rdds.values.foreach(_.unpersist(blocking = false))
    if (cached) spark.sharedState.cacheManager.clearCache()
    parts.mkString("; ")
  }
}

/** A workload's outcome: its set-up phases, its timed operations and any
  * workload-specific numbers, serialized for the checks. */
final case class Result(setupMs: Map[String, Double], ops: Seq[Op],
    timedStart: Long, timedEnd: Long, extra: Map[String, Double] = Map.empty) {
  def json: String = {
    val setup = Json.obj(setupMs.map { case (k, v) => k -> Json.num(v) })
    val os = ops.map(o => Json.obj(Seq(
      "id" -> Json.str(o.id), "kind" -> Json.str(o.kind),
      "start_ms" -> Json.num(o.start / 1e6), "end_ms" -> Json.num(o.end / 1e6),
      "ok" -> o.ok.toString, "error" -> Json.str(o.error),
      "extra" -> Json.obj(o.extra.map { case (k, v) => k -> Json.num(v) }))))
    Json.obj(Seq("setup_ms" -> setup, "main_epoch_ms" -> Main.epochMs.toString, "ops" -> os.mkString("[", ",\n", "]"),
      "timed_start_ms" -> Json.num(timedStart / 1e6),
      "timed_end_ms" -> Json.num(timedEnd / 1e6),
      "extra" -> Json.obj(extra.map { case (k, v) => k -> Json.num(v) })))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
  /** A Spark value as JSON: numbers exact (decimals as strings), dates and
    * timestamps as ISO strings. */
  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN) "\"NaN\"" else if (d.isInfinite) str(d.toString) else java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case n: java.lang.Number if !n.isInstanceOf[java.math.BigDecimal] => n.toString
    case b: java.math.BigDecimal => str(b.toPlainString)
    case b: Boolean => b.toString
    case s: scala.collection.Seq[_] => arr(s.map(value))
    case o => str(o.toString)
  }
}

/** Timed loops shared by the workloads. */
object Loop {
  /** Closed loop: `clients` threads take the next operation of the current
    * round until the round is done; new rounds start until `seconds` have
    * passed, so every run attempts whole rounds. Returns the operations in
    * completion order and the number of rounds. */
  def closed[A](clients: Int, seconds: Double, round: IndexedSeq[A],
      minRounds: Int)(run: (A, Int) => Op): (Seq[Op], Int) = {
    val done = new ConcurrentLinkedQueue[Op]()
    val deadline = Main.now + (seconds * 1e9).toLong
    var rounds = 0
    while (rounds < minRounds || Main.now < deadline) {
      val next = new java.util.concurrent.atomic.AtomicInteger(0)
      val r = rounds
      val threads = (0 until clients).map { _ =>
        val t = new Thread(() => {
          var i = next.getAndIncrement()
          while (i < round.size) {
            done.add(run(round(i), r))
            i = next.getAndIncrement()
          }
        })
        t.start(); t
      }
      threads.foreach(_.join())
      rounds += 1
    }
    (done.asScala.toSeq, rounds)
  }
}
