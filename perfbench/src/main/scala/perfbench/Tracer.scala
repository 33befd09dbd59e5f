package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced mode: Spark's public listeners plus the JVM's MXBeans,
  * attached from outside the engine. Events are kept in memory; after the
  * run the jobs, stages, SQL executions and streaming progress are tied
  * to the operation whose job group they carry (or, for the ingest
  * stream's own thread, whose time window holds them), and `trace.json`
  * gets the spans and the per-operation layer metrics. */
final class Tracer(spark: SparkSession) {
  final class Job(val id: Int, val group: String, val exec: String,
      val callSite: String, val start: Long, val stages: Seq[Int]) {
    @volatile var end: Long = -1
  }
  final class Stage(val id: Int) {
    var submitted = -1L; var firstLaunch = Long.MaxValue; var completed = -1L
    var tasks = 0; var runMs = 0L; var cpuNs = 0L; var spill = 0L; var peakMem = 0L
    var inBytes = 0L; var inRows = 0L; var shWrite = 0L; var shRead = 0L
    var readsShuffle = false; var result = 0L
    val durations = mutable.ArrayBuffer[Long]()
  }
  final case class Exec(group: Option[String], time: Long)
  final case class Plan(analysis: Double, optimization: Double, planning: Double,
      nlj: Int, files: Long)
  final case class Progress(time: Long, trigger: Double, addBatch: Double, stateRows: Long)
  final case class OpMark(start: Long, var end: Long, jit0: Long, gc0: Long,
      var jit: Long = 0, var gc: Long = 0, var heapPeak: Long = 0)

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, Stage]()
  private val execs = new ConcurrentHashMap[Long, Exec]()
  private val plans = new ConcurrentHashMap[Long, Plan]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
  private val marks = new ConcurrentHashMap[String, OpMark]()
  private val stamps = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()

  private def stage(id: Int): Stage = stages.computeIfAbsent(id, i => new Stage(i))

  // A QueryExecution carries no SQL execution id. Both listeners below sit
  // on the listener bus's shared queue, which hands each event to its
  // listeners in turn: registered first, the QueryExecutionListener sees
  // an execution's end just before the SparkListener does, which then
  // files the plan under the event's execution id.
  @volatile private var pending: Option[Plan] = None
  private object PlanWalk extends AdaptiveSparkPlanHelper
  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      try record(qe) catch { case e: Throwable =>
        System.err.println(s"[perfbench] plan of execution ${qe.id} not read: $e") }
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      val plan = qe.executedPlan
      val nlj = PlanWalk.collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }.size
      val files = PlanWalk.collectWithSubqueries(plan) {
        case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      pending = Some(Plan(ms("analysis"), ms("optimization"), ms("planning"), nlj, files))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      pending = None
  })

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      val j = new Job(e.jobId, prop("spark.jobGroup.id"), prop("spark.sql.execution.id"),
        prop("callSite.short"), e.time, e.stageIds)
      jobs.put(e.jobId, j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = stage(e.stageInfo.stageId)
      s.synchronized { s.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()) }
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = {
      val s = stage(e.stageId)
      s.synchronized { s.firstLaunch = math.min(s.firstLaunch, e.taskInfo.launchTime) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stage(e.stageId)
      val m = e.taskMetrics
      s.synchronized {
        s.durations += e.taskInfo.duration
        if (m != null) {
          s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
          s.inBytes += m.inputMetrics.bytesRead; s.inRows += m.inputMetrics.recordsRead
          s.shWrite += m.shuffleWriteMetrics.bytesWritten
          val rd = m.shuffleReadMetrics
          s.shRead += rd.remoteBytesRead + rd.localBytesRead
          if (rd.totalBlocksFetched > 0) s.readsShuffle = true
          s.result += m.resultSize
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = stage(e.stageInfo.stageId)
      s.synchronized {
        s.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
        s.tasks = e.stageInfo.numTasks
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execs.put(s.executionId, Exec(s.jobGroupId, s.time))
      case e: SparkListenerSQLExecutionEnd =>
        pending.foreach(p => plans.put(e.executionId, p))
        pending = None
      case _ =>
    }
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String) = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      progress.add(Progress(java.time.Instant.parse(p.timestamp).toEpochMilli,
        ms("triggerExecution"), ms("addBatch"), p.stateOperators.map(_.numRowsTotal).sum))
    }
  })

  /** The ingest pipeline prints a stamp as each leg of a batch finishes;
    * a line sink keeps their times so that jobs can be given to legs. */
  val stampOut: java.io.PrintStream = new java.io.PrintStream(new java.io.OutputStream {
    private val buf = new java.io.ByteArrayOutputStream()
    private val Stamp = """\[ingest\] batch \d+ (.*) at [0-9.]+ s""".r
    override def write(b: Int): Unit = synchronized {
      if (b == '\n') {
        val line = buf.toString("UTF-8"); buf.reset()
        System.err.println(line)
        line match {
          case Stamp(stage) => stamps.add(System.currentTimeMillis() -> stage)
          case _ =>
        }
      } else buf.write(b)
    }
  }, true)

  private val mx = ManagementFactory.getCompilationMXBean
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def opStart(id: String): Unit = {
    heapPools.foreach(_.resetPeakUsage())
    marks.put(id, OpMark(System.currentTimeMillis(), -1, mx.getTotalCompilationTime, gcMs))
  }
  def opEnd(id: String): Unit = Option(marks.get(id)).foreach { m =>
    m.end = System.currentTimeMillis()
    m.jit = mx.getTotalCompilationTime - m.jit0
    m.gc = gcMs - m.gc0
    m.heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum
  }

  /** Per-operation layer metrics; the names are those of the benchmark's
    * per-layer table. */
  def finish(ctx: Ctx, res: Result): Unit = {
    Thread.sleep(2000) // let the listener buses drain
    val ops = res.ops
    val opIds = ops.map(_.id).toSet
    val windows = ops.flatMap(o => Option(marks.get(o.id)).map(o -> _))
    def byTime(t: Long): Option[String] = {
      val hits = windows.filter { case (_, m) => t >= m.start && t <= m.end }
      if (hits.size == 1) Some(hits.head._1.id) else None
    }
    val jobOp = jobs.values.asScala.toSeq.flatMap { j =>
      (if (opIds(j.group)) Some(j.group) else byTime(j.start)).map(j -> _)
    }
    // a SQL execution belongs to the operation of its job group, else to
    // that of any job it ran, else to the one running when it started
    val execFromJobs: Map[Long, String] = jobOp.flatMap { case (j, id) =>
      j.exec.toLongOption.map(_ -> id)
    }.toMap
    val execOp: Map[Long, String] = plans.keySet.asScala.toSeq.flatMap { id =>
      val e = Option(execs.get(id))
      e.flatMap(_.group).filter(opIds).orElse(execFromJobs.get(id))
        .orElse(e.flatMap(x => byTime(x.time))).map(id.toLong -> _)
    }.toMap
    val spans = mutable.ArrayBuffer[String]()
    def span(name: String, kind: String, s: Long, e: Long, parent: String): Unit =
      spans += Json.obj(Seq("name" -> Json.str(name), "kind" -> Json.str(kind),
        "start_ms" -> s.toString, "end_ms" -> e.toString, "parent" -> Json.str(parent)))
    def union(iv: Seq[(Long, Long)]): Long = {
      var total = 0L; var curS = -1L; var curE = -1L
      iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { total += math.max(0, curE - curS); curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      total + math.max(0, curE - curS)
    }
    val stampSeq = stamps.asScala.toSeq.sortBy(_._1)
    val legOf = Map("accept decided" -> "accept", "quality gate passed" -> "quality",
      "batch REJECTED by quality gate" -> "quality", "merged" -> "merge",
      "minhash indexed" -> "minhash", "bm25 indexed" -> "bm25", "ann indexed" -> "lsh",
      "ivf indexed" -> "ivf", "chunks indexed" -> "chunk", "sketch appended" -> "sketch",
      "maintenance done" -> "maintain")
    val legs = Seq("accept", "merge", "minhash", "bm25", "lsh", "ivf", "chunk", "sketch",
      "quality", "maintain")

    val perOp = windows.map { case (o, m) =>
      val js = jobOp.collect { case (j, id) if id == o.id => j }
      val ss = js.flatMap(_.stages).flatMap(s => Option(stages.get(s))).filter(_.completed >= 0)
      val ps = execOp.collect { case (e, id) if id == o.id => e }.flatMap(e => Option(plans.get(e)))
      val pr = progress.asScala.filter(p => p.time >= m.start && p.time <= m.end)
      val buildMs = o.extra.getOrElse("build_ms", 0.0)
      val actionStart = m.start + buildMs.toLong
      val jobIv = js.map(j => (j.start, if (j.end < 0) m.end else j.end))
      val eager = js.filter(j => j.end >= 0 && j.end <= actionStart && buildMs > 0)
      val shuffled = ss.filter(_.readsShuffle)
      def median(xs: Seq[Long]) = if (xs.isEmpty) 0L else xs.sorted.apply(xs.size / 2)
      val skew = shuffled.map { s =>
        val d = s.durations.toSeq
        if (d.isEmpty) 0.0 else d.max.toDouble / math.max(1L, median(d))
      }
      // ingest legs: a job belongs to the leg whose stamp is the first at or
      // after its start, within the operation's window; jobs after the last
      // stamp (reading the committed corpus back) belong to no leg
      val opStamps = stampSeq.filter { case (t, _) => t >= m.start && t <= m.end }
      val legMs = mutable.Map[String, Double]().withDefaultValue(0.0)
      js.foreach { j =>
        opStamps.find(_._1 >= j.start).flatMap(s => legOf.get(s._2)).foreach { leg =>
          legMs(leg) += (if (j.end < 0) m.end else j.end) - j.start
        }
      }
      val wall = (m.end - m.start).toDouble
      val jobsCovered = union(jobIv).toDouble
      val stageSelf = ss.map(s => math.max(0L, s.completed - s.submitted)).sum
      val jobSelf = js.map { j =>
        val e = if (j.end < 0) m.end else j.end
        (e - j.start) - union(j.stages.flatMap(s => Option(stages.get(s)))
          .filter(_.completed >= 0).map(s => (s.submitted, s.completed)))
      }.sum
      span(o.id, "operation", m.start, m.end, "")
      if (buildMs > 0) {
        span(o.id + "/build", "build", m.start, actionStart, o.id)
        span(o.id + "/action", "action", actionStart, m.end, o.id)
      }
      js.foreach { j =>
        span(s"job ${j.id} ${j.callSite}", "job", j.start, if (j.end < 0) m.end else j.end, o.id)
        j.stages.flatMap(s => Option(stages.get(s))).filter(_.completed >= 0).foreach { s =>
          span(s"stage ${s.id}", "stage", s.submitted, s.completed, s"job ${j.id} ${j.callSite}")
        }
      }
      val x = o.extra
      val arrived = x.getOrElse("arrived", 0.0)
      val accepted = x.getOrElse("accepted", 0.0)
      val metrics = Seq(
        "domain.build_ms" -> buildMs,
        "plan.analysis_ms" -> ps.map(_.analysis).sum,
        "plan.optimization_ms" -> ps.map(_.optimization).sum,
        "plan.planning_ms" -> ps.map(_.planning).sum,
        "plan.nested_loop_joins" -> ps.map(_.nlj).sum.toDouble,
        "sched.jobs" -> js.size.toDouble,
        "sched.stages" -> ss.size.toDouble,
        "sched.tasks" -> ss.map(_.tasks).sum.toDouble,
        "sched.queue_ms" -> ss.filter(_.firstLaunch != Long.MaxValue)
          .map(s => math.max(0L, s.firstLaunch - s.submitted)).sum.toDouble,
        "core.scan_bytes" -> ss.map(_.inBytes).sum.toDouble,
        "core.scan_rows" -> ss.map(_.inRows).sum.toDouble,
        "core.scan_files" -> ps.map(_.files).sum.toDouble,
        "exchange.shuffle_write_bytes" -> ss.map(_.shWrite).sum.toDouble,
        "exchange.shuffle_read_bytes" -> ss.map(_.shRead).sum.toDouble,
        "exchange.post_shuffle_tasks" ->
          (if (shuffled.isEmpty) 0.0 else shuffled.map(_.tasks).sum.toDouble / shuffled.size),
        "exchange.skew" -> (if (skew.isEmpty) 0.0 else skew.max),
        "operators.run_ms" -> ss.map(_.runMs).sum.toDouble,
        "operators.cpu_ms" -> ss.map(_.cpuNs).sum / 1e6,
        "operators.spill_bytes" -> ss.map(_.spill).sum.toDouble,
        "operators.peak_mem_bytes" -> (if (ss.isEmpty) 0.0 else ss.map(_.peakMem).max.toDouble),
        "eager.jobs" -> eager.size.toDouble,
        "eager.ms" -> union(eager.map(j => (j.start, j.end))).toDouble,
        "driver.result_bytes" -> ss.map(_.result).sum.toDouble,
        "streaming.batches" -> pr.size.toDouble,
        "streaming.trigger_ms" -> pr.map(_.trigger).sum,
        "streaming.add_batch_ms" -> pr.map(_.addBatch).sum,
        "streaming.state_rows" -> pr.map(_.stateRows).sum.toDouble) ++
        legs.map(l => s"ingest.${l}_ms" -> legMs(l)) ++ Seq(
        "commit.bytes_written" -> x.getOrElse("bytes_written", 0.0),
        "commit.write_amp" -> (if (x.getOrElse("accepted_text_bytes", 0.0) > 0)
          x("bytes_written") / x("accepted_text_bytes") else 0.0),
        "ingest.accepted_docs" -> accepted,
        "ingest.accept_ratio" -> (if (arrived > 0) accepted / arrived else 0.0),
        "jvm.jit_ms" -> m.jit.toDouble,
        "jvm.gc_ms" -> m.gc.toDouble,
        "jvm.heap_peak_mb" -> m.heapPeak / 1048576.0,
        "trace.wall_ms" -> wall,
        "trace.uncovered_ms" -> (wall - jobsCovered),
        "trace.job_self_ms" -> jobSelf.toDouble,
        "trace.stage_ms" -> stageSelf.toDouble)
      (o, metrics, js.groupBy(j => j.callSite.split(" at ").lastOption.getOrElse("")
        .split(":").head).map { case (f, g) =>
          f -> g.map(j => (if (j.end < 0) m.end else j.end) - j.start).sum },
        (ps.size, js.flatMap(j => j.exec.toLongOption).distinct.size))
    }
    val opsJson = perOp.map { case (o, ms, sites, (planned, executed)) =>
      Json.obj(Seq("id" -> Json.str(o.id), "kind" -> Json.str(o.kind),
        "sql_executions" -> Json.obj(Seq("planned" -> planned.toString,
          "with_jobs" -> executed.toString)),
        "metrics" -> Json.obj(ms.map { case (k, v) => k -> Json.num(v) }),
        "callsite_ms" -> Json.obj(sites.map { case (k, v) => k -> v.toString })))
    }
    Files.writeString(ctx.work.resolve("trace.json"), Json.obj(Seq(
      "ops" -> Json.arr(opsJson), "spans" -> Json.arr(spans))))
  }
}
