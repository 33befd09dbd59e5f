package graft.streaming

import graft.core.{QueryDef, QueryModule}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Event-time WATERMARK semantics as a declared, oracle-checked query —
  * the one Structured-Streaming behavior a 100 TB ingest actually leans
  * on: out-of-order arrival, bounded state, late data either folded into
  * a still-open window or dropped once the window is finalized.
  *
  * The engine's streaming surface (StreamingIngest, ContinuousIngest,
  * CorpusStream) is unit-tested, but unit tests don't hash-check the
  * WATERMARK ALGEBRA itself. This module replays a deterministic
  * out-of-order arrival sequence through a real `readStream` →
  * `withWatermark` → windowed-count → append-mode sink pipeline and
  * declares the final emitted state, which DuckDB reproduces from the
  * watermark rules alone (no streaming engine on the oracle side):
  *
  *  - trigger 1 ingests the ON-TIME slice (everything before the split
  *    date whose id survives the holdback hash), seeding the watermark
  *    at `max(ts in slice 1) − delay`;
  *  - trigger 2 ingests the timeline TAIL (everything at/after the
  *    split date), which carries the global max event time;
  *  - trigger 3 ingests the genuinely-late HOLDBACK rows. A late row
  *    lands iff its 1-day window is still open against the late-event
  *    watermark (`window_end > wm`) — rows whose windows are finalized
  *    are DROPPED, and because append mode emits a window exactly once,
  *    accepting them would double-count;
  *  - eviction then flushes every window whose end is ≤ the final
  *    watermark `max(all ts) − delay`; newer windows stay in state,
  *    deliberately unemitted.
  *
  * Two Spark subtleties the three-slice design pins down (both verified
  * empirically on 4.1.2 and both load-bearing for the oracle):
  * late-event filtering keys on the WINDOW END, not the row's own ts (a
  * row older than the watermark still lands if its window is open), and
  * since the two-watermark split (SPARK-40925) the late-event watermark
  * LAGS the eviction watermark by one micro-batch — which is exactly
  * why the holdback needs its own third trigger: it must arrive after
  * the batch whose offsets entry carries slice 1's watermark, or
  * nothing is ever old enough to drop.
  *
  * Arrival order is made deterministic the way FileStreamSource actually
  * orders files — (modification time, path) — by staging each slice as
  * ONE parquet file with a pinned mtime and `maxFilesPerTrigger = 1`.
  *
  * At scale nothing here is test-rig-shaped: the same watermark bounds
  * the state store (windows older than `max ts − delay` are evicted,
  * so state is O(open windows × types), not O(history)), and the append
  * sink writes each finalized window exactly once — the idempotent
  * gold-table contract.
  */
object WatermarkQueries extends QueryModule {

  private val SplitDate = "2024-01-25"
  private val DelayDays = 3

  /** Per-(harness, sfDir) scratch root — ONE definition of the
    * sanitize-and-prefix convention for all ten fixtures. */
  private def streamRoot(prefix: String, sfDir: String): String = {
    val safe = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    s"${sys.props("java.io.tmpdir")}/graft_stream/${prefix}_$safe"
  }

  private def wipe(s: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Stage `df` as exactly one parquet file at `dest` with a pinned
    * mtime — the knob FileStreamSource's (modTime, path) ordering keys
    * on, so the replayed arrival sequence is deterministic. */
  private[graft] def stageFile(s: SparkSession, df: DataFrame,
      stageDir: String, dest: String, mtimeMs: Long): Unit = {
    df.coalesce(1).write.mode("overwrite").parquet(stageDir)
    val sp = new Path(stageDir)
    val fs = sp.getFileSystem(s.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(sp)
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
      .headOption.getOrElse(
        throw new IllegalStateException(s"no parquet staged under $stageDir"))
    val dp = new Path(dest)
    fs.mkdirs(dp.getParent)
    graft.etl.Swap.rename(fs, part, dp)
    fs.setTimes(dp, mtimeMs, -1)
    fs.delete(sp, true)
  }

  /** Stage each slice as one mtime-ordered file under `base/<sub>` and
    * return each slice's NON-EMPTINESS (from the staged parquet
    * footers): an empty slice still stages a file and burns a trigger,
    * but its micro-batch reports zero input rows, so
    * [[assertProgress]]'s expected data-batch count must skip it
    * rather than blame Spark's scheduling for the shortfall. The count
    * is a DRIVER-SIDE footer read — a `spark.read...count()` here cost
    * a full job per slice, ~15% of each declared streaming query. */
  private def stageSlices(s: SparkSession, base: String,
      slices: Seq[DataFrame], sub: String = "in"): Seq[Boolean] = {
    slices.zipWithIndex.foreach { case (df, i) =>
      stageFile(s, df, s"$base/stage$sub$i", f"$base/$sub/$i%04d.parquet",
        100000L * (i + 1))
    }
    val conf = s.sparkContext.hadoopConfiguration
    slices.indices.map { i =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new Path(f"$base/$sub/$i%04d.parquet"), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount > 0 finally r.close()
    }
  }

  /** Post-run assertion of the Spark-internal scheduling facts every
    * oracle here bakes in: one data-carrying micro-batch per staged file
    * (Trigger.AvailableNow + `maxFilesPerTrigger = 1` + the (mtime, path)
    * FileStreamSource order), and a monotonically advancing event-time
    * watermark that actually moved off epoch. A Spark upgrade changing
    * any of these (batching two files, reordering sources, stalling the
    * watermark) now fails with a NAMED assertion at the harness instead
    * of a bare oracle hash mismatch at the driver.
    *
    * `expectWatermark = false` for the watermark-free harness
    * (runRunningCount, NoTimeout keyed state): its progress carries no
    * eventTime watermark entry.
    *
    * `recentProgress` retains only the last
    * `spark.sql.streaming.numRecentProgressUpdates` (default 100)
    * entries, so this count is sound only while a run stays under that
    * cap — guarded below; a harness that ever stages ≥100 slices must
    * switch to a StreamingQueryListener tally instead. */
  private def assertProgress(q: org.apache.spark.sql.streaming.StreamingQuery,
      expectDataBatches: Int, expectWatermark: Boolean = true): Unit = {
    val progs = q.recentProgress.toSeq
    require(progs.size < 100,
      s"${progs.size} progress entries — at recentProgress's retention " +
        "cap the data-batch count may be truncated; count via a " +
        "StreamingQueryListener before staging this many slices")
    val dataBatches = progs.count(_.numInputRows > 0)
    require(dataBatches == expectDataBatches,
      s"oracle assumes $expectDataBatches one-file data micro-batches " +
        s"(maxFilesPerTrigger=1 admission), observed $dataBatches — " +
        "Spark's file-admission scheduling drifted; re-derive the oracles")
    if (expectWatermark) {
      val wms = progs
        .flatMap(p => Option(p.eventTime.get("watermark")))
        .map(java.time.Instant.parse)
      require(wms.nonEmpty && wms.last.isAfter(java.time.Instant.EPOCH),
        "oracle assumes the event-time watermark advanced off epoch; " +
          "the run's progress never carried one")
      require(wms.zip(wms.drop(1)).forall { case (a, b) => !b.isBefore(a) },
        s"event-time watermark regressed across micro-batches: $wms")
    }
  }

  /** Run the watermark pipeline over `slices` (arrival order) and return
    * the batch read of everything the append sink emitted. Shared by the
    * declared query (events-table slices) and WatermarkLateSpec's
    * hand-built frames.
    *
    * The stream runs in a DERIVED session (`newSession`: shared
    * SparkContext, independent SQLConf — the caller's session is never
    * mutated, per the GraftSession rule) with state partitioning sized
    * to the stream: a stateful micro-batch pays one state-store
    * commit PER SHUFFLE PARTITION per batch, so partitions must track
    * the stream's key cardinality, not a batch-analytics default — at
    * 100 TB that means sizing to the cluster, here to the fixture
    * (3 micro-batches × 32 idle state stores was pure overhead, ~4×
    * the whole query). */
  private[graft] def runWindowed(s: SparkSession, base: String,
      slices: Seq[DataFrame], delay: String): DataFrame = {
    wipe(s, base)
    val dataSlices = stageSlices(s, base, slices).count(identity)
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val schema = ss.read.parquet(s"$base/in").schema
    val stream = ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$base/in")
    val agg = stream
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"))
    val q = agg.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ck")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assertProgress(q, dataSlices)
    // read back on the CALLER's session — the result must not carry the
    // derived session's fixture conf into downstream plans
    s.read.parquet(s"$base/out")
      .orderBy(col("window_start"), col("event_type"))
  }

  /** [[runWindowed]]'s sibling for STREAMING DEDUPLICATION: the same
    * staged arrival sequence through `withWatermark` →
    * `dropDuplicatesWithinWatermark(key)` → append sink. Emits each
    * first arrival exactly once; what happens to re-arrivals and to
    * late first-arrivals is the watermark algebra the declared query's
    * oracle replays. */
  private[graft] def runDedup(s: SparkSession, base: String,
      slices: Seq[DataFrame], delay: String, key: String): DataFrame = {
    wipe(s, base)
    val dataSlices = stageSlices(s, base, slices).count(identity)
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val schema = ss.read.parquet(s"$base/in").schema
    val deduped = ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$base/in")
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark(key)
    val q = deduped.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ck")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assertProgress(q, dataSlices)
    s.read.parquet(s"$base/out").orderBy(col(key))
  }

  /** The declared arrival sequence over the events table: slice 1 is
    * everything before [[SplitDate]] except the `event_id % 4 == 0`
    * holdback; slice 2 is the timeline tail (at/after the split — it
    * carries the global max event time, so the final watermark is
    * `max(all ts) − delay`); slice 3 is the holdback, arriving
    * genuinely late against slice 1's watermark. */
  def watermarkLate(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.operators.EventOps.events(s, dir)
      .select(col("event_id"), col("ts"), col("event_type"))
    val split = lit(java.sql.Timestamp.valueOf(s"$SplitDate 00:00:00"))
    val onTime = ev.filter(col("ts") < split && col("event_id") % 4 =!= 0)
    val tail = ev.filter(col("ts") >= split)
    val holdback = ev.filter(col("ts") < split && col("event_id") % 4 === 0)
    runWindowed(s, streamRoot("wm", dir), Seq(onTime, tail, holdback), s"$DelayDays days")
  }

  /** The oracle replays the watermark algebra in plain SQL: the
    * late-event watermark from slice 1's max, per-row late acceptance
    * (`window_end > wm_late`), final emission
    * (`window_end <= max(all) − delay`). A value drift in ANY of
    * Spark's three watermark decisions — advancement, late-drop,
    * flush — breaks the hash. */
  /** STREAM-STREAM interval join harness: two file sources (left staged
    * as one file, right as an mtime-ordered file PER SLICE), both sides
    * watermarked, joined on `joinExpr`. Batch 0 consumes the left file
    * plus the right's first slice (both watermarks seed from it); each
    * later right slice arrives against the watermark the previous batch
    * established — the same one-batch late-event lag the windowed and
    * dedup harnesses pin. */
  private[graft] def runStreamJoin(s: SparkSession, base: String,
      left: DataFrame, rightSlices: Seq[DataFrame], delay: String,
      joinExpr: String, project: Seq[String],
      joinType: String = "inner"): DataFrame = {
    wipe(s, base)
    val leftNonEmpty = stageSlices(s, base, Seq(left), sub = "inL").head
    val rightFlags = stageSlices(s, base, rightSlices, sub = "inR")
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    def src(dir: String) = ss.readStream
      .schema(ss.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val joined = src(s"$base/inL").alias("v").withWatermark("ts", delay)
      .join(src(s"$base/inR").alias("c").withWatermark("ts", delay),
        expr(joinExpr), joinType)
      .selectExpr(project: _*)
    val q = joined.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ck")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // batch i consumes right slice i (plus the left file at i = 0), so
    // a batch carries data iff that right slice is non-empty or it is
    // the seed batch of a non-empty left
    assertProgress(q, rightFlags.zipWithIndex.count { case (ne, i) =>
      ne || (i == 0 && leftNonEmpty) })
    s.read.parquet(s"$base/out")
      .orderBy(project.map(p => col(p.split(" AS ").last.trim)): _*)
  }

  /** [[runWindowed]]'s sibling for SESSION WINDOWS: `session_window`
    * with an inactivity `gap`, grouped per user, append mode. A session
    * emits exactly once, when the watermark passes its end
    * (last event + gap); late rows are judged by their own would-be
    * session end (`ts + gap` vs the late-event watermark). */
  private[graft] def runSessions(s: SparkSession, base: String,
      slices: Seq[DataFrame], delay: String, gap: String): DataFrame = {
    wipe(s, base)
    val dataSlices = stageSlices(s, base, slices).count(identity)
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val schema = ss.read.parquet(s"$base/in").schema
    val agg = ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$base/in")
      .withWatermark("ts", delay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"))
    val q = agg.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ck")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assertProgress(q, dataSlices)
    s.read.parquet(s"$base/out")
      .orderBy(col("user_id"), col("session_start"))
  }

  /** [[runSessions]]'s ARBITRARY-STATE sibling: per-user sessionization
    * via `flatMapGroupsWithState` + **EventTimeTimeout** — the
    * unbounded-key-domain regime [[runRunningCount]]'s `NoTimeout` form
    * deliberately avoids. State is evicted by TIMER, not by key-domain
    * boundedness: each open session registers a timeout at
    * `last event + gap`; when the watermark passes it, the session is
    * emitted and the key's state REMOVED — so state is O(open sessions),
    * and a key that went quiet costs nothing forever after, which is the
    * only shape that survives an endless key domain at 100 TB.
    *
    * Emission discipline (each rule is load-bearing for the oracle):
    *  - rows for a key are sessionized in event-time order within the
    *    batch (break when the gap is ≥ `gap`); every session CLOSED BY A
    *    LATER ROW is emitted right there — data-driven close needs no
    *    watermark;
    *  - the still-open last session either registers a timeout at
    *    `last + gap` (allowed only at/above the current watermark) or,
    *    when that instant is already BELOW the watermark, is emitted
    *    immediately — it could never fire;
    *  - a timeout invocation emits the stored session and removes state.
    *
    * Net effect the oracle replays: non-final sessions always emit;
    * a user's FINAL session emits iff `last + gap < max(all ts) − delay`
    * (the final no-data micro-batch fires timers against the terminal
    * watermark; Spark's timer fire and the set-guard are both STRICT,
    * verified empirically on 4.1.2). Contrast with [[runSessions]]
    * (session_window): there a session emits only when the watermark
    * passes its end — here data-driven closes emit unconditionally, and
    * the late filter keys on the ROW's ts (no windows), not `ts + gap`.
    *
    * The per-key batch sort is bounded by one user's rows in one
    * micro-batch — the same per-key working set every keyed-state
    * operator holds. */
  private[graft] def runTimeoutSessions(s: SparkSession, base: String,
      slices: Seq[DataFrame], delay: String, gapMinutes: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    wipe(s, base)
    val dataSlices = stageSlices(s, base, slices).count(identity)
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    import ss.implicits._
    val gapMs = gapMinutes * 60000L
    val schema = ss.read.parquet(s"$base/in").schema
    val sessions = ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$base/in")
      .withWatermark("ts", delay)
      .selectExpr("CAST(user_id AS LONG) AS user_id", "ts")
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (Long, java.sql.Timestamp, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
            state: GroupState[(Long, Long, Long)]) => // (startUs, lastUs, n)
          // state carries MICROSECOND epochs: `Timestamp.getTime` is
          // ms-truncating, and the emitted session_start must round-trip
          // the source's µs precision exactly (the oracle hashes it).
          // Only the TIMER drops to ms — the GroupState API's unit.
          def us(t: java.sql.Timestamp): Long =
            t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
          def fromUs(u: Long): java.sql.Timestamp = {
            val t = new java.sql.Timestamp(u / 1000L)
            t.setNanos(((u % 1000000L) * 1000L).toInt)
            t
          }
          val gapUs = gapMs * 1000L
          if (state.hasTimedOut) {
            val (start, _, n) = state.get
            state.remove()
            Iterator.single((user, fromUs(start), n))
          } else {
            val ts = rows.map(r => us(r._2)).toArray.sorted
            val closed = scala.collection.mutable.ListBuffer
              .empty[(Long, java.sql.Timestamp, Long)]
            var cur = state.getOption
            ts.foreach { t =>
              cur = cur match {
                case Some((start, last, n)) if t - last < gapUs =>
                  Some((start, math.max(last, t), n + 1))
                case Some((start, _, n)) =>
                  closed += ((user, fromUs(start), n))
                  Some((t, t, 1L))
                case None => Some((t, t, 1L))
              }
            }
            cur.foreach { case (start, last, n) =>
              val wm = state.getCurrentWatermarkMs()
              // the timer unit is MILLISECONDS (the GroupState API's
              // contract), so `last / 1000L` floors sub-ms event time —
              // the ev_stream_timeout oracle ms-truncates last_ts before
              // adding the gap so both sides evaluate the same boundary
              val timerMs = last / 1000L + gapMs
              if (timerMs < wm) {
                // no valid timer exists below the watermark — the session
                // is already final; emit it now (same outcome a timer
                // would have produced) and drop the state
                closed += ((user, fromUs(start), n))
                state.remove()
              } else {
                state.update((start, last, n))
                state.setTimeoutTimestamp(timerMs)
              }
            }
            closed.iterator
          }
      }
      .toDF("user_id", "session_start", "n_events")
    val q = sessions.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ck")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assertProgress(q, dataSlices)
    s.read.parquet(s"$base/out")
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Streaming dedup arrival sequence: slice 2 carries the timeline
    * tail PLUS re-arrivals of `id % 16 == 1` on-time rows (their keys'
    * state is live — suppressed); slice 3 carries the late first-
    * arrival holdback PLUS re-arrivals of `id % 16 == 5` rows (state
    * either still live → suppressed, or evicted → the row is by then
    * below the late-event watermark and filtered — both paths emit
    * nothing, which is what makes the oracle a plain UNION). */
  def streamDedup(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.operators.EventOps.events(s, dir)
      .select(col("event_id"), col("ts"), col("event_type"))
    val split = lit(java.sql.Timestamp.valueOf(s"$SplitDate 00:00:00"))
    val onTime = ev.filter(col("ts") < split && col("event_id") % 4 =!= 0)
    val slice2 = ev.filter(col("ts") >= split)
      .unionByName(onTime.filter(col("event_id") % 16 === 1))
    val slice3 = ev.filter(col("ts") < split && col("event_id") % 4 === 0)
      .unionByName(onTime.filter(col("event_id") % 16 === 5))
    runDedup(s, streamRoot("sd", dir), Seq(onTime, slice2, slice3),
      s"$DelayDays days", "event_id")
  }

  /** Streaming dedup declared: every first arrival exactly once, every
    * planted re-arrival suppressed, and a late first-arrival kept iff
    * its ts clears the late-event watermark (row-ts keyed — dedup has
    * no windows; verified empirically alongside the windowed query's
    * semantics). The oracle is a UNION of the three slices' survivors:
    * any duplicate leaking through, or any wrong late-drop decision,
    * changes the row set and breaks the hash. */
  private val evStreamDedup = QueryDef(
    "ev_stream_dedup",
    Some(s"""
      WITH f1 AS (
        SELECT event_id, ts, event_type FROM events
        WHERE ts < TIMESTAMP '$SplitDate 00:00:00' AND event_id % 4 <> 0),
      f2 AS (
        SELECT event_id, ts, event_type FROM events
        WHERE ts >= TIMESTAMP '$SplitDate 00:00:00'),
      f3 AS (
        SELECT event_id, ts, event_type FROM events
        WHERE ts < TIMESTAMP '$SplitDate 00:00:00' AND event_id % 4 = 0),
      wml AS (SELECT MAX(ts) - INTERVAL $DelayDays DAY AS w FROM f1)
      SELECT * FROM (
        SELECT event_id, ts, event_type FROM f1
        UNION ALL
        SELECT event_id, ts, event_type FROM f2
        UNION ALL
        SELECT f3.event_id, f3.ts, f3.event_type FROM f3
        WHERE f3.ts >= (SELECT w FROM wml))
      ORDER BY event_id"""),
    (s, dir) => streamDedup(s, dir))

  /** STREAM-STREAM attribution join declared: views joined to clicks on
    * (same user, click within 1 hour of the view) across a three-wave
    * click arrival. Wave 1 rides in view state's first batch; wave 2
    * burns a batch so wave 3 faces a real late-event watermark
    * (the one-batch lag again); wave-3 clicks below `wml =
    * least(max view ts, max wave-1 ts) − delay` are dropped.
    *
    * The algebra that keeps the oracle a PLAIN interval join is the
    * condition-DERIVED state eviction, verified empirically: a view is
    * evicted only once the watermark passes `view.ts + 1 hour`, so no
    * surviving click can ever miss its view (any click with
    * `c.ts ≥ wml` needs `v.ts ≥ c.ts − 1h ≥ wml − 1h`, exactly the
    * state the eviction rule retains) — join-state GC at 100 TB costs
    * ZERO matches by construction, and the oracle's only non-join term
    * is the late-click filter. */
  def streamJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.operators.EventOps.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val views = ev.filter(col("event_type") === "view").drop("event_type")
    val clicks = ev.filter(col("event_type") === "click").drop("event_type")
    val r0 = clicks.filter(col("event_id") % 8 =!= 0 && col("event_id") % 8 =!= 4)
    val r1 = clicks.filter(col("event_id") % 8 === 4)
    val r2 = clicks.filter(col("event_id") % 8 === 0)
    runStreamJoin(s, streamRoot("sj", dir), views, Seq(r0, r1, r2), s"$DelayDays days",
      "v.user_id = c.user_id AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR",
      Seq("v.event_id AS view_id", "c.event_id AS click_id",
        "v.user_id AS user_id"))
  }

  private val evStreamJoin = QueryDef(
    "ev_stream_join",
    Some(s"""
      WITH v AS (
        SELECT event_id, ts, user_id FROM events WHERE event_type = 'view'),
      c0 AS (
        SELECT event_id, ts, user_id FROM events
        WHERE event_type = 'click' AND event_id % 8 NOT IN (0, 4)),
      c1 AS (
        SELECT event_id, ts, user_id FROM events
        WHERE event_type = 'click' AND event_id % 8 = 4),
      c2 AS (
        SELECT event_id, ts, user_id FROM events
        WHERE event_type = 'click' AND event_id % 8 = 0),
      wml AS (
        SELECT LEAST((SELECT MAX(ts) FROM v), (SELECT MAX(ts) FROM c0))
               - INTERVAL $DelayDays DAY AS w),
      cc AS (
        SELECT event_id, ts, user_id FROM c0
        UNION ALL
        SELECT event_id, ts, user_id FROM c1
        UNION ALL
        SELECT c2.event_id, c2.ts, c2.user_id FROM c2
        WHERE c2.ts >= (SELECT w FROM wml))
      SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id
      FROM v JOIN cc c
        ON v.user_id = c.user_id
       AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
      ORDER BY view_id, click_id"""),
    (s, dir) => streamJoin(s, dir))

  /** [[runWindowed]]'s UPDATE-MODE sibling: the same watermarked
    * windowed count, but emitted in update mode and UPSERTED into a
    * keyed gold table per micro-batch
    * ([[StreamingIngest.mergeIntoParquet]] inside `foreachBatch`) — the
    * most common production streaming-gold shape. The contract this
    * pins is CONVERGENCE, not exactly-once emission: update mode
    * re-emits a window every batch that changes it (including still-
    * open windows append mode would withhold), and the keyed upsert
    * keeps the last value — so the final gold table equals the batch
    * aggregate over the watermark-ACCEPTED rows, with NO flush term at
    * all. The one-batch late-watermark lag (SPARK-40925) is
    * load-bearing here in a way worth naming: a late row passes the
    * filter iff its window end clears the LAGGING watermark, and state
    * is evicted against the CURRENT one — so an accepted late row
    * always finds its window's state still alive and merges into the
    * true count; were the two watermarks equal, an accepted late row
    * could re-open an evicted window at count 1 and the upsert would
    * clobber the correct gold value. At 100 TB the same shape holds:
    * per-batch upsert cost is O(changed windows), state is
    * watermark-bounded, and the gold table is correct at every commit
    * (eventually-correct dashboards read it mid-stream). */
  private[graft] def runUpdateGold(s: SparkSession, base: String,
      slices: Seq[DataFrame], delay: String): DataFrame = {
    wipe(s, base)
    val dataSlices = stageSlices(s, base, slices).count(identity)
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val schema = ss.read.parquet(s"$base/in").schema
    val agg = ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$base/in")
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"))
    val gold = s"$base/gold"
    val q = agg.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        StreamingIngest.mergeIntoParquet(ss, batch, gold,
          Seq("window_start", "event_type"))
      }
      .option("checkpointLocation", s"$base/ck")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assertProgress(q, dataSlices)
    s.read.parquet(gold)
      .orderBy(col("window_start"), col("event_type"))
  }

  /** [[runRunningCount]]'s sibling on the CURRENT arbitrary-state API
    * (`transformWithState`, Spark 4's StatefulProcessor — fMGWS's
    * successor): per event type, EXACT cumulative distinct-user
    * tracking across micro-batches via [[DistinctUsersProcessor]]
    * (seedless overload), on the RocksDB state store TWS requires
    * (set on the derived session; the default HDFS-backed provider
    * refuses TWS). */
  private[graft] def runDistinctUsers(s: SparkSession, base: String,
      slices: Seq[DataFrame]): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    wipe(s, base)
    val dataSlices = stageSlices(s, base, slices).count(identity)
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import ss.implicits._
    val schema = ss.read.parquet(s"$base/in").schema
    val counted = ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$base/in")
      .selectExpr("event_type", "CAST(user_id AS LONG) AS user_id")
      .as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(new DistinctUsersProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF("event_type", "n_distinct_users")
    val q = counted.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ck")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assertProgress(q, dataSlices, expectWatermark = false)
    s.read.parquet(s"$base/out")
      .orderBy(col("event_type"), col("n_distinct_users"))
  }

  /** ONE processor serves both transformWithState queries (a
    * `StatefulProcessorWithInitialState` IS a `StatefulProcessor`, so
    * the seedless overload takes it too — the distinct-counting
    * semantics are defined once): per event type, a `MapState`
    * seen-user set probed point-wise against RocksDB plus a
    * `ValueState` counter bumped only on first sight, so per-batch
    * cost is O(new users), not O(seen). The initial-state leg is the
    * state MIGRATION story the API exists to make first-class: a new
    * streaming pipeline warm-starts from a batch table (one
    * `collect_set` row per type) instead of replaying history through
    * the stream — `handleInitialState` seeds the MapState + counter
    * BEFORE the first micro-batch and emits nothing; seeded users
    * suppress stream re-arrivals and count toward every emitted
    * cumulative, exactly as if the stream had seen them. Idempotent
    * inserts (bump only on `!containsKey`), so the handler is correct
    * whatever per-key invocation multiplicity the engine chooses.
    *
    * Regime note: exact distinct state is O(types × users) — right for
    * this lake's bounded type/user domains; open-ended domains take the
    * sketch families instead (`a15` HLL, `ta_countmin_sketch`), trading
    * exactness for O(d·w) state. */
  private class DistinctUsersProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        String, (String, Long), (String, Long), (String, Array[Long])] {
    import org.apache.spark.sql.{Encoders, streaming => st}
    @transient private var seen: st.MapState[Long, Boolean] = _
    @transient private var nDistinct: st.ValueState[Long] = _
    override def init(outputMode: st.OutputMode, timeMode: st.TimeMode): Unit = {
      seen = getHandle.getMapState[Long, Boolean]("seen",
        Encoders.scalaLong, Encoders.scalaBoolean, st.TTLConfig.NONE)
      nDistinct = getHandle.getValueState[Long]("n_distinct",
        Encoders.scalaLong, st.TTLConfig.NONE)
    }
    private def insertAll(users: Iterator[Long]): Long = {
      var n = if (nDistinct.exists()) nDistinct.get() else 0L
      users.foreach { u =>
        if (!seen.containsKey(u)) { seen.updateValue(u, true); n += 1 }
      }
      nDistinct.update(n)
      n
    }
    override def handleInitialState(key: String,
        seed: (String, Array[Long]), tv: st.TimerValues): Unit = {
      insertAll(seed._2.iterator)
    }
    override def handleInputRows(key: String, rows: Iterator[(String, Long)],
        tv: st.TimerValues): Iterator[(String, Long)] =
      Iterator.single((key, insertAll(rows.map(_._2))))
  }

  private[graft] def runSeededDistinct(s: SparkSession, base: String,
      seed: DataFrame, slices: Seq[DataFrame]): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    wipe(s, base)
    val dataSlices = stageSlices(s, base, slices).count(identity)
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import ss.implicits._
    // one initial-state row per key, the API's contract: the batch
    // table collapses to (type, user-set) via collect_set
    val init = seed
      .groupBy(col("event_type"))
      .agg(collect_set(col("user_id").cast("long")).as("users"))
      .as[(String, Array[Long])]
      .groupByKey(_._1)
    val schema = ss.read.parquet(s"$base/in").schema
    val counted = ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$base/in")
      .selectExpr("event_type", "CAST(user_id AS LONG) AS user_id")
      .as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(new DistinctUsersProcessor,
        TimeMode.None(), OutputMode.Append(), init)
      .toDF("event_type", "n_distinct_users")
    val q = counted.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ck")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assertProgress(q, dataSlices, expectWatermark = false)
    s.read.parquet(s"$base/out")
      .orderBy(col("event_type"), col("n_distinct_users"))
  }

  /** Initial-state transformWithState declared: the pre-split on-time
    * rows play the EXISTING BATCH TABLE (seeded, never emitted); the
    * tail and holdback slices stream in as two micro-batches. Emitted
    * rows carry cumulative distincts THROUGH seed + stream — a seed
    * user re-arriving in the stream must not bump the count, a lost
    * seed undercounts every row, and a seed that spuriously EMITS
    * (bootstrap is not a batch) adds rows: all three break the hash. */
  def streamSeededDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.operators.EventOps.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val split = lit(java.sql.Timestamp.valueOf(s"$SplitDate 00:00:00"))
    val seed = ev.filter(col("ts") < split && col("event_id") % 4 =!= 0)
    val tail = ev.filter(col("ts") >= split)
    val holdback = ev.filter(col("ts") < split && col("event_id") % 4 === 0)
    runSeededDistinct(s, streamRoot("bs", dir), seed, Seq(tail, holdback))
  }

  private val evStreamBootstrap = QueryDef(
    "ev_stream_bootstrap",
    Some(s"""
      WITH pres AS (
        SELECT 1 AS sl, event_type, user_id FROM events
        WHERE ts < TIMESTAMP '$SplitDate 00:00:00' AND event_id % 4 <> 0
        UNION ALL
        SELECT 2, event_type, user_id FROM events
        WHERE ts >= TIMESTAMP '$SplitDate 00:00:00'
        UNION ALL
        SELECT 3, event_type, user_id FROM events
        WHERE ts < TIMESTAMP '$SplitDate 00:00:00' AND event_id % 4 = 0),
      -- the seed (sl=1) counts toward every prefix but never emits
      appears AS (SELECT DISTINCT sl, event_type FROM pres WHERE sl > 1)
      SELECT a.event_type,
        (SELECT COUNT(DISTINCT p.user_id) FROM pres p
         WHERE p.event_type = a.event_type AND p.sl <= a.sl)
          AS n_distinct_users
      FROM appears a
      ORDER BY event_type, n_distinct_users"""),
    (s, dir) => streamSeededDistinct(s, dir))

  /** transformWithState declared: the standard three-slice arrival, one
    * emitted row per (type, batch-the-type-appears-in) carrying the
    * exact cumulative distinct-user count THROUGH that batch. The
    * oracle is three per-slice prefix distincts — any lost MapState
    * entry (undercount), double-counted re-arrival (overcount), or
    * dropped/duplicated emission changes the multiset and breaks the
    * hash. */
  def streamDistinctUsers(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.operators.EventOps.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val split = lit(java.sql.Timestamp.valueOf(s"$SplitDate 00:00:00"))
    val onTime = ev.filter(col("ts") < split && col("event_id") % 4 =!= 0)
    val tail = ev.filter(col("ts") >= split)
    val holdback = ev.filter(col("ts") < split && col("event_id") % 4 === 0)
    runDistinctUsers(s, streamRoot("dn", dir), Seq(onTime, tail, holdback))
  }

  private val evStreamDistinct = QueryDef(
    "ev_stream_distinct",
    Some(s"""
      WITH pres AS (
        SELECT 1 AS sl, event_type, user_id FROM events
        WHERE ts < TIMESTAMP '$SplitDate 00:00:00' AND event_id % 4 <> 0
        UNION ALL
        SELECT 2, event_type, user_id FROM events
        WHERE ts >= TIMESTAMP '$SplitDate 00:00:00'
        UNION ALL
        SELECT 3, event_type, user_id FROM events
        WHERE ts < TIMESTAMP '$SplitDate 00:00:00' AND event_id % 4 = 0),
      appears AS (SELECT DISTINCT sl, event_type FROM pres)
      SELECT a.event_type,
        (SELECT COUNT(DISTINCT p.user_id) FROM pres p
         WHERE p.event_type = a.event_type AND p.sl <= a.sl)
          AS n_distinct_users
      FROM appears a
      ORDER BY event_type, n_distinct_users"""),
    (s, dir) => streamDistinctUsers(s, dir))

  /** Update-mode streaming gold declared: same three-slice arrival as
    * [[watermarkLate]], so the pair of queries pins the append-vs-update
    * semantic gap on identical data — the oracle here is the batch
    * aggregate over the ACCEPTED rows with NO flush term (open tail
    * windows are present with their current counts; `ev_watermark_late`
    * withholds them), and any upsert defect — a window inserted twice,
    * a stale value surviving an update, a late-accepted row re-opening
    * evicted state — shifts a count or a key and breaks the hash. */
  def streamUpdateGold(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.operators.EventOps.events(s, dir)
      .select(col("event_id"), col("ts"), col("event_type"))
    val split = lit(java.sql.Timestamp.valueOf(s"$SplitDate 00:00:00"))
    val onTime = ev.filter(col("ts") < split && col("event_id") % 4 =!= 0)
    val tail = ev.filter(col("ts") >= split)
    val holdback = ev.filter(col("ts") < split && col("event_id") % 4 === 0)
    runUpdateGold(s, streamRoot("ug", dir), Seq(onTime, tail, holdback),
      s"$DelayDays days")
  }

  private val evStreamGold = QueryDef(
    "ev_stream_gold",
    Some(s"""
      WITH f1 AS (
        SELECT ts, event_type FROM events
        WHERE ts < TIMESTAMP '$SplitDate 00:00:00' AND event_id % 4 <> 0),
      f2 AS (
        SELECT ts, event_type FROM events
        WHERE ts >= TIMESTAMP '$SplitDate 00:00:00'),
      f3 AS (
        SELECT ts, event_type FROM events
        WHERE ts < TIMESTAMP '$SplitDate 00:00:00' AND event_id % 4 = 0),
      wml AS (SELECT MAX(ts) - INTERVAL $DelayDays DAY AS w FROM f1),
      accepted AS (
        SELECT ts, event_type FROM f1
        UNION ALL
        SELECT ts, event_type FROM f2
        UNION ALL
        SELECT f3.ts, f3.event_type FROM f3
        WHERE time_bucket(INTERVAL 1 DAY, f3.ts) + INTERVAL 1 DAY
              > (SELECT w FROM wml))
      SELECT time_bucket(INTERVAL 1 DAY, ts) AS window_start,
        event_type, COUNT(*) AS n_events
      FROM accepted
      GROUP BY 1, 2
      ORDER BY window_start, event_type"""),
    (s, dir) => streamUpdateGold(s, dir))

  /** STREAM-STREAM **LEFT OUTER** interval join declared — the subtlest
    * semantic in streaming joins, and the form production attribution
    * actually runs: a view with no click inside its 1-hour window is
    * NULL-EXTENDED and emitted only once the watermark passes the
    * window's end (`v.ts + 1 hour < final watermark` — until then "no
    * match yet" is indistinguishable from "match still in flight", so
    * the row must stay in state, unemitted). Same three-wave click
    * arrival, same condition-derived state GC as [[streamJoin]] (the
    * inner form's oracle proved that GC loses zero matches, so the
    * matched half of this oracle is the identical plain interval join);
    * what this query adds is the null-extension decision: emit too
    * early and a late-but-acceptable click double-reports its view,
    * emit too late (or never) and unmatched views silently vanish —
    * either way the UNION's row set shifts and the hash breaks. */
  def streamOuterJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.operators.EventOps.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val views = ev.filter(col("event_type") === "view").drop("event_type")
    val clicks = ev.filter(col("event_type") === "click").drop("event_type")
    val r0 = clicks.filter(col("event_id") % 8 =!= 0 && col("event_id") % 8 =!= 4)
    val r1 = clicks.filter(col("event_id") % 8 === 4)
    val r2 = clicks.filter(col("event_id") % 8 === 0)
    runStreamJoin(s, streamRoot("oj", dir), views, Seq(r0, r1, r2),
      s"$DelayDays days",
      "v.user_id = c.user_id AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR",
      Seq("v.event_id AS view_id", "c.event_id AS click_id",
        "v.user_id AS user_id"),
      joinType = "left_outer")
  }

  private val evStreamOuterJoin = QueryDef(
    "ev_stream_outer_join",
    Some(s"""
      WITH v AS (
        SELECT event_id, ts, user_id FROM events WHERE event_type = 'view'),
      c0 AS (
        SELECT event_id, ts, user_id FROM events
        WHERE event_type = 'click' AND event_id % 8 NOT IN (0, 4)),
      c1 AS (
        SELECT event_id, ts, user_id FROM events
        WHERE event_type = 'click' AND event_id % 8 = 4),
      c2 AS (
        SELECT event_id, ts, user_id FROM events
        WHERE event_type = 'click' AND event_id % 8 = 0),
      wml AS (
        SELECT LEAST((SELECT MAX(ts) FROM v), (SELECT MAX(ts) FROM c0))
               - INTERVAL $DelayDays DAY AS w),
      wmf AS (
        SELECT LEAST((SELECT MAX(ts) FROM v),
                     (SELECT MAX(ts) FROM events WHERE event_type = 'click'))
               - INTERVAL $DelayDays DAY AS w),
      cc AS (
        SELECT event_id, ts, user_id FROM c0
        UNION ALL
        SELECT event_id, ts, user_id FROM c1
        UNION ALL
        SELECT c2.event_id, c2.ts, c2.user_id FROM c2
        WHERE c2.ts >= (SELECT w FROM wml)),
      matched AS (
        SELECT v.event_id AS view_id, c.event_id AS click_id,
          v.user_id AS user_id
        FROM v JOIN cc c
          ON v.user_id = c.user_id
         AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR),
      unmatched AS (
        SELECT v.event_id AS view_id,
          CAST(NULL AS BIGINT) AS click_id, v.user_id AS user_id
        FROM v
        WHERE NOT EXISTS (
            SELECT 1 FROM cc c
            WHERE c.user_id = v.user_id
              AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR)
          AND v.ts + INTERVAL 1 HOUR < (SELECT w FROM wmf))
      SELECT * FROM (
        SELECT * FROM matched UNION ALL SELECT * FROM unmatched)
      ORDER BY view_id, click_id"""),
    (s, dir) => streamOuterJoin(s, dir))

  /** EventTimeTimeout sessionization over the SAME arrival sequence as
    * [[streamSessions]] — deliberately, so the two declared queries pin
    * the semantic gap between `session_window` (emit only when the
    * watermark passes a session's end; late rows judged by their
    * would-be session end) and timer-driven arbitrary state (data-closed
    * sessions emit unconditionally; late rows judged by their OWN ts —
    * no windows exist; the final open session emits iff its timer,
    * `last + gap`, lands strictly below the terminal watermark). */
  def streamTimeoutSessions(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.operators.EventOps.events(s, dir)
      .select(col("ts"), col("user_id"))
    val split = lit(java.sql.Timestamp.valueOf(s"$SplitDate 00:00:00"))
    val held = col("user_id") % 5 === 0
    val f1 = ev.filter(!held && col("ts") < split)
    val f2 = ev.filter(!held && col("ts") >= split)
    val f3 = ev.filter(held)
    runTimeoutSessions(s, streamRoot("to", dir), Seq(f1, f2, f3),
      s"$DelayDays days", gapMinutes = 30)
  }

  private val evStreamTimeout = QueryDef(
    "ev_stream_timeout",
    Some(s"""
      WITH f1 AS (
        SELECT ts, user_id FROM events
        WHERE user_id % 5 <> 0 AND ts < TIMESTAMP '$SplitDate 00:00:00'),
      f2 AS (
        SELECT ts, user_id FROM events
        WHERE user_id % 5 <> 0 AND ts >= TIMESTAMP '$SplitDate 00:00:00'),
      f3 AS (SELECT ts, user_id FROM events WHERE user_id % 5 = 0),
      wml AS (SELECT MAX(ts) - INTERVAL $DelayDays DAY AS w FROM f1),
      wmf AS (SELECT MAX(ts) - INTERVAL $DelayDays DAY AS w FROM events),
      accepted AS (
        SELECT ts, user_id FROM f1
        UNION ALL
        SELECT ts, user_id FROM f2
        UNION ALL
        SELECT f3.ts, f3.user_id FROM f3
        WHERE f3.ts >= (SELECT w FROM wml)),
      marked AS (
        SELECT user_id, ts,
          CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                    >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        FROM accepted),
      islands AS (
        SELECT user_id, ts,
          SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked),
      sessions AS (
        SELECT user_id, MIN(ts) AS session_start,
          COUNT(*) AS n_events, MAX(ts) AS last_ts,
          ROW_NUMBER() OVER (PARTITION BY user_id
                             ORDER BY MIN(ts) DESC) AS from_latest
        FROM islands GROUP BY user_id, sid)
      SELECT CAST(user_id AS BIGINT) AS user_id, session_start, n_events
      FROM sessions
      WHERE from_latest > 1
         -- millisecond-truncate to match the engine's timer unit: the
         -- GroupState timeout timestamp is ms-granular (last/1000 + gap
         -- floors sub-ms event time), so the boundary must be evaluated
         -- on the SAME truncated value or a µs-granularity last_ts near
         -- the watermark could flip the final session's emit decision
         OR date_trunc('millisecond', last_ts) + INTERVAL 30 MINUTE
            < (SELECT w FROM wmf)
      ORDER BY user_id, session_start"""),
    (s, dir) => streamTimeoutSessions(s, dir))

  /** [[runWindowed]]'s sibling for ARBITRARY KEYED STATE
    * (`flatMapGroupsWithState`): per user, carry a running event count
    * across micro-batches and emit `(user_id, cumulative)` for every
    * batch the user appears in. No watermark, `NoTimeout`: state is
    * O(|users|), the bounded-key-domain regime (endless key domains
    * take event-time timeouts — `StreamingIngest.dedupWithinWatermark`
    * is that form). What this pins is the state CARRY itself: the
    * emitted prefix sums are correct only if every batch read back
    * exactly what the previous batch committed. */
  private[graft] def runRunningCount(s: SparkSession, base: String,
      slices: Seq[DataFrame]): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    wipe(s, base)
    val dataSlices = stageSlices(s, base, slices).count(identity)
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    import ss.implicits._
    val schema = ss.read.parquet(s"$base/in").schema
    val counted = ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$base/in")
      .selectExpr("CAST(user_id AS LONG) AS user_id")
      .as[Long]
      .groupByKey(identity)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Long], state: GroupState[Long]) =>
          val cum = state.getOption.getOrElse(0L) + rows.size
          state.update(cum)
          Iterator((user, cum))
      }
      .toDF("user_id", "cum_events")
    val q = counted.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ck")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assertProgress(q, dataSlices, expectWatermark = false)
    s.read.parquet(s"$base/out")
      .orderBy(col("user_id"), col("cum_events"))
  }

  /** STREAMING SESSIONIZATION declared: `session_window` (30-minute
    * inactivity gap) per user across a three-slice arrival where the
    * holdback is WHOLE USERS (`user_id % 5 == 0`), not a time slice.
    * That containment is what keeps the oracle exact: a late row can
    * never adjoin a session that already emitted (emitted sessions end
    * ≤ the watermark, 3 days before anything in the tail, and held
    * users share no sessions with on-time users), so the final session
    * set equals a batch gaps-and-islands over the ACCEPTED rows — the
    * only watermark terms are the late filter (a row is judged by its
    * own would-be session end, `ts + gap`, against the late-event
    * watermark; empirically pinned, same probe discipline as the
    * window/dedup/join queries) and the flush (sessions whose end
    * cleared `max(all ts) − delay`). Sessions merging ACROSS arrival
    * slices (a tail row extending a pre-split session, late rows
    * bridging into islands) are exercised by construction. */
  def streamSessions(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.operators.EventOps.events(s, dir)
      .select(col("ts"), col("user_id"))
    val split = lit(java.sql.Timestamp.valueOf(s"$SplitDate 00:00:00"))
    val held = col("user_id") % 5 === 0
    val f1 = ev.filter(!held && col("ts") < split)
    val f2 = ev.filter(!held && col("ts") >= split)
    val f3 = ev.filter(held)
    runSessions(s, streamRoot("ss", dir), Seq(f1, f2, f3),
      s"$DelayDays days", "30 minutes")
  }

  /** flatMapGroupsWithState declared: the per-user running count over
    * the standard three-slice arrival. The oracle is three per-slice
    * prefix sums — for each user, one emitted row per slice they appear
    * in, carrying the cumulative count THROUGH that slice. Any state
    * loss, double-count, or replayed batch between micro-batches would
    * shift a prefix sum and break the hash. */
  def streamRunningCount(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.operators.EventOps.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"))
    val split = lit(java.sql.Timestamp.valueOf(s"$SplitDate 00:00:00"))
    val onTime = ev.filter(col("ts") < split && col("event_id") % 4 =!= 0)
    val tail = ev.filter(col("ts") >= split)
    val holdback = ev.filter(col("ts") < split && col("event_id") % 4 === 0)
    runRunningCount(s, streamRoot("st", dir), Seq(onTime, tail, holdback))
  }

  private val evStreamState = QueryDef(
    "ev_stream_running_count",
    Some(s"""
      WITH s1 AS (
        SELECT user_id, COUNT(*) AS n FROM events
        WHERE ts < TIMESTAMP '$SplitDate 00:00:00' AND event_id % 4 <> 0
        GROUP BY 1),
      s2 AS (
        SELECT user_id, COUNT(*) AS n FROM events
        WHERE ts >= TIMESTAMP '$SplitDate 00:00:00'
        GROUP BY 1),
      s3 AS (
        SELECT user_id, COUNT(*) AS n FROM events
        WHERE ts < TIMESTAMP '$SplitDate 00:00:00' AND event_id % 4 = 0
        GROUP BY 1)
      SELECT * FROM (
        SELECT user_id, n AS cum_events FROM s1
        UNION ALL
        SELECT s2.user_id, COALESCE(s1.n, 0) + s2.n
        FROM s2 LEFT JOIN s1 USING (user_id)
        UNION ALL
        SELECT s3.user_id, COALESCE(s1.n, 0) + COALESCE(s2.n, 0) + s3.n
        FROM s3 LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id))
      ORDER BY user_id, cum_events"""),
    (s, dir) => streamRunningCount(s, dir))

  private val evStreamSessions = QueryDef(
    "ev_stream_sessions",
    Some(s"""
      WITH f1 AS (
        SELECT ts, user_id FROM events
        WHERE user_id % 5 <> 0 AND ts < TIMESTAMP '$SplitDate 00:00:00'),
      f2 AS (
        SELECT ts, user_id FROM events
        WHERE user_id % 5 <> 0 AND ts >= TIMESTAMP '$SplitDate 00:00:00'),
      f3 AS (SELECT ts, user_id FROM events WHERE user_id % 5 = 0),
      wml AS (SELECT MAX(ts) - INTERVAL $DelayDays DAY AS w FROM f1),
      wmf AS (SELECT MAX(ts) - INTERVAL $DelayDays DAY AS w FROM events),
      accepted AS (
        SELECT ts, user_id FROM f1
        UNION ALL
        SELECT ts, user_id FROM f2
        UNION ALL
        SELECT f3.ts, f3.user_id FROM f3
        WHERE f3.ts + INTERVAL 30 MINUTE > (SELECT w FROM wml)),
      marked AS (
        SELECT user_id, ts,
          CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                    >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        FROM accepted),
      islands AS (
        SELECT user_id, ts,
          SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked),
      sessions AS (
        SELECT MIN(ts) AS session_start, user_id,
          COUNT(*) AS n_events, MAX(ts) AS last_ts
        FROM islands GROUP BY user_id, sid)
      SELECT session_start, user_id, n_events
      FROM sessions
      WHERE last_ts + INTERVAL 30 MINUTE <= (SELECT w FROM wmf)
      ORDER BY user_id, session_start"""),
    (s, dir) => streamSessions(s, dir))

  private val evWatermark = QueryDef(
    "ev_watermark_late",
    Some(s"""
      WITH f1 AS (
        SELECT ts, event_type FROM events
        WHERE ts < TIMESTAMP '$SplitDate 00:00:00' AND event_id % 4 <> 0),
      f2 AS (
        SELECT ts, event_type FROM events
        WHERE ts >= TIMESTAMP '$SplitDate 00:00:00'),
      f3 AS (
        SELECT ts, event_type FROM events
        WHERE ts < TIMESTAMP '$SplitDate 00:00:00' AND event_id % 4 = 0),
      wml AS (SELECT MAX(ts) - INTERVAL $DelayDays DAY AS w FROM f1),
      wmf AS (SELECT MAX(ts) - INTERVAL $DelayDays DAY AS w FROM events),
      accepted AS (
        SELECT ts, event_type FROM f1
        UNION ALL
        SELECT ts, event_type FROM f2
        UNION ALL
        SELECT f3.ts, f3.event_type FROM f3
        WHERE time_bucket(INTERVAL 1 DAY, f3.ts) + INTERVAL 1 DAY
              > (SELECT w FROM wml))
      SELECT time_bucket(INTERVAL 1 DAY, ts) AS window_start,
        event_type, COUNT(*) AS n_events
      FROM accepted
      GROUP BY 1, 2
      HAVING time_bucket(INTERVAL 1 DAY, ts) + INTERVAL 1 DAY
             <= (SELECT w FROM wmf)
      ORDER BY window_start, event_type"""),
    (s, dir) => watermarkLate(s, dir))

  /** [[runDistinctUsers]]'s STATE-TTL sibling — the third state-bounding
    * mechanism (after watermark eviction and timer eviction), and the one
    * production reaches for on unbounded key domains WITHOUT event time:
    * every state entry carries a processing-time TTL and the store
    * filters expired entries at read. TTL in transformWithState is
    * BATCH-CLOCKED (expiry timestamps derive from the micro-batch's
    * processing timestamp, and reads filter against the same clock), so
    * with a TTL smaller than every inter-batch gap — asserted from the
    * run's progress timestamps, not assumed — the semantics are
    * deterministic: an entry written in batch N is expired for every
    * later batch, and can never expire within its own batch.
    *
    * The processor splits the two regimes across two states: the
    * seen-user MapState carries the finite TTL (all entries expired by
    * the next batch — a re-arriving user RE-COUNTS), while the running
    * total keeps TTLConfig.NONE (survives every batch). Each emitted row
    * then pins both at once: `n_batch_users` = the batch's own distinct
    * users (a surviving seen-entry would shrink it — TTL failed to
    * expire), `n_cumulative` = the running sum of per-batch distincts (a
    * counter lost to spurious expiry breaks accumulation). Contrast with
    * [[evStreamDistinct]] (same arrival, TTLConfig.NONE on the
    * seen-set): there a re-arrival is suppressed forever — the two
    * declared hashes differ exactly by TTL expiry. */
  private[graft] val TtlMs = 1L

  /** Sentinel event type the TTL-retention warmup batch runs under —
    * no real event carries it, so the warmup's state and its single
    * emitted row never touch a measured group. */
  private[graft] val TtlWarmupType = "zzz_warmup"

  private class TtlDistinctUsersProcessor(ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long), (String, Long, Long)] {
    import org.apache.spark.sql.{Encoders, streaming => st}
    @transient private var seen: st.MapState[Long, Boolean] = _
    @transient private var total: st.ValueState[Long] = _
    override def init(outputMode: st.OutputMode, timeMode: st.TimeMode): Unit = {
      seen = getHandle.getMapState[Long, Boolean]("seen",
        Encoders.scalaLong, Encoders.scalaBoolean,
        st.TTLConfig(java.time.Duration.ofMillis(ttlMs)))
      total = getHandle.getValueState[Long]("total",
        Encoders.scalaLong, st.TTLConfig.NONE)
    }
    override def handleInputRows(key: String, rows: Iterator[(String, Long)],
        tv: st.TimerValues): Iterator[(String, Long, Long)] = {
      // intra-batch dedup in MEMORY: each distinct user probes RocksDB
      // exactly once per batch (cost O(batch distincts)); expiry is
      // batch-clocked, so this batch's own writes are never expired for
      // this batch's probes whatever wall time the batch takes
      val batchUsers = scala.collection.mutable.LinkedHashSet.empty[Long]
      rows.foreach(r => batchUsers += r._2)
      var fresh = 0L
      batchUsers.foreach { u =>
        if (!seen.containsKey(u)) fresh += 1
        seen.updateValue(u, true)
      }
      val cum = (if (total.exists()) total.get() else 0L) + fresh
      total.update(cum)
      Iterator.single((key, fresh, cum))
    }
  }

  /** Unlike every other harness here, this one cannot ride
    * `Trigger.AvailableNow` + `awaitTermination`: a
    * `TimeMode.ProcessingTime` transformWithState keeps constructing
    * housekeeping micro-batches forever (each advances the processing-
    * time clock for TTL eviction — measured: thousands of batches, the
    * query never self-terminates, and `processAllAvailable` never
    * latches because "no new data" is never reached). The run is
    * bounded from the OUTPUT side instead: a
    * [[org.apache.spark.sql.streaming.StreamingQueryListener]] counts
    * data-carrying batches (progress events fire after the batch
    * commits, so the sink rows are durable), and the harness stops the
    * query once all staged files have been processed — or fails loudly
    * on a bounded deadline if Spark's file-admission scheduling
    * drifted. Housekeeping batches emit nothing and touch no counted
    * state, so the output is the same deterministic function of the
    * data batches. */
  private[graft] def runTtlDistinct(s: SparkSession, base: String,
      slices: Seq[DataFrame]): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener, TimeMode}
    wipe(s, base)
    val dataSlices = stageSlices(s, base, slices).count(identity)
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import ss.implicits._
    val qName = s"graft_ttl_${java.util.UUID.randomUUID().toString.take(8)}"
    val stamps = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == qName && e.progress.numInputRows > 0)
          stamps.add(java.time.Instant.parse(e.progress.timestamp).toEpochMilli)
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    ss.streams.addListener(listener)
    try {
      val schema = ss.read.parquet(s"$base/in").schema
      val counted = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$base/in")
        .selectExpr("event_type", "CAST(user_id AS LONG) AS user_id")
        .as[(String, Long)]
        .groupByKey(_._1)
        .transformWithState(new TtlDistinctUsersProcessor(TtlMs),
          TimeMode.ProcessingTime(), OutputMode.Append())
        .toDF("event_type", "n_batch_users", "n_cumulative")
      val q = counted.writeStream
        .queryName(qName)
        .outputMode("append")
        .format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ck")
        .trigger(Trigger.ProcessingTime("1 second"))
        .start()
      // the drain bound must scale with input (this harness rides the
      // scale curve at 10-30x data) and is env-overridable for unusual
      // hosts; hitting it is reported as a TIMEOUT, not misattributed
      // to admission scheduling
      val drainSecs = sys.env.getOrElse("SPARK_GRAFT_TTL_DRAIN_SECS", "600").toLong
      var timedOut = false
      try {
        // wait until every staged file has ridden a committed data
        // batch (listener fires post-commit); bounded, never forever
        val deadline = System.nanoTime() + drainSecs * 1000 * 1000 * 1000
        while (stamps.size < dataSlices && q.isActive &&
            System.nanoTime() < deadline)
          Thread.sleep(100)
        timedOut = stamps.size < dataSlices && System.nanoTime() >= deadline
      } finally { q.stop(); q.awaitTermination() }
      require(!timedOut,
        s"TTL harness drain exceeded $drainSecs s with ${stamps.size} of " +
          s"$dataSlices data batches committed — raise " +
          "SPARK_GRAFT_TTL_DRAIN_SECS for this data size")
      require(stamps.size == dataSlices,
        s"oracle assumes $dataSlices one-file data micro-batches " +
          s"(maxFilesPerTrigger=1 admission), observed ${stamps.size} — " +
          "Spark's file-admission scheduling drifted; re-derive the oracle")
      // the one scheduling fact the oracle bakes in beyond the batch
      // count: every inter-batch gap exceeds the TTL (batch-clocked
      // expiry), so every prior batch's seen-entries are expired at
      // probe time. A violation fails LOUDLY here instead of
      // hash-mismatching at the driver.
      val ts = {
        val it = stamps.iterator(); val b = Seq.newBuilder[Long]
        while (it.hasNext) b += it.next()
        b.result().sorted
      }
      require(ts.zip(ts.drop(1)).forall { case (a, b) => b - a > TtlMs },
        s"oracle assumes every inter-batch gap exceeds the $TtlMs ms state " +
          s"TTL; observed batch timestamps $ts")
    } finally ss.streams.removeListener(listener)
    s.read.parquet(s"$base/out")
      .orderBy(col("event_type"), col("n_cumulative"))
  }

  /** State-TTL transformWithState declared: the standard three-slice
    * arrival; one emitted row per (type, batch) carrying that batch's
    * own distinct-user count (the TTL'd seen-set observes every prior
    * entry expired) and the running sum of those counts (the TTL-free
    * counter). A seen-entry surviving past its TTL shrinks a batch
    * count; a counter lost to spurious expiry breaks the running sum;
    * either breaks the hash. */
  def streamTtlDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.operators.EventOps.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val split = lit(java.sql.Timestamp.valueOf(s"$SplitDate 00:00:00"))
    val onTime = ev.filter(col("ts") < split && col("event_id") % 4 =!= 0)
    val tail = ev.filter(col("ts") >= split)
    val holdback = ev.filter(col("ts") < split && col("event_id") % 4 === 0)
    runTtlDistinct(s, streamRoot("tt", dir), Seq(onTime, tail, holdback))
  }

  private val evStreamTtl = QueryDef(
    "ev_stream_ttl",
    Some(s"""
      WITH pres AS (
        SELECT 1 AS sl, event_type, user_id FROM events
        WHERE ts < TIMESTAMP '$SplitDate 00:00:00' AND event_id % 4 <> 0
        UNION ALL
        SELECT 2, event_type, user_id FROM events
        WHERE ts >= TIMESTAMP '$SplitDate 00:00:00'
        UNION ALL
        SELECT 3, event_type, user_id FROM events
        WHERE ts < TIMESTAMP '$SplitDate 00:00:00' AND event_id % 4 = 0),
      perb AS (
        SELECT sl, event_type,
          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_batch_users
        FROM pres GROUP BY 1, 2)
      SELECT event_type, n_batch_users,
        CAST(SUM(n_batch_users) OVER (
          PARTITION BY event_type ORDER BY sl) AS BIGINT) AS n_cumulative
      FROM perb
      ORDER BY event_type, n_cumulative"""),
    (s, dir) => streamTtlDistinct(s, dir))

  /** MID-BAND TTL — the RETENTION half [[runTtlDistinct]]'s `TtlMs = 1`
    * all-expire corner can't pin: an entry must SURVIVE one inter-batch
    * gap (a next-batch re-arrival is suppressed) and EXPIRE by a later
    * batch (a re-arrival two batches on re-counts). The TTL sits
    * between the observed gaps — and the harness ASSERTS the straddle
    * (gap₁ < TTL − margin, t₃ − t₁ > TTL + margin) from the run's own
    * progress timestamps rather than assuming the scheduler, the
    * `runTtlDistinct` discipline. The gaps are CONTROLLED from the
    * staging side: a sentinel-type WARMUP batch rides the stream's
    * cold-start cost first (~5 s measured on a first data batch vs
    * ~1 s warm — without it gap₁ blows the band on every run), batches
    * 1 and 2's files are staged upfront so gap₁ is just warm batch
    * duration + trigger cadence (one file admitted per trigger), and
    * batch 3's file is HELD until `t₁ + TTL + slack`
    * has passed (large cumulative gap). The arrival
    * slices keep batch 3's users DISJOINT from batch 2's, so batch-2
    * writes (whose expiry vs t₃ the straddle does not determine) are
    * never probed — every batch-3 outcome is decided solely by the
    * batch-1 entries the asserted elapsed time proves expired.
    *
    * `SPARK_GRAFT_TTL2_MS` tunes the band for slow hosts / scale runs;
    * the ORACLE is TTL-value-independent —
    * it bakes only the suppressed/re-counted pattern the asserted
    * straddle makes inevitable. That independence is also the load
    * defense: a band the run can't prove (a load spike stretching the
    * warm gap) RETRIES from scratch with the band doubled, up to
    * three attempts, so a correctness run never fails over scheduling
    * jitter — only a drain timeout or three straight misses fail,
    * loudly. */
  private[graft] def runTtlRetention(s: SparkSession, base: String,
      slices: Seq[DataFrame]): DataFrame = {
    require(slices.size == 3, "the retention protocol is three-batch")
    // band override order: system property (ScaleCurve widens it per
    // multiplier — batch durations grow with data) > env > default.
    // The TTL is a FREE parameter of the protocol — the oracle bakes
    // only the suppressed/re-counted pattern, valid for any band whose
    // straddle the run proves — so a band miss under host load retries
    // with the band DOUBLED (fresh checkpoint, fresh output) instead of
    // failing a correctness run over scheduling jitter. Only a drain
    // timeout (host pathology) or exhausted retries fail hard.
    val ttl0 = sys.props.get("graft.ttl2.ms")
      .orElse(sys.env.get("SPARK_GRAFT_TTL2_MS")).map(_.toLong)
      .getOrElse(2000L)
    var attempt = 0
    var lastWhy = ""
    while (attempt < 3) {
      val band = ttl0 << attempt
      ttlRetentionOnce(s, base, slices, band) match {
        case None =>
          return s.read.parquet(s"$base/out")
            .orderBy(col("event_type"), col("n_cumulative"),
              col("n_batch_users"))
        case Some(why) =>
          lastWhy = why
          println(s"[ttl2] band $band ms not proven ($why) — " +
            s"retrying with ${band * 2} ms")
          attempt += 1
      }
    }
    throw new IllegalStateException(
      s"TTL-retention straddle unprovable after 3 widening attempts " +
        s"(last: $lastWhy) — host too loaded; raise SPARK_GRAFT_TTL2_MS")
  }

  /** One attempt at the retention protocol under `ttlMs`. Returns None
    * on success (output durable under `base/out`), Some(reason) when
    * the observed timestamps fail to prove the straddle the oracle
    * bakes in — retryable, since nothing was emitted to a shared sink
    * and the caller rebuilds from scratch. */
  private def ttlRetentionOnce(s: SparkSession, base: String,
      slices: Seq[DataFrame], ttlMs: Long): Option[String] = {
    import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener, TimeMode}
    wipe(s, base)
    // The straddle compares TRIGGER timestamps because that is the
    // clock TTL state actually runs on: a `TimeMode.ProcessingTime`
    // transformWithState pins `batchTimestampMs` — the trigger's
    // timestamp, the same instant `StreamingQueryProgress.timestamp`
    // reports — for the WHOLE batch, stamping writes with
    // `batchTimestampMs + ttl` and checking reads against
    // `batchTimestampMs` (Spark's MapStateImplWithTTL holds it as a
    // per-batch field; StateTTL.isExpired is `current >= expiration`).
    // So batch DURATIONS are irrelevant to expiry — a batch slower
    // than any margin cannot move its state ops off its trigger stamp
    // — and the margins below absorb only the boundary semantics and
    // listener-delivery skew, not execution time. (A wall-clocked TTL
    // would need batch-END bounds here; this assert is deliberately
    // specific to the batch-clocked implementation and the suite's
    // TtlClockSpec pins that semantic so an upstream change fails the
    // build, not the hash.)
    val skewMs = 100L
    val drainSecs = sys.env.getOrElse("SPARK_GRAFT_TTL_DRAIN_SECS", "600").toLong
    // A WARMUP batch rides the stream's cold-start cost (state-store
    // init, source listing, sink setup, codegen — measured ~5 s on the
    // first data batch vs ~1 s steady-state), so gap₁ is measured
    // between two WARM batches and the band holds at its steady-state
    // width. The warmup rows use a sentinel type no event carries, so
    // their state touches no measured group; the oracle carries their
    // one emitted row explicitly.
    val warm = slices(0).limit(1)
      .withColumn("event_type", lit(TtlWarmupType))
      .withColumn("user_id", col("user_id") * 0 - 1)
    stageFile(s, warm, s"$base/stagew", f"$base/in/0000.parquet", 50000L)
    // slices 0 AND 1 staged upfront (mtime-ordered; maxFilesPerTrigger=1
    // still admits exactly one per trigger), so gap₁ is just warm batch
    // duration + trigger cadence — NOT the staging write, which at
    // larger data sizes dominated the gap and forced a wide band. Only
    // batch 3's file is held back (the large-gap control). Measured at
    // sf0.1: gap₁ ~0.7–1.5 s staged-upfront vs 1.2–3.5 s staged-on-
    // commit — what lets the default band sit at 2 s instead of 4 s.
    stageFile(s, slices(0), s"$base/stage0", f"$base/in/0001.parquet", 100000L)
    stageFile(s, slices(1), s"$base/stage1", f"$base/in/0002.parquet", 200000L)
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import ss.implicits._
    val qName = s"graft_ttl2_${java.util.UUID.randomUUID().toString.take(8)}"
    // trigger-start millis per data batch — the very clock TTL expiry
    // runs on (see the batch-clocked note above)
    val stamps = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == qName && e.progress.numInputRows > 0)
          stamps.add(java.time.Instant.parse(e.progress.timestamp).toEpochMilli)
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    ss.streams.addListener(listener)
    try {
      val schema = ss.read.parquet(s"$base/in").schema
      val counted = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$base/in")
        .selectExpr("event_type", "CAST(user_id AS LONG) AS user_id")
        .as[(String, Long)]
        .groupByKey(_._1)
        .transformWithState(new TtlDistinctUsersProcessor(ttlMs),
          TimeMode.ProcessingTime(), OutputMode.Append())
        .toDF("event_type", "n_batch_users", "n_cumulative")
      val q = counted.writeStream
        .queryName(qName)
        .outputMode("append")
        .format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ck")
        .trigger(Trigger.ProcessingTime("250 milliseconds"))
        .start()
      def awaitBatches(n: Int): Unit = {
        val deadline = System.nanoTime() + drainSecs * 1000L * 1000 * 1000
        while (stamps.size < n && q.isActive && System.nanoTime() < deadline)
          Thread.sleep(50)
        require(stamps.size >= n,
          s"TTL-retention harness: batch $n not committed within " +
            s"$drainSecs s (${stamps.size} committed) — raise " +
            "SPARK_GRAFT_TTL_DRAIN_SECS for this data size")
      }
      try {
        awaitBatches(3) // warmup + slices 0 and 1 committed
        val t1 = {
          val it = stamps.iterator(); it.next(); it.next() // skip warmup
        }
        // hold batch 3 until its TRIGGER stamp must land past t₁ + TTL
        // (the batch-clocked expiry needs nothing more); the slack
        // covers the trigger cadence plus the skew margin
        val wakeAt = t1 + ttlMs + 400L
        val sleepMs = wakeAt - System.currentTimeMillis()
        if (sleepMs > 0) Thread.sleep(sleepMs)
        stageFile(s, slices(2), s"$base/stage2",
          f"$base/in/0003.parquet", 300000L)
        awaitBatches(4)
      } finally { q.stop(); q.awaitTermination() }
      // the straddle the oracle bakes in, proven on the trigger clock
      // TTL expiry actually reads (see the batch-clocked note above):
      // batch-1 entries RETAINED at batch 2 (gap₁ < TTL) and EXPIRED
      // at batch 3 (t₃ − t₁ ≥ TTL); ts(0) is the warmup batch, outside
      // the measured band. A miss is returned (not thrown) — the
      // caller retries with a wider band.
      val ts = {
        val it = stamps.iterator(); val b = Seq.newBuilder[Long]
        while (it.hasNext) b += it.next()
        b.result().sorted
      }
      if (ts.size != 4)
        return Some(s"expected 4 one-file data micro-batches " +
          s"(warmup + 3), observed ${ts.size}")
      if (ts(2) - ts(1) >= ttlMs - skewMs)
        return Some(s"RETAINED-at-batch-2 unproven: gap₁ = " +
          s"${ts(2) - ts(1)} ms, needed < ${ttlMs - skewMs} ms under " +
          s"the $ttlMs ms TTL")
      if (ts(3) - ts(1) <= ttlMs + skewMs)
        return Some(s"EXPIRED-at-batch-3 unproven: t₃ − t₁ = " +
          s"${ts(3) - ts(1)} ms, needed > ${ttlMs + skewMs} ms")
      println(s"[ttl2] straddle proven at band $ttlMs ms: gap₁ = " +
        s"${ts(2) - ts(1)} ms, t₃ − t₁ = ${ts(3) - ts(1)} ms")
      None
    } finally ss.streams.removeListener(listener)
  }

  /** Mid-band TTL declared: user-class slices S1 = {1,2}, S2 = {2,3},
    * S3 = {1,0} (mod 4) — the %4==2 users re-arriving in batch 2 are
    * SUPPRESSED (their batch-1 entries survived gap₁ < TTL), the %4==1
    * users re-arriving in batch 3 RE-COUNT (their entries expired,
    * t₃ − t₁ > TTL), and batch 3 shares no users with batch 2, so the
    * undetermined batch-2-entry expiry never decides an output row. */
  def streamTtlRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.operators.EventOps.events(s, dir)
      .select(col("ts"), col("user_id"), col("event_type"))
    val u = col("user_id") % 4
    runTtlRetention(s, streamRoot("t2", dir), Seq(
      ev.filter(u === 1 || u === 2),
      ev.filter(u === 2 || u === 3),
      ev.filter(u === 1 || u === 0)))
  }

  private val evStreamTtl2 = QueryDef(
    "ev_stream_ttl2",
    Some(s"""
      WITH pres AS (
        SELECT 1 AS sl, event_type, user_id FROM events
        WHERE user_id % 4 IN (1, 2)
        UNION ALL
        SELECT 2, event_type, user_id FROM events
        WHERE user_id % 4 IN (2, 3)
        UNION ALL
        SELECT 3, event_type, user_id FROM events
        WHERE user_id % 4 IN (1, 0)),
      perb AS (
        SELECT DISTINCT sl, event_type, user_id FROM pres),
      -- one emitted row per (batch, type) WITH ARRIVALS — the engine's
      -- processor emits even when every arrival was suppressed, so a
      -- zero-fresh batch must appear as an explicit 0, not a missing row
      arr AS (SELECT DISTINCT sl, event_type FROM perb),
      -- the TTL algebra the asserted straddle makes deterministic:
      -- batch 2 still sees batch 1's entries (suppressed re-arrivals);
      -- batch 3 no longer does (everyone counts fresh)
      freshn AS (
        SELECT sl, event_type, COUNT(*) AS n
        FROM perb p
        WHERE p.sl = 1
           OR p.sl = 3
           OR (p.sl = 2 AND NOT EXISTS (
                 SELECT 1 FROM perb q
                 WHERE q.sl = 1 AND q.event_type = p.event_type
                   AND q.user_id = p.user_id))
        GROUP BY 1, 2),
      fresh AS (
        SELECT a.sl, a.event_type,
          CAST(COALESCE(f.n, 0) AS BIGINT) AS n_batch_users
        FROM arr a LEFT JOIN freshn f
          ON f.sl = a.sl AND f.event_type = a.event_type)
      SELECT event_type, n_batch_users, n_cumulative FROM (
        SELECT event_type, n_batch_users,
          CAST(SUM(n_batch_users) OVER (
            PARTITION BY event_type ORDER BY sl) AS BIGINT) AS n_cumulative
        FROM fresh
        UNION ALL
        -- the harness's warmup batch: one sentinel-type row (see
        -- runTtlRetention — it rides the stream's cold-start cost so
        -- the asserted gap band is measured between WARM batches)
        SELECT '$TtlWarmupType', CAST(1 AS BIGINT), CAST(1 AS BIGINT))
      ORDER BY event_type, n_cumulative, n_batch_users"""),
    (s, dir) => streamTtlRetention(s, dir))

  /** CHAINED STATEFUL OPERATORS — `dropDuplicatesWithinWatermark` →
    * watermarked windowed count in ONE streaming query, the production
    * dedup-then-aggregate gold shape (Spark 4 multi-stateful-operator
    * support). Each half's algebra is already declared in isolation
    * ([[evStreamDedup]], the windowed `ev_watermark_late`); what this
    * query pins is the INTER-OPERATOR propagation: the upstream dedup's
    * ROW-level late filter (`ts >= late watermark`) gates what reaches
    * the window, so a late row whose 1-day window is still open but
    * whose own ts has fallen behind the watermark — accepted by the
    * window-only query — is dropped here, and planted re-arrivals are
    * swallowed by dedup state before they can inflate a window count.
    * The dedup stage adds no event-time delay (output rows keep their
    * ts), so the downstream flush term is the plain
    * `window_end <= final watermark` the windowed query pins. */
  private[graft] def runChained(s: SparkSession, base: String,
      slices: Seq[DataFrame], delay: String): DataFrame = {
    wipe(s, base)
    val dataSlices = stageSlices(s, base, slices).count(identity)
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val schema = ss.read.parquet(s"$base/in").schema
    val agg = ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$base/in")
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"))
    val q = agg.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ck")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assertProgress(q, dataSlices)
    s.read.parquet(s"$base/out")
      .orderBy(col("window_start"), col("event_type"))
  }

  /** Same arrival sequence as [[streamDedup]] — planted re-arrivals and
    * all — so the chained query pins dedup suppression AND window
    * finalization on one stream. */
  def streamChained(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.operators.EventOps.events(s, dir)
      .select(col("event_id"), col("ts"), col("event_type"))
    val split = lit(java.sql.Timestamp.valueOf(s"$SplitDate 00:00:00"))
    val onTime = ev.filter(col("ts") < split && col("event_id") % 4 =!= 0)
    val slice2 = ev.filter(col("ts") >= split)
      .unionByName(onTime.filter(col("event_id") % 16 === 1))
    val slice3 = ev.filter(col("ts") < split && col("event_id") % 4 === 0)
      .unionByName(onTime.filter(col("event_id") % 16 === 5))
    runChained(s, streamRoot("ch", dir), Seq(onTime, slice2, slice3),
      s"$DelayDays days")
  }

  private val evStreamChained = QueryDef(
    "ev_stream_chained",
    Some(s"""
      WITH f1 AS (
        SELECT event_id, ts, event_type FROM events
        WHERE ts < TIMESTAMP '$SplitDate 00:00:00' AND event_id % 4 <> 0),
      f2 AS (
        SELECT event_id, ts, event_type FROM events
        WHERE ts >= TIMESTAMP '$SplitDate 00:00:00'),
      f3 AS (
        SELECT event_id, ts, event_type FROM events
        WHERE ts < TIMESTAMP '$SplitDate 00:00:00' AND event_id % 4 = 0),
      wml AS (SELECT MAX(ts) - INTERVAL $DelayDays DAY AS w FROM f1),
      wmf AS (SELECT MAX(ts) - INTERVAL $DelayDays DAY AS w FROM events),
      -- dedup survivors: re-arrivals suppressed (never in these CTEs),
      -- late first-arrivals gated by their OWN ts against the lagging
      -- late-event watermark — the ROW-level filter the upstream
      -- stateful operator applies before the window ever sees the row
      surv AS (
        SELECT ts, event_type FROM f1
        UNION ALL
        SELECT ts, event_type FROM f2
        UNION ALL
        SELECT f3.ts, f3.event_type FROM f3
        WHERE f3.ts >= (SELECT w FROM wml))
      SELECT time_bucket(INTERVAL 1 DAY, ts) AS window_start,
        event_type, COUNT(*) AS n_events
      FROM surv
      GROUP BY 1, 2
      HAVING time_bucket(INTERVAL 1 DAY, ts) + INTERVAL 1 DAY
             <= (SELECT w FROM wmf)
      ORDER BY window_start, event_type"""),
    (s, dir) => streamChained(s, dir))

  override val defs: Seq[QueryDef] = Seq(evWatermark, evStreamDedup,
    evStreamJoin, evStreamOuterJoin, evStreamSessions, evStreamTimeout,
    evStreamState, evStreamGold, evStreamDistinct, evStreamBootstrap,
    evStreamTtl, evStreamTtl2, evStreamChained)
}
