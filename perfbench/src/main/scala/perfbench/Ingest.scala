package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.etl.{DataQuality, ManifestTable}
import graft.streaming.ContinuousIngest

/** Continuous ingest, one batch at a time: a batch file lands in the
  * source directory and [[ContinuousIngest.start]] drains it (all six
  * serving artifacts, batch checks on). The batch is queryable when
  * [[ManifestTable.read]] returns its rows, which a poller watches for; it
  * is done when the stream has finished every index leg. Set-up drains the
  * cold batch; the timed part drains every generated warm batch, in order,
  * whatever `--seconds` says, so a run's work does not depend on the speed
  * it measures. Maintenance runs every 8 batches, as `ContinuousIngestMain`
  * configures it, so a run of a cold and two warm batches does not reach
  * it: with it, one run would take about 15 s more (see README). */
object Ingest {
  val CompactEvery = 8

  final case class Paths(root: Path) {
    val src: Path = root.resolve("src")
    val corpus: String = root.resolve("corpus").toString
    val checkpoint: String = root.resolve("checkpoint").toString
    val ivf: String = root.resolve("ivf").toString
  }

  def config(p: Paths): ContinuousIngest.Config = ContinuousIngest.Config(
    corpusPath = p.corpus, indexName = "pb_mh", compactEvery = CompactEvery,
    textIndexName = Some("pb_ti"), annIndexName = Some("pb_ann"),
    ivfIndexPath = Some(p.ivf), chunkIndexName = Some("pb_ck"),
    sketchName = Some("pb_cms"),
    batchChecks = Seq(
      DataQuality.Completeness("text", "batch.text"),
      DataQuality.NonNegative("n_chars", "batch.n_chars")))

  /** Sizes of every file under the corpus, the index warehouse and the
    * IVF directory: what the pipeline stores. */
  def stored(ctx: Ctx, p: Paths): Map[String, Long] =
    Seq(Path.of(p.corpus), ctx.work.resolve("warehouse"), Path.of(p.ivf))
      .filter(Files.exists(_)).flatMap { d =>
        val s = Files.walk(d)
        try s.iterator().asScala.filter(Files.isRegularFile(_))
          .map(f => f.toString -> Files.size(f)).toList
        finally s.close()
      }.toMap

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val in = ctx.work.resolve("batches")
    val p = Paths(ctx.work.resolve("ingest"))
    Files.createDirectories(p.src)
    val setup = scala.collection.mutable.LinkedHashMap[String, Double]()
    setup("session_ms") = Main.now / 1e6
    val schema = spark.read.parquet(in.resolve("cold.parquet").toString).schema
    val cfg = config(p)
    Leaks.baseline(spark)

    def corpusRows(): Array[org.apache.spark.sql.Row] =
      ManifestTable.read(spark, p.corpus).select("doc_id", "text").collect()

    // what a batch stores and accepts is read between batches, outside the
    // timed operations, and only in traced runs, where it feeds the
    // commit.* and ingest.accept* metrics
    var corpusCount = 0L
    var corpusTextBytes = 0L
    def drain(file: String, id: String, kind: String, arrived: Long): Op = {
      val before = if (ctx.tracer.isDefined) stored(ctx, p) else Map.empty[String, Long]
      val v0 = ManifestTable.currentSnapshot(spark, p.corpus).map(_.version)
      val o = ctx.op(id, kind) {
        val landed = System.nanoTime()
        Files.move(in.resolve(file), p.src.resolve(file), StandardCopyOption.ATOMIC_MOVE)
        // queryable: the first commit after the landing, read back
        val done = new java.util.concurrent.atomic.AtomicBoolean(false)
        val queryable = new java.util.concurrent.atomic.AtomicLong(-1L)
        val poller = new Thread(() => {
          while (!done.get && queryable.get < 0) {
            if (ManifestTable.currentSnapshot(spark, p.corpus).map(_.version) != v0) {
              ManifestTable.read(spark, p.corpus).select("doc_id").collect()
              queryable.set(System.nanoTime())
            } else Thread.sleep(20)
          }
        })
        poller.start()
        val q = ContinuousIngest.start(spark,
          spark.readStream.schema(schema).parquet(p.src.toString), p.checkpoint, cfg)
        try q.awaitTermination() finally { done.set(true); poller.join() }
        val finished = System.nanoTime()
        Map("queryable_ms" -> ((if (queryable.get < 0) finished else queryable.get) - landed) / 1e6)
      }
      if (ctx.tracer.isEmpty) o.copy(extra = o.extra + ("arrived" -> arrived.toDouble))
      else {
        val rows = corpusRows()
        val count = rows.length.toLong
        val text = rows.map(r => r.getString(1).length.toLong).sum
        val written = stored(ctx, p).collect {
          case (f, n) if !before.get(f).contains(n) => n
        }.sum
        val out = o.copy(extra = o.extra ++ Map(
          "arrived" -> arrived.toDouble,
          "accepted" -> (count - corpusCount).toDouble,
          "accepted_text_bytes" -> (text - corpusTextBytes).toDouble,
          "bytes_written" -> written.toDouble))
        corpusCount = count
        corpusTextBytes = text
        out
      }
    }

    def docs(file: String): Long = spark.read.parquet(in.resolve(file).toString).count()
    val warm = Files.list(in).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("warm")).toSeq.sorted
    val warmDocs = warm.map(docs)
    // the cold batch (batch 0) builds the corpus and all six artifacts and
    // is the warm-up
    val tc = Main.now
    val cold = drain("cold.parquet", "cold", "cold", docs("cold.parquet"))
    setup("cold_ms") = (Main.now - tc) / 1e6
    setup("warmup_failed") = if (cold.ok) 0 else 1
    if (!cold.ok) System.err.println(s"[perfbench] cold: ${cold.error}")

    // timed: every warm batch once, in order; batch ids continue from the
    // cold one
    val timedStart = Main.now
    val ops = warm.zip(warmDocs).zipWithIndex.map { case ((f, n), i) =>
      drain(f, s"b${i + 1}", "warm", n)
    }
    val timedEnd = Main.now
    checks(ctx, p)
    val bytes = stored(ctx, p).values.sum
    Result(setup.toMap, ops, timedStart, timedEnd, Map("stored_bytes" -> bytes.toDouble))
  }

  /** Facts for the ingest checks, computed from the committed state after
    * the run: the corpus ids and, for every index family, the ids it
    * covers; the sketch's per-row mass against the corpus token count;
    * the batch gate's verdicts. */
  def checks(ctx: Ctx, p: Paths): Unit = {
    val spark = ctx.spark
    val corpus = ManifestTable.read(spark, p.corpus)
    def ids(df: org.apache.spark.sql.DataFrame): String =
      Json.arr(df.distinct().collect().map(_.getLong(0).toString).sorted)
    // the chunk index packs (doc, chunk) into doc * 1,000,000 + chunk
    val span = 1000000L
    val tokens = corpus.select(explode(graft.operators.DedupOps.tokens(col("text")))).count()
    val masses = spark.table("pb_cms_cells").groupBy(col("i")).agg(sum(col("c")))
      .collect().map(_.getLong(1))
    val json = Json.obj(Seq(
      "corpus" -> Json.arr(corpus.select(col("doc_id").cast("long")).collect()
        .map(_.getLong(0).toString)),
      "minhash" -> ids(spark.table("pb_mh_sizes").select(col("doc_id").cast("long"))),
      "bm25" -> ids(spark.table("pb_ti_doclens").select(col("doc_id").cast("long"))),
      "ann" -> ids(spark.table("pb_ann_vectors").select(col("vec_id").cast("long"))),
      "ivf" -> ids(spark.read.parquet(p.ivf).select(col("vec_id").cast("long"))),
      "chunk" -> ids(spark.table("pb_ck_vectors")
        .select(floor(col("vec_id") / span).cast("long"))),
      "corpus_tokens" -> tokens.toString,
      // the batch gate's verdicts, one row per (batch, check), from the
      // report table the pipeline publishes beside the corpus
      "gate" -> Json.arr(ManifestTable.read(spark, p.corpus + "_dq")
        .filter(col("scope") === "batch")
        .select(concat_ws(":", col("batch_id"), col("check_name"), col("passed").cast("string")))
        .collect().map(_.getString(0)).sorted.map(Json.str)),
      "sketch_row_mass" -> Json.arr(masses.map(_.toString))))
    Files.writeString(ctx.work.resolve("ingest_check.json"), json)
  }
}
