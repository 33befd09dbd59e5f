package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, ShortType, StructType}

/** Manifest-committed, date-partitioned parquet table — the ATOMIC
  * multi-partition merge [[graft.streaming.StreamingIngest.mergeIntoDatePartitioned]]
  * cannot give: that path swaps each `part_year=` dir independently, so a
  * crash mid-loop leaves the table mixed (some partitions new, some old).
  * Here the unit of visibility is one manifest FILE, so readers see every
  * partition at the same version or none of them.
  *
  * Layout:
  * {{{
  *   <base>/data/v00007-4f2a91c0/part_year=2023/...  # staged+committed by writer of commit 7
  *   <base>/data/v00003-0b7de215/part_year=2022/...  # untouched since commit 3
  *   <base>/_manifests/v00007.txt   # "#schema\t{...}" + "2023\tv00007-4f2a91c0" / "2022\tv00003-0b7de215"
  * }}}
  *
  * Protocol (optimistic concurrency; the snapshot/manifest shape is the
  * public Iceberg/Delta design, re-derived on raw Hadoop FS):
  *  1. STAGE: write the merged rows of every TOUCHED partition under a
  *     fresh `data/v<N>-<token>/` root — one distributed partitioned
  *     write. The per-attempt token means concurrent stagers of the same
  *     next version NEVER share a dir, so neither can clobber the
  *     other's staged files. Nothing references these dirs yet; a crash
  *     leaves invisible garbage, never a mixed table ([[vacuum]] removes
  *     stage dirs once a later commit raises the committed ceiling past
  *     their version, and leaves above-ceiling dirs alone so an
  *     in-flight stage can never be deleted out from under its writer).
  *  2. COMMIT: re-read the committed ceiling; if it reached the staged
  *     version, another writer won the race — abort loudly with
  *     [[ConcurrentCommitException]] (re-stage against the new snapshot
  *     to retry) instead of last-write-wins losing their update. Then
  *     write the new manifest (touched partitions → v<N>-<token>,
  *     untouched → their previous dirs, carried forward without any data
  *     movement) to a dot-tmp file, then ONE rename to
  *     `_manifests/v<N>.txt`. A file rename is atomic on HDFS/POSIX —
  *     readers resolve the highest manifest and see all-old or all-new.
  *     On S3-like stores without atomic rename the rename step needs a
  *     commit lock/service, exactly as Delta documents — same caveat,
  *     same fix.
  *
  * SCHEMA EVOLUTION: each manifest records its snapshot's data schema
  * (one `#schema` header line). A merge whose batch adds columns widens
  * the recorded schema (old partitions read as null there — the
  * crawler-inferred drifting-schema case the reference's Glue catalog
  * produces, `data-lake-stack.yml:218-276`, `BronzeIngestUsers.py:71`);
  * a batch missing columns gets them as nulls. Readers and merges read
  * every partition dir WITH the recorded schema, so old and new dirs
  * align by construction — and time travel returns each version under
  * the schema IT recorded, not today's.
  *
  * Readers ([[read]]) union the manifest's partition dirs, restoring
  * `part_year` as a literal per branch — Catalyst constant-folds a
  * `part_year = X` filter against each literal and prunes non-matching
  * branches at PLAN time, so manifest tables keep partition-pruned scans
  * (spec-asserted). Cost per merge stays O(touched partitions).
  *
  * ROW DELETES, both lakehouse flavors: [[deleteWhere]] is
  * copy-on-write (matching partitions rewritten — right for dense
  * deletes); [[deleteWhereMoR]] is merge-on-read equality deletes
  * (Iceberg v2's public design) — key tuples pend in `data/d<N>-<tok>/`
  * dirs named by a `#deletes` manifest header, every content read
  * anti-joins them away, and the next merge/compaction touching their
  * partitions folds them into the data (see the method doc for the
  * resurrection and stats-soundness contracts).
  */
object ManifestTable {

  /** A commit lost the optimistic-concurrency race: another writer
    * committed at or past the staged version. The staged data dirs are
    * untouched garbage (vacuumed later); re-stage against the current
    * snapshot and retry. */
  final class ConcurrentCommitException(msg: String)
      extends IllegalStateException(msg)

  /** One committed table state: manifest version, partition → data dir
    * (relative to `<base>/data/`), the data schema this version
    * recorded (None only for pre-evolution manifests), plus the
    * [[ZoneMaps]] file statistics: `fileStats` maps a data-file relpath
    * to its per-column min/max, `statsUnits` the `dir/part_year=N`
    * units whose files have been footer-scanned (so a unit that yields
    * no stats — all-string schema, empty partition — is not rescanned
    * every commit). Both empty for pre-stats manifests: [[readWhere]]
    * then prunes nothing and stays correct. `bloomCols` is the table's
    * declared [[FileBlooms]] column set (a table property, carried
    * forward by every commit): newly staged units get a per-file Bloom
    * sidecar over these columns for plan-time equality pruning. */
  final case class Snapshot(version: Int, parts: Map[Int, String],
      schema: Option[StructType] = None,
      fileStats: Map[String, ZoneMaps.FileStats] = Map.empty,
      statsUnits: Set[String] = Set.empty,
      bloomCols: Seq[String] = Nil,
      /** Pending equality-delete dirs ([[deleteWhereMoR]]), relative to
        * `<base>/data/`: each holds parquet key tuples (+ `part_year`)
        * that every content read anti-joins away. Folded into the data
        * by the next merge/compaction touching their partitions. */
      deletes: Seq[String] = Nil)

  /** Staged-but-uncommitted merge: everything COMMIT needs. Package-
    * private so specs can crash-inject between stage and commit. */
  private[graft] final case class Staged(snapshot: Snapshot)

  private def fs(spark: SparkSession, base: Path): FileSystem =
    base.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(base: String) = new Path(base, "_manifests")
  private def dataDir(base: String) = new Path(base, "data")
  private def vdir(v: Int) = f"v$v%05d"
  /** Per-attempt stage dir: version prefix + uniqueness token, so two
    * writers staging the same next version write disjoint dirs. */
  private def stageVdir(v: Int) =
    f"v$v%05d-${java.util.UUID.randomUUID().toString.take(8)}"
  /** The version a data dir belongs to, for either naming generation
    * (`v00007` committed-by-compaction-pre-r10 or `v00007-ab12cd34`). */
  private def dirVersion(n: String): Option[Int] =
    "^v(\\d+)(?:-[0-9a-f]+)?$".r.findFirstMatchIn(n).map(_.group(1).toInt)
  private val SchemaHeader = "#schema\t"
  private val FileStatsHeader = "#filestats\t"
  private val StatsUnitHeader = "#statsunit\t"
  private val BloomColsHeader = "#bloomcols\t"
  private val DeletesHeader = "#deletes\t"
  /** Equality-delete dir name: `d<version>-<token>` (the `d` prefix
    * keeps it out of the data-dir version namespace). */
  private def deleteVdir(v: Int) =
    f"d$v%05d-${java.util.UUID.randomUUID().toString.take(8)}"
  private def deleteDirVersion(n: String): Option[Int] =
    "^d(\\d+)-[0-9a-f]+$".r.findFirstMatchIn(n).map(_.group(1).toInt)

  /** All committed manifest versions, ascending (empty if none). */
  def versions(spark: SparkSession, basePath: String): Seq[Int] = {
    val md = manifestDir(basePath)
    val f = fs(spark, md)
    if (!f.exists(md)) return Seq.empty
    f.listStatus(md).toSeq
      .map(_.getPath.getName)
      .collect { case s if s.matches("v\\d+\\.txt") =>
        s.stripPrefix("v").stripSuffix(".txt").toInt }
      .sorted
  }

  /** Highest committed snapshot, if the table exists. */
  def currentSnapshot(spark: SparkSession, basePath: String): Option[Snapshot] =
    versions(spark, basePath).lastOption.flatMap(snapshotAt(spark, basePath, _))

  /** The snapshot a specific manifest version committed — TIME TRAVEL.
    * Valid as long as [[vacuum]]'s `retainVersions` still covers the
    * version (the Delta/Iceberg contract: vacuum trades history for
    * space). None if that manifest was never written or was vacuumed. */
  def snapshotAt(spark: SparkSession, basePath: String, version: Int): Option[Snapshot] = {
    val md = manifestDir(basePath)
    val f = fs(spark, md)
    val p = new Path(md, s"${vdir(version)}.txt")
    if (!f.exists(p)) return None
    val body = {
      val in = f.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val lines = body.linesIterator.filter(_.nonEmpty).toSeq
    val schema = lines.find(_.startsWith(SchemaHeader))
      .map(l => DataType.fromJson(l.stripPrefix(SchemaHeader))
        .asInstanceOf[StructType])
    val parts = lines.filterNot(_.startsWith("#")).map { line =>
      val Array(year, dir) = line.split("\t", 2)
      year.toInt -> dir
    }.toMap
    val fileStats = lines.filter(_.startsWith(FileStatsHeader))
      .map(l => ZoneMaps.parse(l.stripPrefix(FileStatsHeader))).toMap
    val units = lines.filter(_.startsWith(StatsUnitHeader))
      .map(_.stripPrefix(StatsUnitHeader)).toSet
    val blooms = lines.find(_.startsWith(BloomColsHeader))
      .map(_.stripPrefix(BloomColsHeader).split(",").toSeq
        .map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
    val dels = lines.find(_.startsWith(DeletesHeader))
      .map(_.stripPrefix(DeletesHeader).split(",").toSeq
        .map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
    Some(Snapshot(version, parts, schema, fileStats, units, blooms, dels))
  }

  /** Current table contents as a DataFrame with `part_year` restored.
    * Per-branch literal years keep partition pruning: a `part_year`
    * filter constant-folds each branch to true/false at plan time. */
  def read(spark: SparkSession, basePath: String): DataFrame = {
    val snap = currentSnapshot(spark, basePath).getOrElse(
      throw new IllegalStateException(s"no committed manifest under $basePath"))
    readSnapshot(spark, basePath, snap)
  }

  /** Read the table AS OF a committed version (time travel). */
  def readAt(spark: SparkSession, basePath: String, version: Int): DataFrame = {
    val snap = snapshotAt(spark, basePath, version).getOrElse(
      throw new IllegalStateException(
        s"version $version of $basePath does not exist (never committed, or vacuumed)"))
    readSnapshot(spark, basePath, snap)
  }

  /** Commit wall-clock of each retained version — the manifest file's
    * mtime, i.e. the instant the atomic rename made it readable. */
  private def commitTimes(spark: SparkSession,
      basePath: String): Seq[(Int, Long)] = {
    val md = manifestDir(basePath)
    val f = fs(spark, md)
    versions(spark, basePath).map { v =>
      v -> f.getFileStatus(new Path(md, s"${vdir(v)}.txt")).getModificationTime
    }
  }

  /** Read the table AS OF a wall-clock instant (the Iceberg/Delta
    * `TIMESTAMP AS OF` form): resolves the newest version whose commit
    * time is ≤ `asOf` — ties (same-millisecond commits) resolve to the
    * higher version, matching what a reader at that instant saw.
    * History older than vacuum retention is gone like [[readAt]]'s. */
  def readAsOf(spark: SparkSession, basePath: String,
      asOf: java.sql.Timestamp): DataFrame = {
    val at = commitTimes(spark, basePath)
      .filter(_._2 <= asOf.getTime)
      .sortBy { case (v, t) => (t, v) }
      .lastOption.getOrElse(throw new IllegalStateException(
        s"no version of $basePath committed at or before $asOf " +
          "(table did not exist yet, or that history was vacuumed)"))
    readAt(spark, basePath, at._1)
  }

  /** `history` METADATA TABLE (the Iceberg `table$history` shape): one
    * row per retained version with its commit time and manifest-level
    * shape — what changed when, answerable without opening a single
    * data file. Driver cost O(versions). */
  def history(spark: SparkSession, basePath: String): DataFrame = {
    import spark.implicits._
    val times = commitTimes(spark, basePath).toMap
    versions(spark, basePath).flatMap { v =>
      snapshotAt(spark, basePath, v).map { snap =>
        (v, new java.sql.Timestamp(times(v)), snap.parts.size,
          snap.parts.values.count(d => dirVersion(d).contains(v)),
          snap.deletes.size,
          snap.schema.map(_.fields.length.toLong).getOrElse(-1L))
      }
    }.toDF("version", "committed_at", "n_partitions", "n_rewritten_dirs",
      "n_delete_dirs", "n_schema_cols")
  }

  /** `files` METADATA TABLE (the Iceberg `table$files` shape): one row
    * per live data file in the current snapshot — partition, dir, name,
    * bytes, mtime — from pure listings (the vacuum planning loop's cost
    * class: O(files) metadata reads, zero data bytes). The operational
    * "is this table fragmented / which partition is heavy" view that
    * drives compaction decisions. */
  def filesMeta(spark: SparkSession, basePath: String): DataFrame = {
    import spark.implicits._
    val snap = currentSnapshot(spark, basePath).getOrElse(
      throw new IllegalStateException(s"no committed manifest under $basePath"))
    val dd = dataDir(basePath)
    val f = fs(spark, dd)
    snap.parts.toSeq.sortBy(_._1).flatMap { case (y, dir) =>
      val pdir = new Path(dd, s"$dir/part_year=$y")
      if (!f.exists(pdir)) Nil
      else f.listStatus(pdir).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(st => (y, dir, st.getPath.getName, st.getLen,
          new java.sql.Timestamp(st.getModificationTime)))
    }.toDF("part_year", "dir", "file", "bytes", "modified_at")
  }

  /** Every partition dir read WITH the snapshot's recorded schema:
    * dirs written before a column existed surface it as null, and time
    * travel returns the schema the version recorded. Legacy manifests
    * (no header) fall back to per-dir inference + permissive union. */
  private def readSnapshot(spark: SparkSession, basePath: String,
      snap: Snapshot): DataFrame = {
    val dd = dataDir(basePath)
    applyDeletes(spark, dd, snap,
      snap.parts.toSeq.sortBy(_._1).map { case (year, dir) =>
        readPart(spark, dd, dir, year, snap.schema)
          .withColumn("part_year", lit(year))
      }.reduceLeft(_.unionByName(_, allowMissingColumns = true)))
  }

  private def readPart(spark: SparkSession, dd: Path, dir: String,
      year: Int, schema: Option[StructType]): DataFrame = {
    val rdr = schema.map(spark.read.schema(_)).getOrElse(spark.read)
    rdr.parquet(new Path(dd, s"$dir/part_year=$year").toString)
  }

  /** Apply a snapshot's pending equality deletes to a content frame
    * carrying `part_year`: one left-anti join per pending dir on the
    * tuples' own columns (its recorded keys + part_year). Delete sets
    * are dimension-sized next to the data, so AQE broadcasts the join;
    * the scan side never moves. */
  private def applyDeletes(spark: SparkSession, dd: Path, snap: Snapshot,
      df: DataFrame): DataFrame =
    snap.deletes.foldLeft(df) { (acc, dir) =>
      val del = spark.read.parquet(new Path(dd, dir).toString)
      acc.join(del, del.columns.toSeq, "left_anti")
    }

  /** [[applyDeletes]] for a single-partition frame WITHOUT `part_year`
    * (stage/compact/CoW rewrites): tuples are pre-filtered to year `y`
    * so a key shape that repeats across years can never over-delete. */
  private def applyDeletesForYear(spark: SparkSession, dd: Path,
      snap: Snapshot, df: DataFrame, y: Int): DataFrame =
    snap.deletes.foldLeft(df) { (acc, dir) =>
      val del = spark.read.parquet(new Path(dd, dir).toString)
        .filter(col("part_year") === y).drop("part_year")
      acc.join(del, del.columns.toSeq, "left_anti")
    }

  /** Carry a snapshot's pending delete tuples past a rewrite of
    * `rewrittenYears` (whose rows the caller already folded with
    * [[applyDeletesForYear]]): dirs with no tuple in those years carry
    * verbatim; dirs that intersect are rewritten without the consumed
    * years (and vanish when nothing survives). Returns the successor
    * snapshot's pending-dir list. */
  private def carryDeletes(spark: SparkSession, basePath: String,
      snap: Snapshot, rewrittenYears: Seq[Int], next: Int): Seq[String] = {
    if (snap.deletes.isEmpty || rewrittenYears.isEmpty) return snap.deletes
    val dd = dataDir(basePath)
    snap.deletes.flatMap { dir =>
      val del = spark.read.parquet(new Path(dd, dir).toString)
      val yrs = del.select(col("part_year")).distinct()
        .collect().map(_.getInt(0)).toSet // driver-small: years
      if (yrs.intersect(rewrittenYears.toSet).isEmpty) Some(dir)
      else {
        val remainder = del.filter(!col("part_year").isin(rewrittenYears: _*))
        if (remainder.isEmpty) None
        else {
          val nd = deleteVdir(next)
          remainder.write.mode("overwrite")
            .parquet(new Path(dd, nd).toString)
          Some(nd)
        }
      }
    }
  }

  /** Zone-map-pruned read: open ONLY the data files whose manifest
    * min/max stats can satisfy `predicate`, then re-apply the full
    * predicate — so the result always equals
    * `read(...).filter(predicate)` while the scan's file set shrinks to
    * the files that can match. Elimination happens at PLAN time on the
    * driver from the manifest alone: no footer fetch, no task per
    * skipped file — the 100 TB win over parquet's own row-group stats,
    * which only help after every file is opened. Pair with
    * [[compact]]`(clusterBy = ...)` so file ranges are disjoint and a
    * selective query opens O(matching files). Files or columns without
    * recorded stats are always read (pruning is elimination-proof
    * only); see [[ZoneMaps]] for which predicates and types prune. */
  def readWhere(spark: SparkSession, basePath: String,
      predicate: org.apache.spark.sql.Column): DataFrame = {
    val snap = currentSnapshot(spark, basePath).getOrElse(
      throw new IllegalStateException(s"no committed manifest under $basePath"))
    prunedFrame(spark, basePath, snap, predicate)
  }

  /** [[readWhere]]'s engine against an explicit snapshot — shared with
    * [[deleteWhere]]'s locate pass so point deletes plan through the same
    * zone-map + bloom elimination as point reads. */
  private def prunedFrame(spark: SparkSession, basePath: String,
      snap: Snapshot, predicate: org.apache.spark.sql.Column): DataFrame = {
    val predExpr = org.apache.spark.sql.graft.ColumnExpr.expr(predicate)
    // the snapshot schema gates pruning SOUNDNESS: cross-type-family
    // predicates (a timestamp literal on a date column, a number on a
    // string key) never eliminate — Spark's own coercion decides them on
    // the full predicate instead. String ranges prune in their own
    // unsigned-byte domain (the schema-on-read string-date case).
    val cons = ZoneMaps.allConstraintsOf(predExpr, snap.schema)
    val ranges = cons.num
    // equality conjuncts probe the FileBlooms sidecars — the elimination
    // zone maps cannot make (string keys, unclustered high-cardinality
    // ids). Restricted to this snapshot's declared bloom columns whose
    // probe values match the column's stored kind.
    val eqs = FileBlooms.equalitiesOf(predExpr)
      .filter { case (c, ps) =>
        snap.bloomCols.contains(c) &&
          snap.schema.exists(_.find(_.name == c)
            .exists(f => FileBlooms.soundProbes(f.dataType, ps)))
      }
    val dd = dataDir(basePath)
    val f = fs(spark, dd)
    val perYear = snap.parts.toSeq.sortBy(_._1).flatMap { case (y, dir) =>
      // partition elimination on part_year, same domain as file stats
      val yStats: ZoneMaps.FileStats = Map("part_year" ->
        ZoneMaps.ColStats(Some((BigDecimal(y), BigDecimal(y))), 0L, 1L))
      if (!ZoneMaps.mayMatch(yStats, ranges.filter(_._1 == "part_year"))) None
      else {
        val unit = s"$dir/part_year=$y"
        val pdir = new Path(dd, unit)
        val files =
          if (f.exists(pdir))
            f.listStatus(pdir).toSeq.map(_.getPath)
              .filter(_.getName.endsWith(".parquet"))
          else Seq.empty
        val blooms =
          if (eqs.isEmpty) Map.empty[String, Map[String, org.apache.spark.util.sketch.BloomFilter]]
          else FileBlooms.load(f, pdir, eqs.keySet)
        val kept = files.filter { p =>
          snap.fileStats.get(s"$unit/${p.getName}")
            .forall(st => ZoneMaps.mayMatch(st, ranges) &&
              ZoneMaps.mayMatchStr(st, cons.str)) &&
            blooms.get(p.getName)
              .forall(bs => FileBlooms.mayContain(bs, eqs))
        }
        if (kept.isEmpty) None
        else {
          val rdr = snap.schema.map(spark.read.schema(_)).getOrElse(spark.read)
          Some(rdr.parquet(kept.map(_.toString): _*)
            .withColumn("part_year", lit(y)))
        }
      }
    }
    val df = perYear.reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse {
        val s = snap.schema.getOrElse(
          readSnapshot(spark, basePath, snap).drop("part_year").schema)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(s.fields :+
            org.apache.spark.sql.types.StructField("part_year",
              org.apache.spark.sql.types.IntegerType)))
      }
    // pending equality deletes apply to every content read — pruning is
    // unaffected (deletes only REMOVE rows, bounds stay valid-loose)
    applyDeletes(spark, dd, snap, df).filter(predicate)
  }

  /** Metadata-only aggregate of one column: MIN/MAX/COUNT answered from
    * the manifest's [[ZoneMaps]] alone — zero data files opened, zero
    * rows scanned, no Spark job at all. The lakehouse "metadata query"
    * optimization (Delta and Iceberg both answer these from file stats):
    * at 100 TB, `SELECT max(ts)` over a manifest table is a driver-side
    * fold over the manifest lines instead of a full-table scan.
    *
    * Sound only when the stats PROVE the answer, so this returns None —
    * caller falls back to a real scan — unless every parquet file of
    * every partition has a recorded stats line carrying `column` (a
    * legacy pre-stats manifest, a file whose footer had no usable stats,
    * or a column outside the stats domain — strings, NaN-polluted floats
    * — all disqualify). All-null files participate with no bounds; a
    * column null in EVERY file yields `bounds = None` with the counts
    * still exact, mirroring `MIN(col) = NULL` over non-empty input.
    *
    * Values are in the stats domain ([[ZoneMaps.ColStats]]): numerics as
    * themselves, dates as epoch days, timestamps as epoch micros —
    * convert per the column's type. `rows` is exact COUNT(*) and
    * `nonNull` exact COUNT(column) for the whole table. */
  final case class MetaAgg(bounds: Option[(BigDecimal, BigDecimal)],
      rows: Long, nonNull: Long)

  def statsAgg(spark: SparkSession, basePath: String,
      column: String): Option[MetaAgg] = {
    currentSnapshot(spark, basePath).flatMap { snap =>
      // pending equality deletes make every per-file stat an OVERSTATE
      // of logical content (counts and possibly bounds describe rows a
      // read no longer returns) — unprovable until the fold retires them
      if (snap.deletes.nonEmpty) return None
      val dd = dataDir(basePath)
      val f = fs(spark, dd)
      val perFile: Seq[Option[ZoneMaps.ColStats]] =
        snap.parts.toSeq.sortBy(_._1).flatMap { case (y, dir) =>
          val unit = s"$dir/part_year=$y"
          val pdir = new Path(dd, unit)
          val files =
            if (f.exists(pdir))
              f.listStatus(pdir).toSeq.map(_.getPath.getName)
                .filter(_.endsWith(".parquet"))
            else Seq.empty
          files.map(name =>
            snap.fileStats.get(s"$unit/$name").flatMap(_.get(column)))
        }
      if (perFile.exists(_.isEmpty)) None // an uncovered file: cannot prove
      else {
        val ss = perFile.flatten
        // a file with VALUES but no numeric bounds cannot prove MIN/MAX
        // in this domain: string-stats columns fall here deliberately —
        // their bounds may be truncation-loose (valid for pruning, never
        // exact), so metadata MIN/MAX over strings is unprovable
        if (ss.exists(s => s.bounds.isEmpty && s.nulls < s.rows)) None
        else {
          val bs = ss.flatMap(_.bounds)
          Some(MetaAgg(
            bounds =
              if (bs.isEmpty) None else Some((bs.map(_._1).min, bs.map(_._2).max)),
            rows = ss.map(_.rows).sum,
            nonNull = ss.map(s => s.rows - s.nulls).sum))
        }
      }
    }
  }

  /** Fill in zone-map stats for `next`: carry lines forward for units
    * already scanned by `prev`, footer-read the files of units new in
    * this snapshot. A unit that yields no stats (empty partition,
    * no stats-typed columns) is still marked scanned so it is never
    * re-read. Manifest-size note: one line per data file — at very
    * large file counts the stats belong in a parquet sidecar (Iceberg's
    * manifest-file design); the text form keeps the protocol
    * single-file-atomic here. */
  private def collectStats(spark: SparkSession, basePath: String,
      next: Snapshot, prev: Option[Snapshot]): Snapshot = {
    val dd = dataDir(basePath)
    val f = fs(spark, dd)
    val conf = spark.sparkContext.hadoopConfiguration
    val units = next.parts.toSeq.sortBy(_._1)
      .map { case (y, dir) => s"$dir/part_year=$y" }
    val covered = prev.map(_.statsUnits).getOrElse(Set.empty)
    val carried = prev.map(_.fileStats).getOrElse(Map.empty).filter {
      case (rel, _) => units.exists(u => covered(u) && rel.startsWith(u + "/"))
    }
    // one batched footer pass over everything this commit staged —
    // distributed past a file-count threshold (ZoneMaps.forFiles), so a
    // wide compaction's commit never serializes on driver metadata RPCs
    val targets: Seq[(String, Path)] = units.filterNot(covered).flatMap { unit =>
      val pdir = new Path(dd, unit)
      if (!f.exists(pdir)) Seq.empty
      else f.listStatus(pdir).toSeq.map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
        .map(p => unit -> p)
    }
    val scanned = ZoneMaps.forFiles(spark, conf, targets.map(_._2))
    val fresh = targets.flatMap { case (unit, p) =>
      val st = scanned(p.toString)
      if (st.isEmpty) None else Some(s"$unit/${p.getName}" -> st)
    }.toMap
    next.copy(fileStats = carried ++ fresh, statsUnits = units.toSet)
  }

  /** [[FileBlooms]] sidecars for the units NEWLY staged by this snapshot
    * (the same new-unit set the zone-map scan uses): one column-pruned
    * distributed pass per unit, written inside the unit dir so carry-
    * forward and vacuum need no extra bookkeeping. Pre-existing units
    * keep the sidecar they were staged with — to backfill a table that
    * declared bloom columns late, run [[compact]] with `clusterBy` (it
    * restages every partition). */
  private def buildBloomSidecars(spark: SparkSession, basePath: String,
      next: Snapshot, prev: Option[Snapshot]): Unit = {
    if (next.bloomCols.isEmpty) return
    val dd = dataDir(basePath)
    val covered = prev.map(_.statsUnits).getOrElse(Set.empty)
    next.parts.toSeq.sortBy(_._1)
      .map { case (y, dir) => s"$dir/part_year=$y" }
      .filterNot(covered)
      .foreach { unit =>
        // row counts the zone-map pass just recorded, keyed by file name
        val known = next.fileStats.collect {
          case (rel, st) if rel.startsWith(unit + "/") && st.nonEmpty =>
            rel.substring(unit.length + 1) -> st.head._2.rows
        }
        FileBlooms.build(spark, new Path(dd, unit), next.schema,
          next.bloomCols, knownRows = known)
      }
  }

  /** Row-level CHANGES between two committed versions — the CDC feed an
    * incremental downstream consumer (index maintainer, materialized
    * aggregate, replication) reads instead of re-diffing the full table.
    * One row per changed key with `change` ∈ insert/update/delete plus
    * the row's values (new side; old side for deletes) and `part_year`.
    *
    * At 100 TB the manifest IS the changelog index: a version only
    * rewrites the partitions its merge touched, every other partition
    * carries its previous dir pointer forward — so this compares ONLY
    * partitions whose dir pointer moved between the two manifests and
    * never opens the rest. Cost is O(changed partitions), the same reads
    * the producing merge made. A compaction rewrites pointers without
    * changing rows; diffing across one reads the rewritten partitions
    * and correctly yields zero rows. Valid while [[vacuum]]'s retention
    * still covers `fromVersion` (the [[readAt]] contract); use
    * `fromVersion = 0` for "everything since the table began".
    *
    * Both sides align to the NEWER version's recorded schema (evolution:
    * a column added between the versions reads as null on the old side,
    * so its first real value reports as an update). */
  def changes(spark: SparkSession, basePath: String,
      fromVersion: Int, toVersion: Int, keys: Seq[String]): DataFrame = {
    require(fromVersion >= 0 && fromVersion < toVersion,
      s"need 0 <= fromVersion < toVersion, got $fromVersion..$toVersion")
    val to = snapshotAt(spark, basePath, toVersion).getOrElse(
      throw new IllegalStateException(
        s"version $toVersion of $basePath does not exist (never committed, or vacuumed)"))
    val from: Option[Snapshot] =
      if (fromVersion == 0) None
      else Some(snapshotAt(spark, basePath, fromVersion).getOrElse(
        throw new IllegalStateException(
          s"version $fromVersion of $basePath does not exist (never committed, or vacuumed)")))
    val schema = to.schema.getOrElse(
      readSnapshot(spark, basePath, to).drop("part_year").schema)
    val nonKeys = schema.fieldNames.toSeq.filterNot(keys.contains)
    val dd = dataDir(basePath)
    // a year participates iff its dir pointer moved (or appeared/
    // vanished) — OR an equality-delete dir appeared or DISAPPEARED in
    // the window: a [[deleteWhereMoR]] commit moves no pointers but its
    // tuples change the content of the years they name, and a
    // [[restore]] can drop pending dirs equally pointer-free (a fold
    // rides a partition rewrite, so it is covered either way). Cost:
    // distinct years per changed delete dir, driver-small.
    val fromDels = from.map(_.deletes).getOrElse(Nil).toSet
    val changedDels = (to.deletes.filterNot(fromDels) ++
      fromDels.filterNot(to.deletes.toSet)).distinct
    val deleteYears = changedDels.flatMap { dir =>
      spark.read.parquet(new Path(dd, dir).toString)
        .select(col("part_year")).distinct().collect().map(_.getInt(0))
    }.toSet
    val years = ((to.parts.keySet ++ from.map(_.parts.keySet).getOrElse(Set.empty))
      .filter(y => to.parts.get(y) != from.flatMap(_.parts.get(y))) ++
      deleteYears).toSeq.sorted
    // each side's content is its OWN snapshot's MoR view — so a pending
    // delete surfaces as change='delete' the version it was committed,
    // the same feed IndexDeleteSync already rides for CoW deletes
    def side(snap: Option[Snapshot], y: Int): DataFrame =
      snap.flatMap(s => s.parts.get(y).map(dir =>
        applyDeletesForYear(spark, dd, s,
          align(readPart(spark, dd, dir, y, s.schema), schema), y)))
        .getOrElse(
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
    val diffs = years.map { y =>
      val packed = (df: DataFrame, tag: String) => df.select(
        keys.map(col) ++ Seq(struct(nonKeys.map(col): _*).as(s"__$tag"),
          lit(true).as(s"__in_$tag")): _*)
      packed(side(Some(to), y), "n")
        .join(packed(side(from, y), "o"), keys, "full_outer")
        .withColumn("change",
          when(col("__in_o").isNull, "insert")
            .when(col("__in_n").isNull, "delete")
            .when(!(col("__n") <=> col("__o")), "update"))
        .filter(col("change").isNotNull) // unchanged rows (compaction) drop
        .withColumn("__v", coalesce(col("__n"), col("__o")))
        .select(Seq(col("change"), lit(y).as("part_year")) ++
          keys.map(col) ++ nonKeys.map(c => col(s"__v.$c").as(c)): _*)
    }
    diffs.reduceOption(_.unionByName(_)).getOrElse {
      val outSchema = StructType(
        Seq(org.apache.spark.sql.types.StructField("change",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("part_year",
            org.apache.spark.sql.types.IntegerType)) ++
          schema.fields.filter(f => keys.contains(f.name)) ++
          schema.fields.filterNot(f => keys.contains(f.name)))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    }
  }

  /** The union of previous and batch columns, previous order first —
    * how the table schema evolves. A column present in both must agree
    * on type (silent coercion would corrupt, so it refuses). */
  /** The safe type-widening ladders (Iceberg/Delta "type widening",
    * public): integral up to LongType, FloatType→DoubleType. Everything
    * else — narrowing, cross-family, string↔numeric — refuses loudly.
    * Sound end to end because (a) Spark 4's parquet reader returns an
    * int32/float file column as long/double when the requested schema
    * says so ([[readPart]] always pins the SNAPSHOT schema), (b)
    * [[align]] casts a narrower batch up losslessly, and (c) zone-map
    * bounds are stored as type-agnostic BigDecimal, so pruning and
    * statsAgg fold bounds across file generations unchanged. */
  private val widenLadder: Map[DataType, Int] =
    Map(ByteType -> 0, ShortType -> 1, IntegerType -> 2, LongType -> 3)

  private def widened(a: DataType, b: DataType): Option[DataType] =
    if (a == b) Some(a)
    else (widenLadder.get(a), widenLadder.get(b)) match {
      case (Some(x), Some(y)) => Some(if (x >= y) a else b)
      case _ =>
        (a, b) match {
          case (FloatType, DoubleType) | (DoubleType, FloatType) =>
            Some(DoubleType)
          case _ => None
        }
    }

  private def mergeSchemas(prev: StructType, batch: StructType): StructType = {
    val resolved = prev.fields.map { pf =>
      batch.fields.find(_.name == pf.name) match {
        case Some(bf) =>
          val t = widened(pf.dataType, bf.dataType).getOrElse(
            throw new IllegalArgumentException(
              s"column ${pf.name} changed type ${pf.dataType} -> ${bf.dataType}; " +
                "schema evolution adds/removes columns or WIDENS numerics " +
                "(byte<short<int<long, float<double), it never narrows or " +
                "cross-types"))
          pf.copy(dataType = t)
        case None => pf
      }
    }
    StructType(resolved ++
      batch.fields.filterNot(bf => prev.fieldNames.contains(bf.name)))
  }

  /** `df` reshaped to exactly `schema`'s columns: present columns pass
    * through, absent ones become typed nulls. */
  private def align(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.toSeq.map { f =>
      if (df.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)

  /** Keyed upsert of `batch` with one atomic commit. Reads only the
    * partitions the batch touches, stages their merged rows under a new
    * version dir, then flips the manifest. */
  def mergeInto(spark: SparkSession, batch: DataFrame, basePath: String,
      keys: Seq[String], dateCol: String, bloomCols: Seq[String] = Nil): Unit =
    commit(spark, basePath, stage(spark, batch, basePath, keys, dateCol, bloomCols))

  /** WRITE-AUDIT-PUBLISH (the Iceberg WAP pattern, public): stage the
    * merge, hand `audit` the EXACT table state the commit would publish
    * (carried dirs + the staged rewrite, snapshot-schema-pinned, pending
    * deletes applied — bit-for-bit what `read()` returns after the
    * flip), and move the pointer only on approval. Post-MERGE audits
    * catch what batch-side gates structurally cannot: cross-batch key
    * collisions, containment against the merged reference, a total-row
    * floor after upserts fold. On rejection the staged data dirs and any
    * freshly-rewritten delete dirs are removed and the table is
    * untouched — no version is consumed, readers never saw a byte.
    * Returns the published version, or None when the audit rejected. */
  def writeAuditPublish(spark: SparkSession, batch: DataFrame,
      basePath: String, keys: Seq[String], dateCol: String,
      bloomCols: Seq[String] = Nil)(
      audit: DataFrame => Boolean): Option[Int] = {
    val staged = stage(spark, batch, basePath, keys, dateCol, bloomCols)
    val approved =
      try audit(readSnapshot(spark, basePath, staged.snapshot))
      catch { case e: Throwable => abandonStaged(spark, basePath, staged); throw e }
    if (approved) {
      // a commit lost to a concurrent writer must not leak the staged
      // dirs until a later vacuum — same cleanup as an audit rejection
      try commit(spark, basePath, staged)
      catch { case e: ConcurrentCommitException =>
        abandonStaged(spark, basePath, staged); throw e }
      Some(staged.snapshot.version)
    } else {
      abandonStaged(spark, basePath, staged)
      None
    }
  }

  /** [[writeAuditPublish]] with the OCC retry loop [[mergeIntoRetrying]]
    * runs: a commit that loses a concurrent-writer race abandons its
    * staged dirs, RE-STAGES against the winner's snapshot, and RE-AUDITS —
    * the audit must see the state that would actually publish, which the
    * winner's commit just changed, so replaying the audit is correctness,
    * not cost. Returns Some(version) on publish, None when any attempt's
    * audit rejected (a rejection is a verdict on the data, not a race —
    * it does not retry). The final attempt's conflict propagates loudly. */
  def writeAuditPublishRetrying(spark: SparkSession, batch: DataFrame,
      basePath: String, keys: Seq[String], dateCol: String,
      bloomCols: Seq[String] = Nil, maxAttempts: Int = 5)(
      audit: DataFrame => Boolean): Option[Int] = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    (1 to maxAttempts).foreach { attempt =>
      try return writeAuditPublish(spark, batch, basePath, keys, dateCol,
        bloomCols)(audit)
      catch { case _: ConcurrentCommitException if attempt < maxAttempts => () }
    }
    throw new IllegalStateException("unreachable: the loop returns or rethrows")
  }

  /** Remove exactly what THIS staging wrote: data dirs carrying the
    * staged version's prefix and delete dirs freshly rewritten for it.
    * Carried dirs belong to committed versions and are never touched. */
  private def abandonStaged(spark: SparkSession, basePath: String,
      staged: Staged): Unit = {
    val dd = dataDir(basePath)
    val f = fs(spark, dd)
    val v = staged.snapshot.version
    staged.snapshot.parts.values.toSet[String]
      .filter(d => dirVersion(d).contains(v))
      .foreach(d => f.delete(new Path(dd, d), true))
    staged.snapshot.deletes
      .filter(d => deleteDirVersion(d).contains(v))
      .foreach(d => f.delete(new Path(dd, d), true))
  }

  /** [[mergeInto]] with the bounded optimistic-concurrency retry loop a
    * multi-writer deployment runs (the Delta commit-protocol shape,
    * public): on [[ConcurrentCommitException]] the merge RE-STAGES
    * against the winner's snapshot and tries again — the loser's rewrite
    * is recomputed over the winner's committed rows, so both writers'
    * upserts land no matter which order the commits won. The re-stage is
    * the retry's whole price and is paid only by actual conflicts;
    * `maxAttempts` bounds livelock, with the final attempt's conflict
    * propagating loudly. Returns the number of attempts taken. */
  def mergeIntoRetrying(spark: SparkSession, batch: DataFrame,
      basePath: String, keys: Seq[String], dateCol: String,
      bloomCols: Seq[String] = Nil, maxAttempts: Int = 5): Int =
    mergeIntoRetryingHook(spark, batch, basePath, keys, dateCol, bloomCols,
      maxAttempts)(_ => ())

  /** [[mergeIntoRetrying]] with the stage→commit seam exposed:
    * `onStaged(attempt)` runs after staging and before the commit — the
    * exact window a competing writer's commit creates the conflict in,
    * so the spec can interleave a real winner deterministically. */
  private[graft] def mergeIntoRetryingHook(spark: SparkSession,
      batch: DataFrame, basePath: String, keys: Seq[String], dateCol: String,
      bloomCols: Seq[String] = Nil, maxAttempts: Int = 5)(
      onStaged: Int => Unit): Int = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    (1 to maxAttempts).foreach { attempt =>
      val staged = stage(spark, batch, basePath, keys, dateCol, bloomCols)
      onStaged(attempt)
      try { commit(spark, basePath, staged); return attempt }
      catch { case e: ConcurrentCommitException =>
        // the loser's staged dirs are garbage the moment the race is
        // lost — reclaim now rather than leaking them until a vacuum
        abandonStaged(spark, basePath, staged)
        if (attempt >= maxAttempts) throw e
      }
    }
    throw new IllegalStateException("unreachable: the loop returns or rethrows")
  }

  private[graft] def stage(spark: SparkSession, batch: DataFrame,
      basePath: String, keys: Seq[String], dateCol: String,
      bloomCols: Seq[String] = Nil): Staged = {
    // Same invariant as the partition-swap path: the merge key must pin
    // the partition column, or an update under a new date would duplicate
    // its old row in a partition this merge never reads.
    require(keys.contains(dateCol),
      s"merge keys ${keys.mkString(",")} must include the partition date column $dateCol")
    val prev = currentSnapshot(spark, basePath)
    val next = prev.map(_.version + 1).getOrElse(1)
    val batchD = batch.dropDuplicates(keys)
    // evolve: previous columns + any new batch columns; both merge sides
    // align to the merged shape (missing columns = typed nulls)
    val schema = prev match {
      case Some(snap) =>
        val prevSchema = snap.schema.getOrElse {
          // legacy manifest: infer from the current dirs once
          readSnapshot(spark, basePath, snap).drop("part_year").schema
        }
        mergeSchemas(prevSchema, batchD.schema)
      case None => batchD.schema
    }
    val years = batchD.select(year(col(dateCol)).as("y")).distinct()
      .collect().map(_.getInt(0)).toSeq // driver-small: distinct years in the batch
    val dd = dataDir(basePath)
    val touched = prev match {
      case Some(snap) =>
        val existing = years.flatMap(y => snap.parts.get(y).map(y -> _))
        // base content is the MoR view: pending delete tuples of these
        // years fold into this rewrite (and drop from the carried set
        // below), so a batch re-inserting a deleted key RESURRECTS it —
        // the upsert sees no stale base row and the tuple is consumed
        val baseSub = existing.map { case (y, dir) =>
          applyDeletesForYear(spark, dd, snap,
            readPart(spark, dd, dir, y, snap.schema), y)
        }.reduceLeftOption(_.unionByName(_, allowMissingColumns = true))
        baseSub match {
          case Some(b) =>
            // columns the batch never carried keep their base values on
            // matched rows (Delta updateAll semantics), instead of being
            // nulled by the aligned frame
            MergeService.upsert(align(b, schema), align(batchD, schema), keys,
                carryBase = schema.fieldNames.toSet -- batchD.columns)
              .drop("merge_action")
          case None => align(batchD, schema)
        }
      case None => batchD
    }
    val stageDir = stageVdir(next)
    touched.withColumn("part_year", year(col(dateCol)))
      .write.mode("overwrite").partitionBy("part_year")
      .parquet(new Path(dd, stageDir).toString)
    val carried = prev.map(_.parts).getOrElse(Map.empty) --
      years // untouched partitions carry their old dirs forward
    // bloom columns are a table property: once declared they persist, and
    // any merge may widen the set (new units then index the wider set)
    val blooms = (prev.map(_.bloomCols).getOrElse(Nil) ++ bloomCols).distinct
    // tuples of the rewritten years were consumed above; the rest carry
    val dels = prev.map(carryDeletes(spark, basePath, _, years, next))
      .getOrElse(Nil)
    Staged(Snapshot(next, carried ++ years.map(_ -> stageDir), Some(schema),
      bloomCols = blooms, deletes = dels))
  }

  private[graft] def commit(spark: SparkSession, basePath: String,
      staged: Staged): Unit = {
    val md = manifestDir(basePath)
    val f = fs(spark, md)
    f.mkdirs(md)
    // optimistic-concurrency check: the snapshot this commit staged
    // against must still be the newest — a writer that committed since
    // would be silently overwritten by last-write-wins otherwise
    def conflict(): Nothing = throw new ConcurrentCommitException(
      s"commit of version ${staged.snapshot.version} under $basePath lost " +
        "a concurrent-writer race: another manifest was committed after " +
        "this merge staged — re-stage against the current snapshot and retry")
    if (versions(spark, basePath).lastOption.exists(_ >= staged.snapshot.version))
      conflict()
    // zone maps: footer-scan only units NEW in this snapshot; carried
    // dirs reuse the previous manifest's stats lines verbatim. Cost is
    // O(files this commit staged) metadata reads — the same touched-set
    // the merge itself wrote. Bloom sidecars follow the same contract:
    // one column-pruned pass over newly staged units only.
    val prevSnap = currentSnapshot(spark, basePath)
    val snapshot = collectStats(spark, basePath, staged.snapshot, prevSnap)
    buildBloomSidecars(spark, basePath, snapshot, prevSnap)
    val header = snapshot.schema.toSeq
      .map(s => s"$SchemaHeader${s.json}") ++
      (if (snapshot.bloomCols.nonEmpty)
        Seq(s"$BloomColsHeader${snapshot.bloomCols.mkString(",")}")
      else Nil) ++
      (if (snapshot.deletes.nonEmpty)
        Seq(s"$DeletesHeader${snapshot.deletes.mkString(",")}")
      else Nil)
    val statsLines =
      snapshot.statsUnits.toSeq.sorted.map(u => s"$StatsUnitHeader$u") ++
        snapshot.fileStats.toSeq.sortBy(_._1).map { case (rel, st) =>
          s"$FileStatsHeader${ZoneMaps.render(rel, st)}" }
    val body = (header ++ snapshot.parts.toSeq.sorted
      .map { case (y, dir) => s"$y\t$dir" } ++ statsLines).mkString("\n")
    val tmp = new Path(md, s".tmp-${stageVdir(staged.snapshot.version)}.txt")
    val out = f.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    val dst = new Path(md, s"${vdir(staged.snapshot.version)}.txt")
    // rename refuses an existing destination on HDFS (FileSystem spec) —
    // the narrow window between the version re-read and here degrades to
    // a loud conflict, never a lost update. (On a local FS whose rename
    // replaces, the re-read check above is the guard; on S3 the commit
    // lock caveat from the class doc applies.)
    if (f.exists(dst) || !f.rename(tmp, dst)) {
      f.delete(tmp, false)
      conflict()
    }
  }

  /** Row-level DELETE: remove every row matching `predicate` and commit
    * the result as one new version — the data-deletion/compliance API a
    * lakehouse table needs (Delta `DELETE FROM` semantics on the same
    * stage-then-flip protocol as [[mergeInto]]). Downstream consumers see
    * the removals as `change = 'delete'` rows in [[changes]] — the feed
    * [[IndexDeleteSync]] rides to purge ghost rows from persisted
    * indexes.
    *
    * At 100 TB only partitions that actually CONTAIN matching rows are
    * rewritten: one column-pruned scan locates them (a predicate on
    * `part_year` prunes that scan too — each manifest branch carries its
    * year as a plan-time literal), untouched partitions carry their dir
    * pointers forward with zero data movement, and the flip is atomic
    * with the same optimistic-concurrency conflict check as any merge.
    * Returns the number of rows deleted (0 = no commit, no version
    * burned). A partition deleted to empty keeps an empty dir rather
    * than vanishing from the manifest — [[changes]] then reports every
    * row, not a missing partition. */
  def deleteWhere(spark: SparkSession, basePath: String,
      predicate: org.apache.spark.sql.Column): Long = {
    val snap = currentSnapshot(spark, basePath).getOrElse(return 0L)
    // driver-small: one (year, matched-count) row per partition. The
    // locate pass rides the SAME zone-map + bloom pruning as readWhere —
    // a point delete (the compliance case: one doc id out of 100 TB)
    // opens only the files that can hold the key, not the table.
    val hits = prunedFrame(spark, basePath, snap, predicate)
      .groupBy(col("part_year")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    if (hits.isEmpty) return 0L
    val dd = dataDir(basePath)
    val next = snap.version + 1
    val stageDir = stageVdir(next)
    // pin the schema (legacy manifests infer once) so a partition deleted
    // to EMPTY — a dir with no parquet files — stays readable afterwards
    val schema = snap.schema.getOrElse(
      readSnapshot(spark, basePath, snap).drop("part_year").schema)
    hits.keys.toSeq.sorted.foreach { y =>
      val kept = applyDeletesForYear(spark, dd, snap,
          readPart(spark, dd, snap.parts(y), y, Some(schema)), y)
        .withColumn("part_year", lit(y))
        .filter(!coalesce(predicate, lit(false)))
        .drop("part_year")
      // mode("overwrite") materializes the dir even when zero rows kept,
      // so the manifest pointer below never dangles
      kept.write.mode("overwrite")
        .parquet(new Path(dd, s"$stageDir/part_year=$y").toString)
    }
    val parts = snap.parts ++ hits.keys.map(_ -> stageDir)
    val dels = carryDeletes(spark, basePath, snap, hits.keys.toSeq, next)
    commit(spark, basePath,
      Staged(Snapshot(next, parts, Some(schema), bloomCols = snap.bloomCols,
        deletes = dels)))
    hits.values.sum
  }

  /** Merge-on-read row-level DELETE — the 100 TB compliance path
    * [[deleteWhere]]'s copy-on-write cannot afford: deleting one row
    * from a year partition there rewrites the whole partition. Here the
    * matched rows' KEY TUPLES land in a small equality-delete file
    * (Iceberg v2's equality-delete design, public) and the commit flips
    * ONLY the manifest: zero data files touched, cost O(matched rows),
    * not O(containing partitions). Every content read
    * ([[read]]/[[readAt]]/[[readWhere]]/[[changes]]) anti-joins the
    * pending tuples away — AQE broadcasts the dimension-sized delete
    * set — and the next merge or [[compact]] touching a tuple's
    * partition folds it into the data and retires it; a merge
    * re-inserting a deleted key resurrects it (the tuple is consumed by
    * that same fold). [[statsAgg]] refuses while tuples pend (physical
    * file stats overstate logical content), so the metadata-aggregate
    * and data-quality fast paths degrade soundly to scans until the
    * fold. `keys` must identify rows — the table's merge keys.
    * Returns the number of rows deleted (0 = no commit). */
  def deleteWhereMoR(spark: SparkSession, basePath: String,
      predicate: org.apache.spark.sql.Column, keys: Seq[String]): Long = {
    val snap = currentSnapshot(spark, basePath).getOrElse(return 0L)
    // the locate pass rides prunedFrame: zone-map + bloom pruning AND
    // the already-pending deletes, so re-deleting a pending key is a
    // counted no-op, never a duplicate tuple
    commitMoRTuples(spark, basePath, snap, keys,
      prunedFrame(spark, basePath, snap, predicate))
  }

  /** [[deleteWhereMoR]] by explicit KEY SET instead of predicate — the
    * CDC-apply arm ([[applyChanges]]) and any caller holding a frame of
    * rows to drop (compliance lists, reverse-ETL feeds). Tuples are the
    * keys that actually match current rows (a key with no live row is a
    * counted no-op), located through the same pruned, delete-aware
    * read. */
  def deleteKeysMoR(spark: SparkSession, basePath: String,
      keyRows: DataFrame, keys: Seq[String]): Long = {
    val snap = currentSnapshot(spark, basePath).getOrElse(return 0L)
    val matched = readSnapshot(spark, basePath, snap)
      .join(keyRows.select(keys.map(col): _*).dropDuplicates(keys),
        keys, "left_semi")
    commitMoRTuples(spark, basePath, snap, keys, matched)
  }

  /** Shared tail of the MoR delete forms: project `matched` (a
    * delete-aware read of the rows to drop) to key tuples, persist them
    * as a `d<N>-<token>` dir, commit the manifest with the dir
    * appended. Returns the tuple count (0 = no commit). */
  private def commitMoRTuples(spark: SparkSession, basePath: String,
      snap: Snapshot, keys: Seq[String], matched: DataFrame): Long = {
    require(keys.nonEmpty, "MoR deletes need the table's row keys")
    val schema = snap.schema.getOrElse(
      readSnapshot(spark, basePath, snap).drop("part_year").schema)
    keys.foreach(k => require(schema.fieldNames.contains(k),
      s"delete key $k is not a column of $basePath"))
    val release = graft.core.Pins.since(spark.sparkContext)
    try {
      val tuples = matched
        .select((keys :+ "part_year").map(col): _*)
        .localCheckpoint() // pin: counted here, then written below
      val n = tuples.count()
      if (n == 0L) return 0L
      val next = snap.version + 1
      val dDir = deleteVdir(next)
      tuples.write.mode("overwrite")
        .parquet(new Path(dataDir(basePath), dDir).toString)
      commit(spark, basePath,
        Staged(snap.copy(version = next, deletes = snap.deletes :+ dDir)))
      n
    } finally release() // this call's pins, once the tuple file is durable
  }

  /** CDC APPLY — consume a [[changes]] feed and converge this table to
    * the producer's content: inserts/updates land as one keyed upsert
    * ([[mergeIntoRetrying]] — the OCC loop, since a replica typically
    * has other writers), deletes as one merge-on-read tuple commit
    * ([[deleteKeysMoR]] — O(deleted keys), no partition rewrites on the
    * replica either). This is table REPLICATION on the engine's own
    * primitives: `primary.changes(from, to)` → `replica.applyChanges`,
    * at O(changed rows) cost per sync, including the inverse diff a
    * [[restore]] emits — a rollback on the primary replays onto
    * replicas like any other change. Apply feeds IN VERSION ORDER;
    * within one feed the diff is keyed, so upserts and deletes commute
    * with each other ([[changes]] never emits both for one key).
    * Returns (upserted, deleted) row counts. */
  def applyChanges(spark: SparkSession, basePath: String, feed: DataFrame,
      keys: Seq[String], dateCol: String): (Long, Long) = {
    require(feed.columns.contains("change"),
      "a CDC feed carries the 'change' classification column")
    val release = graft.core.Pins.since(spark.sparkContext)
    try {
      // one pass over the (changed-rows-sized) feed, pinned: the upsert
      // and delete arms both read it, and the merge must not observe a
      // feed recomputed after this table's own commit advanced
      val f = feed.localCheckpoint()
      val ups = f.filter(col("change").isin("insert", "update"))
        .drop("change", "part_year")
      val dels = f.filter(col("change") === "delete")
        .select(keys.map(col): _*)
      val nUps = ups.count()
      if (nUps > 0L)
        mergeIntoRetrying(spark, ups, basePath, keys, dateCol)
      val nDels =
        if (dels.isEmpty) 0L
        else deleteKeysMoR(spark, basePath, dels, keys)
      (nUps, nDels)
    } finally release()
  }

  /** RESTORE — roll the table back to a retained version (the Delta
    * `RESTORE TABLE ... VERSION AS OF` shape, public): commits a NEW
    * version whose partition pointers, schema, and pending deletes are
    * the target snapshot's, verbatim. Zero data movement — history
    * rolls forward, never rewrites: the bad versions stay readable
    * (and vacuumable) behind the restore, [[changes]] across the
    * restore commit reports exactly the inverse diff (the undo is an
    * ordinary CDC event downstream consumers replay like any other),
    * and a concurrent writer conflicts loudly like any commit. Fails
    * if the target version was vacuumed. Returns the new version.
    * (No rows move; the commit's zone-map pass footer-reads units the
    * current snapshot no longer covered — O(restored files) metadata.) */
  def restore(spark: SparkSession, basePath: String, version: Int): Int = {
    val target = snapshotAt(spark, basePath, version).getOrElse(
      throw new IllegalStateException(
        s"version $version of $basePath does not exist (never committed, or vacuumed)"))
    val cur = currentSnapshot(spark, basePath).getOrElse(
      throw new IllegalStateException(s"no committed manifest under $basePath"))
    val next = cur.version + 1
    commit(spark, basePath, Staged(target.copy(version = next)))
    next
  }

  /** Small-file compaction: rewrite any partition whose file count
    * exceeds what `targetFileBytes` calls for, and commit the result as a
    * new version — the maintenance job every streaming-ingested table
    * needs (per-batch merges leave one small file set per batch; scan
    * cost degrades with open()-per-file, not bytes). Untouched partitions
    * carry forward with zero data movement; the rewrite becomes visible
    * in ONE manifest flip, and the pre-compaction version stays
    * time-travel-readable until [[vacuum]]. Sizing comes from the file
    * statuses the planning loop already lists — planning never scans a
    * row. Returns the number of partitions rewritten (0 = already
    * compact, no commit).
    *
    * `clusterBy` turns compaction into the OPTIMIZE-plus-cluster job the
    * lakehouse engines pair (Delta `OPTIMIZE ... ZORDER BY`): every
    * partition is rewritten range-partitioned + sorted on the given keys
    * (e.g. a [[ZOrderLayout.interleave16]] Morton key), so the same
    * atomic flip that fixes file counts also installs file-level
    * min/max locality for data skipping. */
  /** Compaction's default per-file byte target — shared so callers
    * deriving expectations from it (s24's oracle guard) can never
    * silently diverge from what compact actually does. */
  val DefaultTargetFileBytes: Long = 128L * 1024 * 1024

  def compact(spark: SparkSession, basePath: String,
      targetFileBytes: Long = DefaultTargetFileBytes,
      clusterBy: Seq[org.apache.spark.sql.Column] = Nil): Int = {
    val snap = currentSnapshot(spark, basePath).getOrElse(return 0)
    val dd = dataDir(basePath)
    val f = fs(spark, dd)
    val next = snap.version + 1
    // compaction is the MoR fold: every partition with pending delete
    // tuples is rewritten regardless of file count, so the commit below
    // clears the whole pending set (driver-small: distinct years/dir)
    val deleteYears: Set[Int] = snap.deletes.flatMap { dir =>
      spark.read.parquet(new Path(dd, dir).toString)
        .select(col("part_year")).distinct().collect().map(_.getInt(0))
    }.toSet
    // driver loop over PARTITIONS (bounded: years), not files; sizing
    // from listStatus metadata only
    val plans = snap.parts.toSeq.sortBy(_._1).flatMap { case (y, dir) =>
      val pdir = new Path(dd, s"$dir/part_year=$y")
      val parquets = f.listStatus(pdir)
        .filter(_.getPath.getName.endsWith(".parquet"))
      val bytes = parquets.map(_.getLen).sum
      val want = math.max(1L,
        (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      // a clustering request rewrites every partition: the layout is the
      // point, not just the file count
      if (parquets.length > want || clusterBy.nonEmpty ||
        deleteYears.contains(y)) Some((y, dir, want))
      else None
    }
    if (plans.isEmpty) return 0
    val stageDir = stageVdir(next)
    plans.foreach { case (y, dir, want) =>
      val src = applyDeletesForYear(spark, dd, snap,
        readPart(spark, dd, dir, y, snap.schema), y)
      val arranged =
        if (clusterBy.nonEmpty)
          src.repartitionByRange(want, clusterBy: _*)
            .sortWithinPartitions(clusterBy: _*)
        else src.repartition(want)
      arranged.write.mode("overwrite")
        .parquet(new Path(dd, s"$stageDir/part_year=$y").toString)
    }
    val parts = snap.parts ++ plans.map { case (y, _, _) => y -> stageDir }
    val dels = carryDeletes(spark, basePath, snap,
      plans.map(_._1), next)
    commit(spark, basePath,
      Staged(Snapshot(next, parts, snap.schema, bloomCols = snap.bloomCols,
        deletes = dels)))
    plans.size
  }

  /** Delete data dirs no RETAINED manifest references — superseded
    * versions past the history window and stale crashed stages.
    * `retainVersions` (≥1) is how many trailing manifests stay readable:
    * 1 keeps only the current snapshot (no time travel), N keeps
    * [[readAt]] working for the last N versions — the standard
    * vacuum-trades-history-for-space contract. Dirs ABOVE the latest
    * committed version are never touched: that is where a concurrent
    * merge stages, and deleting it would yank a commit's data out from
    * under it. Once a later commit raises the ceiling past a crashed or
    * race-losing stage's version, its dir becomes unreferenced-below-
    * ceiling and is removed here. Returns the number of data dirs
    * removed. Safe only when no reader is pinned to a vacuumed
    * snapshot. */
  // ---- Named refs (tags): Iceberg's ref concept on the same manifest
  // protocol. A tag pins ONE committed version under a stable name —
  // the training-data provenance primitive: tag the corpus version a
  // model trained on ("model-v3-train") and that exact table state
  // stays readable by name, survives vacuum (tagged versions are
  // retained like the head), and releases its storage only when the
  // tag is dropped. One pointer file per tag under `_refs/`, committed
  // with the dot-tmp + atomic-rename discipline of manifests; re-
  // tagging an existing name moves the pointer (rename-over is the
  // same one-file atomicity).

  private def refsDir(base: String) = new Path(base, "_refs")
  private def requireTagName(name: String): Unit =
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"tag name must be non-empty [A-Za-z0-9._-], got '$name'")

  /** Tag pointer files are GENERATION-SUFFIXED (`name@<gen>.txt`; the
    * legacy bare `name.txt` reads as generation 0) and a re-tag WRITES A
    * NEW GENERATION rather than touching the old one: `@` is outside the
    * tag-name charset so parsing is unambiguous, the fresh file lands by
    * dot-tmp + rename-to-a-new-generation-name (never a delete-then-
    * rename window; note Hadoop's local FS delegates to POSIX rename,
    * which CLOBBERS an existing destination — so two CONCURRENT tag()
    * calls that compute the same next generation resolve last-writer-
    * wins rather than failing loudly; acceptable because a tag is a
    * named pointer with set-semantics, and the no-tag-window guarantee
    * below is unaffected), readers resolve the HIGHEST generation,
    * and only after the new pointer is durable are older generations
    * garbage-collected best-effort. A crash or a racing reader/vacuum at
    * any instant therefore sees at least one pointer for the tag — the
    * previous pin until the flip, the new one after — so a provenance pin
    * can never be silently lost mid-re-tag (the round-12 ADVICE hole: the
    * old delete-then-rename passed through a no-tag state a concurrent
    * vacuum could act on). */
  private def tagGenerations(f: org.apache.hadoop.fs.FileSystem,
      base: String): Map[String, Seq[(Long, Path)]] = {
    val rd = refsDir(base)
    if (!f.exists(rd)) Map.empty
    else f.listStatus(rd).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (!n.endsWith(".txt") || n.startsWith(".")) None
      else {
        val stem = n.stripSuffix(".txt")
        val at = stem.lastIndexOf('@')
        if (at < 0) Some((stem, 0L, st.getPath))
        else stem.substring(at + 1).toLongOption
          .map(g => (stem.substring(0, at), g, st.getPath))
      }
    }.groupBy(_._1).map { case (name, gs) =>
      name -> gs.map(g => (g._2, g._3)).sortBy(_._1)
    }
  }

  private def readRef(f: org.apache.hadoop.fs.FileSystem, p: Path): Option[Int] = {
    if (!f.exists(p)) None // GC'd between list and read: fall to older gen
    else {
      val in = f.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        Some(new String(buf.toByteArray, "UTF-8").trim.toInt)
      } finally in.close()
    }
  }

  /** Pin `version` (default: the current head) under `name`. */
  def tag(spark: SparkSession, basePath: String, name: String,
      version: Option[Int] = None): Int = {
    requireTagName(name)
    val v = version.getOrElse(currentSnapshot(spark, basePath).map(_.version)
      .getOrElse(throw new IllegalStateException(
        s"no committed manifest under $basePath to tag")))
    require(snapshotAt(spark, basePath, v).isDefined,
      s"cannot tag version $v of $basePath: never committed, or vacuumed")
    val rd = refsDir(basePath)
    val f = fs(spark, rd)
    f.mkdirs(rd)
    val prior = tagGenerations(f, basePath).getOrElse(name, Nil)
    val gen = prior.lastOption.map(_._1 + 1).getOrElse(1L)
    val tmp = new Path(rd,
      s".tmp-$name-${java.util.UUID.randomUUID().toString.take(8)}.txt")
    val out = f.create(tmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    if (!f.rename(tmp, new Path(rd, s"$name@$gen.txt")))
      throw new IllegalStateException(s"tag commit failed for $name on $basePath")
    // older generations are garbage only once the new pointer is durable;
    // a crash here leaves extra files that resolve-newest ignores
    prior.foreach { case (_, p) => f.delete(p, false) }
    v
  }

  /** The version a tag points at, if the tag exists (highest generation;
    * falls back to an older generation if GC raced the read). */
  def tagVersion(spark: SparkSession, basePath: String,
      name: String): Option[Int] = {
    requireTagName(name)
    val f = fs(spark, refsDir(basePath))
    tagGenerations(f, basePath).getOrElse(name, Nil).reverseIterator
      .flatMap { case (_, p) => readRef(f, p) }.nextOption()
  }

  /** Every tag on the table (each at its newest generation). */
  def tags(spark: SparkSession, basePath: String): Map[String, Int] = {
    val f = fs(spark, refsDir(basePath))
    tagGenerations(f, basePath).flatMap { case (name, gs) =>
      gs.reverseIterator.flatMap { case (_, p) => readRef(f, p) }.nextOption()
        .map(name -> _)
    }
  }

  /** Read the table state a tag pins — [[readAt]] by name. */
  def readTag(spark: SparkSession, basePath: String, name: String): DataFrame =
    readAt(spark, basePath, tagVersion(spark, basePath, name).getOrElse(
      throw new IllegalStateException(s"no tag '$name' on $basePath")))

  /** Drop a tag (all generations); its version becomes vacuumable again. */
  def dropTag(spark: SparkSession, basePath: String, name: String): Boolean = {
    requireTagName(name)
    val f = fs(spark, refsDir(basePath))
    tagGenerations(f, basePath).getOrElse(name, Nil)
      .map { case (_, p) => f.delete(p, false) }.exists(identity)
  }

  def vacuum(spark: SparkSession, basePath: String, retainVersions: Int = 1): Int = {
    require(retainVersions >= 1, "retainVersions must be >= 1")
    val vs = versions(spark, basePath)
    if (vs.isEmpty) return 0
    vacuumRetaining(spark, basePath, vs, vs.takeRight(retainVersions))
  }

  /** AGE-based snapshot expiry (the Iceberg `expire_snapshots(older_than)`
    * shape): retain the head, every tagged version, and every version
    * committed strictly AFTER `cutoff`; everything older expires under
    * the same liveness rules as [[vacuum]] — data/delete dirs survive
    * while ANY retained snapshot references them, manifests below the
    * retention window drop unless tagged. The time-retention policy a
    * compliance deployment states ("90 days of table history") expressed
    * directly, instead of guessing a version count. */
  def vacuumOlderThan(spark: SparkSession, basePath: String,
      cutoff: java.sql.Timestamp): Int = {
    val vs = versions(spark, basePath)
    if (vs.isEmpty) return 0
    val times = commitTimes(spark, basePath).toMap
    val recent = vs.filter(v => times(v) > cutoff.getTime)
    // the head is never expired — a table always has a readable state
    val window = if (recent.isEmpty) Seq(vs.last) else recent
    vacuumRetaining(spark, basePath, vs, window)
  }

  private def vacuumRetaining(spark: SparkSession, basePath: String,
      vs: Seq[Int], window: Seq[Int]): Int = {
    // tagged versions are pinned: retained exactly like the head window
    val tagged = tags(spark, basePath).values.toSet
    val retained = (window ++ vs.filter(tagged.contains)).distinct.sorted
    val maxCommitted = vs.last
    val dd = dataDir(basePath)
    val f = fs(spark, dd)
    if (!f.exists(dd)) return 0
    val retainedSnaps = retained.flatMap(snapshotAt(spark, basePath, _))
    // live = data dirs AND equality-delete dirs any retained snapshot
    // references; folded delete dirs age out exactly like superseded
    // data dirs once no retained manifest names them
    val live: Set[String] =
      (retainedSnaps.flatMap(_.parts.values) ++
        retainedSnaps.flatMap(_.deletes)).toSet
    val removed = f.listStatus(dd).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isDirectory && !live.contains(n) &&
        dirVersion(n).orElse(deleteDirVersion(n)).exists(_ <= maxCommitted)
    }
    removed.foreach(st => f.delete(st.getPath, true))
    // superseded manifests: everything below the retention WINDOW that
    // no tag pins. The rule is per-version, not "below retained.head":
    // with an old tagged version the head of `retained` drops below the
    // window, and sparing every manifest above it would leave DANGLING
    // manifests — time-travel-resolvable versions whose data dirs this
    // same pass just deleted.
    val md = manifestDir(basePath)
    f.listStatus(md).toSeq.foreach { st =>
      val n = st.getPath.getName
      if (n.matches("v\\d+\\.txt")) {
        val v = n.stripPrefix("v").stripSuffix(".txt").toInt
        if (v < window.head && !tagged.contains(v))
          f.delete(st.getPath, false)
      }
      // commit attempts that crashed between tmp-create and rename leave
      // `.tmp-vNNNNN-<token>.txt` orphans (per-attempt tokens mean no
      // retry ever overwrites them). At or below the committed ceiling
      // their rename can never succeed (destination exists) — garbage.
      // Above the ceiling an attempt may be in flight: left alone, same
      // contract as stage dirs.
      "^\\.tmp-v(\\d+)-[0-9a-f]+\\.txt$".r.findFirstMatchIn(n)
        .map(_.group(1).toInt).filter(_ <= maxCommitted)
        .foreach(_ => f.delete(st.getPath, false))
    }
    removed.size
  }
}
