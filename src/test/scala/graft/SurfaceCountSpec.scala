package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Measured-claims hygiene: the query counts README.md and SCALE.md
  * advertise must equal the registry — the round-5 verdict caught the
  * docs drifting from `SparkEntry.all` (115 vs "the declared 116"),
  * so the numbers are now pinned here and fail the build when a new
  * QueryDef lands without its doc update. */
class SurfaceCountSpec extends AnyFunSuite {

  private val declared = SparkEntry.all.size
  private val oracle = SparkEntry.oracleSql.size
  private val rowsOnly = declared - oracle

  test("README.md advertises the registry's exact counts") {
    val readme = scala.io.Source.fromFile("README.md", "UTF-8").mkString
    val expected =
      s"$declared declared queries, $oracle oracle-checked, $rowsOnly rows-only"
    assert(readme.contains(expected),
      s"README.md must state '$expected' (registry: ${SparkEntry.all.size} defs)")
  }

  test("SCALE.md advertises the registry's exact counts") {
    val scale = scala.io.Source.fromFile("SCALE.md", "UTF-8").mkString
    val expected = s"$declared declared, $oracle DuckDB-oracle-checked"
    assert(scale.contains(expected), s"SCALE.md must state '$expected'")
  }

  test("SCALE.md's bench paragraph quotes the newest driver bench run") {
    // claims-vs-measurements hygiene, round-7 lesson: the doc quoted a
    // stale round's total while a newer BENCH_r*.json sat beside it.
    // Pin the quoted total (and its round number) to the newest file —
    // a new driver bench lands, this fails, the doc gets re-anchored.
    val benches = new java.io.File(".").listFiles()
      .filter(_.getName.matches("BENCH_r\\d+\\.json")).sortBy(_.getName)
    assume(benches.nonEmpty, "no driver bench artifacts present")
    val newest = benches.last
    val body = scala.io.Source.fromFile(newest, "UTF-8").mkString
    // the bench line sits inside the artifact's "tail" string, quotes
    // escaped — match both the raw and embedded forms
    val total = """\\?"metric\\?":\\?"total\\?",\\?"value\\?":([0-9.]+)""".r
      .findFirstMatchIn(body).map(_.group(1).toDouble)
    assert(total.isDefined, s"${newest.getName} has no parseable total")
    val round = newest.getName.stripPrefix("BENCH_r")
      .stripSuffix(".json").toInt
    val scale = scala.io.Source.fromFile("SCALE.md", "UTF-8").mkString
    assert(scale.contains(f"${total.get}%.1f s total"),
      s"SCALE.md must quote ${newest.getName}'s total " +
        f"('${total.get}%.1f s total') — it quotes a stale run")
    assert(scale.contains(s"round $round driver run"),
      s"SCALE.md's bench header must name round $round (the newest run)")
  }

  test("the newest correctness artifact covers the full registry (or the gap is documented)") {
    // round-8 lesson: the driver's correctness artifact silently shrank
    // from 131 to 113 entries (18 queries failed to build) and nothing
    // local went red. Pin it: the newest CORRECTNESS_r*.json must carry
    // one entry per declared query, or SCALE.md must explicitly name the
    // shortfall ("only N of the M declared queries built").
    val arts = new java.io.File(".").listFiles()
      .filter(_.getName.matches("CORRECTNESS_r\\d+\\.json")).sortBy(_.getName)
    assume(arts.nonEmpty, "no driver correctness artifacts present")
    val newest = arts.last
    val body = scala.io.Source.fromFile(newest, "UTF-8").mkString
    // count top-level keys: every entry carries a "rows_match" field
    val entries = "\"rows_match\"".r.findAllIn(body).size
    if (entries != declared) {
      val scale = scala.io.Source.fromFile("SCALE.md", "UTF-8").mkString
        .replaceAll("\\s+", " ") // markdown line-wrap insensitive
      assert(scale.contains(s"only $entries of the $declared declared queries built"),
        s"${newest.getName} has $entries entries but the registry declares " +
          s"$declared — fix the build failures or document the gap in SCALE.md")
    }
  }

  test("every curve-listed query has a recorded row in SCALE.md's curve table") {
    // the round-12 verdict gap made structural: a query added to
    // ScaleCurve.curveQueries without its measured 1x/3x/10x row in
    // SCALE.md is an unrecorded claim — fail the build until the run
    // is recorded (or the query deliberately removed from the list).
    val scale = scala.io.Source.fromFile("SCALE.md", "UTF-8").mkString
    val missing = ScaleCurve.curveQueries.filterNot(q => scale.contains(s"| $q "))
    assert(missing.isEmpty,
      s"curve queries without a SCALE.md curve-table row: ${missing.mkString(", ")}")
  }

  test("README's environment table lists exactly the SPARK_GRAFT_* settings the code reads") {
    // an undocumented setting cannot land, and a removed one cannot
    // linger in the docs: the set of names under src/main/scala must
    // equal the set of rows in README's "Environment settings" table
    val name = "SPARK_GRAFT_[A-Z0-9_]+".r
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val inCode =
      try sources.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .flatMap(p => name.findAllIn(
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8")))
        .toSet
      finally sources.close()
    val readme = scala.io.Source.fromFile("README.md", "UTF-8").getLines()
    val inTable = readme.flatMap(l =>
      "^\\| `(SPARK_GRAFT_[A-Z0-9_]+)` \\|".r.findFirstMatchIn(l).map(_.group(1))).toSet
    assert(inCode.nonEmpty, "no SPARK_GRAFT_* setting found under src/main/scala")
    assert(inCode == inTable,
      s"undocumented: ${(inCode -- inTable).toSeq.sorted.mkString(", ")}; " +
        s"documented but unread: ${(inTable -- inCode).toSeq.sorted.mkString(", ")}")
  }

  test("every ingest stamp the benchmark's tracer reads is a key of its legOf map") {
    // perfbench's Tracer attributes an ingest batch's jobs to legs by the
    // stamp text ingestBatch prints; a renamed stamp would zero its leg
    // without any error. The tracer's file is only read here.
    val tracer = scala.io.Source.fromFile(
      "perfbench/src/main/scala/perfbench/Tracer.scala", "UTF-8").mkString
    val legOf = "val legOf = Map\\(([^)]*)\\)".r.findFirstMatchIn(tracer)
      .map(_.group(1)).getOrElse(fail("no legOf map in Tracer.scala"))
    val keys = "\"([^\"]+)\" ->".r.findAllMatchIn(legOf).map(_.group(1)).toSet
    val all = graft.streaming.ContinuousIngest.Config(corpusPath = "c",
      indexName = "i", textIndexName = Some("t"), annIndexName = Some("a"),
      ivfIndexPath = Some("v"), chunkIndexName = Some("k"), sketchName = Some("s"))
    val familyStamps = graft.streaming.IndexFamily.enabled(all).map(_.stamp)
    assert(familyStamps.size == 6, s"six families, got $familyStamps")
    val missing = (familyStamps ++ Seq("accept decided", "merged",
      "maintenance done")).filterNot(keys)
    assert(missing.isEmpty, s"stamps the tracer does not map: ${missing.mkString(", ")}")
  }

  test("the rows-only set is exactly the one documented exception") {
    val rowsOnlyNames = SparkEntry.all.filter(_.oracle.isEmpty).map(_.name).toSet
    assert(rowsOnlyNames == Set("a15_approx_count_distinct"),
      s"rows-only queries changed: $rowsOnlyNames — update README/SCALE and this spec")
  }
}
