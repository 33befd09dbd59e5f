package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Swap

/** The directory form of the shared stage-then-rename commit, on the
  * local filesystem: every state an interrupted swap can leave, with and
  * without a completeness marker, resolves to exactly one intact live
  * dir. The catalog form's windows are driven through its callers
  * (IndexCompactionSpec, SketchStoreSpec, LshRegrowSpec). */
class SwapSpec extends AnyFunSuite {

  private val fs = FileSystem.getLocal(new Configuration())

  private case class Dirs(stage: Path, live: Path, old: Path)

  private def fresh(): Dirs = {
    val root = new Path(Files.createTempDirectory("swap").toString)
    Dirs(new Path(root, "t__stage"), new Path(root, "t"), new Path(root, "t__old"))
  }

  /** A dir holding one file named `tag`, plus the marker when asked. */
  private def put(p: Path, tag: String, marker: Boolean = false): Unit = {
    fs.create(new Path(p, tag)).close()
    if (marker) fs.create(new Path(p, "_done")).close()
  }

  private def tags(p: Path): Set[String] =
    fs.listStatus(p).map(_.getPath.getName).filterNot(_.startsWith("_"))
      .filterNot(_.startsWith(".")).toSet

  private val marked: Path => Boolean = p => fs.exists(new Path(p, "_done"))

  private def heal(d: Dirs, complete: Path => Boolean = marked): Unit =
    Swap.healDir(fs, d.stage, d.live, d.old, complete)

  private def only(d: Dirs, tag: String): Unit = {
    assert(tags(d.live) == Set(tag))
    assert(!fs.exists(d.stage) && !fs.exists(d.old), "leftovers swept")
  }

  test("a full swap retires the old copy and leaves only the new live dir") {
    val d = fresh()
    put(d.live, "v1"); put(d.stage, "v2")
    Swap.dir(fs, d.stage, d.live, d.old)
    only(d, "v2")
  }

  test("heal: promote a complete stage, restore the old copy, sweep leftovers, or nothing") {
    // between the renames, complete stage: promote it
    val a = fresh()
    put(a.old, "v1"); put(a.stage, "v2", marker = true)
    heal(a)
    only(a, "v2")
    // between the renames, no marker: the old copy IS the table
    val b = fresh()
    put(b.old, "v1"); put(b.stage, "v2")
    heal(b)
    only(b, "v1")
    // same state for a caller without a marker, even with one on disk
    val b2 = fresh()
    put(b2.old, "v1"); put(b2.stage, "v2", marker = true)
    heal(b2, _ => false)
    only(b2, "v1")
    // after the renames: sweep the retired copy, live untouched
    val c = fresh()
    put(c.live, "v2"); put(c.old, "v1")
    heal(c)
    only(c, "v2")
    // before the first rename, complete stage: swept, live stands
    val e = fresh()
    put(e.live, "v1"); put(e.stage, "v2", marker = true)
    heal(e)
    only(e, "v1")
    // cold build, complete stage: promote
    val f = fresh()
    put(f.stage, "v1", marker = true)
    heal(f)
    only(f, "v1")
    // nothing to heal: a partial stage is left for its writer to clear
    val g = fresh()
    put(g.live, "v1"); put(g.stage, "partial")
    heal(g)
    assert(tags(g.live) == Set("v1") && tags(g.stage) == Set("partial"))
    // a partial cold build is never promoted
    val h = fresh()
    put(h.stage, "partial")
    heal(h)
    assert(!fs.exists(h.live))
  }

  test("a rename that returns false is an error naming both paths") {
    val d = fresh()
    put(d.stage, "v1")
    val refusing = new FilterFileSystem(fs) {
      override def rename(src: Path, dst: Path): Boolean = false
    }
    val e = intercept[IllegalStateException](Swap.rename(refusing, d.stage, d.live))
    assert(e.getMessage.contains(d.stage.toString) &&
      e.getMessage.contains(d.live.toString), e.getMessage)
  }
}
