package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Runtime contract of TempDirs.once and writeOnce: at-most-once
  * builds keyed on the directory, retry-on-failure from an empty
  * directory, and the lock-order guard (a two-lock cycle would
  * otherwise deadlock silently under concurrency).
  */
class TempDirsSpec extends AnyFunSuite {

  private def listing(dir: String): Seq[String] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    finally s.close()
  }

  test("once returns scoped(kind, d) and builds once per (kind, d)") {
    var n = 0
    val dir = TempDirs.once("tds_kind", "in/1") { _ => n += 1 }
    assert(dir == TempDirs.scoped("tds_kind", "in/1"))
    assert(TempDirs.once("tds_kind", "in/1") { _ => n += 1 } == dir)
    assert(n == 1)
  }

  test("a build that writes a file and throws leaves an empty dir for the retry") {
    intercept[RuntimeException](
      TempDirs.once("tds_torn", "in") { dir =>
        Files.writeString(Paths.get(dir, "half.parquet"), "torn")
        sys.error("crash after the first write")
      })
    var seen: Seq[String] = Seq("not built")
    val dir = TempDirs.once("tds_torn", "in") { dir => seen = listing(dir) }
    assert(seen == Seq.empty)
    assert(listing(dir) == Seq.empty)
  }

  test("two kinds on one input dir keep separate flags") {
    var built = Seq.empty[String]
    val a = TempDirs.once("tds_kindA", "shared") { _ => built :+= "a" }
    val b = TempDirs.once("tds_kindB", "shared") { _ => built :+= "b" }
    assert(built == Seq("a", "b"))
    assert(a != b)
  }

  test("writeOnce runs a build at most once per key") {
    var n = 0
    TempDirs.writeOnce("tds_once") { n += 1 }
    TempDirs.writeOnce("tds_once") { n += 1 }
    assert(n == 1)
  }

  test("a failed build stores nothing, so the next caller retries") {
    var n = 0
    intercept[RuntimeException](
      TempDirs.writeOnce("tds_retry") { n += 1; sys.error("boom") })
    TempDirs.writeOnce("tds_retry") { n += 1 }
    assert(n == 2)
  }

  test("self-nested writeOnce on the same key dies loudly") {
    val e = intercept[IllegalStateException](
      TempDirs.writeOnce("tds_self") {
        TempDirs.writeOnce("tds_self") {}
      })
    assert(e.getMessage.contains("re-entered"))
  }

  test("a deliberate two-lock cycle dies with the inversion message, not a deadlock") {
    // first nesting order: X over Y — the inner build fails, so
    // neither key is marked written and both builds stay live
    intercept[RuntimeException](
      TempDirs.writeOnce("tds_cycX") {
        TempDirs.writeOnce("tds_cycY") { sys.error("keep unbuilt") }
      })
    // inverted order: Y over X — under concurrency this is the
    // two-thread deadlock; the guard must kill it here and say why
    val e = intercept[IllegalStateException](
      TempDirs.writeOnce("tds_cycY") {
        TempDirs.writeOnce("tds_cycX") {}
      })
    assert(e.getMessage.contains("lock-order inversion"))
    assert(e.getMessage.contains("tds_cycX") &&
      e.getMessage.contains("tds_cycY"))
  }

  test("one-directional nesting stays legal after the guard") {
    var built = 0
    TempDirs.writeOnce("tds_outer") {
      TempDirs.writeOnce("tds_inner") { built += 1 }
      built += 1
    }
    // same direction again elsewhere is fine (already-built: no-op)
    TempDirs.writeOnce("tds_outer") { built += 10 }
    assert(built == 2)
  }
}
