package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Plans` rejects a name that is not a query before it builds a
  * session, so a typo never shows up as a plan failure.
  */
class PlansSpec extends AnyFunSuite {

  test("an unknown query name is a usage error that writes no file") {
    val out = Files.createTempDirectory("plans_spec")
    try {
      val e = intercept[IllegalArgumentException](
        Plans.main(Array(out.toString, "t", "agg_having", "no_such_query")))
      assert(e.getMessage.contains("unknown queries: no_such_query"))
      val files = Files.list(out)
      try assert(files.count() == 0)
      finally files.close()
    } finally TempDirs.deleteRecursively(out)
  }
}
