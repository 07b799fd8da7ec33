package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** `Verify.dump` records every query that threw in
  * verify_failures.json, next to oracle_sql.json, so a failed dump is
  * machine-readable instead of a stderr line only.
  */
class VerifyFailuresSpec extends SparkSpecBase {

  private def readJson(p: Path): Map[String, String] =
    new ObjectMapper().readValue(Files.readString(p),
      classOf[java.util.Map[String, String]]).asScala.toMap

  private def withTempDirs(body: (Path, Path) => Unit): Unit = {
    val sf = Files.createTempDirectory("graft_verify_sf")
    val out = Files.createTempDirectory("graft_verify_out")
    try body(sf, out)
    finally { TempDirs.deleteRecursively(sf); TempDirs.deleteRecursively(out) }
  }

  test("a query that throws on an empty sfDir is listed in verify_failures.json") {
    withTempDirs { (sf, out) =>
      val name = "join_inner_broadcast"
      val failures =
        Verify.dump(spark, sf.toString, out.toString, Some(Set(name)))
      assert(failures.keySet == Set(name))
      val written = readJson(out.resolve("verify_failures.json"))
      assert(written == failures)
      assert(written(name).nonEmpty)
      assert(readJson(out.resolve("oracle_sql.json")).keySet == Set(name))
      assert(!Files.exists(out.resolve(name)))
    }
  }

  test("a clean dump writes an empty failures object") {
    withTempDirs { (_, out) =>
      val name = "join_inner_broadcast"
      assert(Verify.dump(spark, sfDir, out.toString, Some(Set(name))).isEmpty)
      assert(Files.readString(out.resolve("verify_failures.json")) == "{}")
      assert(Files.isDirectory(out.resolve(name)))
    }
  }
}
