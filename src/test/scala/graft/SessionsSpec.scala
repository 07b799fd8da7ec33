package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.plans.AsofJoinApi

/** `graft.Sessions`: one memoized child per (parent, name, overrides)
  * that copies the parent's runtime confs and then applies the
  * overrides, and the only place in the program that builds or clones
  * a session.
  */
class SessionsSpec extends SparkSpecBase {

  private val parts = "spark.sql.shuffle.partitions"

  test("child is memoized per parent, name and overrides") {
    val (p1, p2) = (spark.newSession(), spark.newSession())
    val c = Sessions.child(p1, "spec")(parts -> "3")
    assert(Sessions.child(p1, "spec")(parts -> "3") eq c)
    assert(Sessions.child(p1, "spec")(parts -> "5") ne c)
    assert(Sessions.child(p1, "other")(parts -> "3") ne c)
    assert(Sessions.child(p2, "spec")(parts -> "3") ne c)
    assert(c ne p1)
  }

  test("a child copies the parent's runtime confs, its overrides win, the parent is unchanged") {
    val p = spark.newSession()
    p.conf.set("spark.sql.caseSensitive", "true")
    p.conf.set(parts, "5")
    val before = p.conf.getAll
    val c = Sessions.child(p, "spec")(parts -> "3")
    assert(c.conf.get("spark.sql.caseSensitive") == "true")
    assert(c.conf.get(parts) == "3")
    c.conf.set("spark.sql.ansi.enabled", "false")
    assert(p.conf.getAll == before)
    // the snapshot is taken when the child is made
    p.conf.set("spark.sql.caseSensitive", "false")
    assert(Sessions.child(p, "spec")(parts -> "3").conf.get("spark.sql.caseSensitive") == "true")
  }

  test("the as-of facade runs on the caller's session when AQE is off, else on one child") {
    def joined(s: org.apache.spark.sql.SparkSession) = {
      val left = s.range(10).select((col("id") % 3).as("k"), (col("id") * 10).as("t"))
      val right = s.range(10).select((col("id") % 3).as("rk"), (col("id") * 7).as("rt"),
        col("id").as("v"))
      AsofJoinApi.asofJoin(s, left, right, "k", "rk", "t", "rt", Seq("v"))
    }
    val off = spark.newSession()
    off.conf.set("spark.sql.adaptive.enabled", "false")
    assert(joined(off).sparkSession eq off)
    val on = spark.newSession()
    on.conf.set("spark.sql.adaptive.enabled", "true")
    val first = joined(on)
    assert(first.sparkSession ne on)
    assert(first.sparkSession.conf.get("spark.sql.adaptive.enabled") == "false")
    assert(joined(on).sparkSession eq first.sparkSession)
    assert(first.collect().toSeq == joined(off).collect().toSeq)
  }

  test("only Sessions builds or clones a session in the program") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val walk = Files.walk(root)
    val hits = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains("SparkSession.builder()") || line.contains(".newSession()") =>
          s"${root.relativize(f)}:${i + 1}"
      }
    } finally walk.close()
    assert(hits.nonEmpty && hits.forall(_.startsWith("graft/Sessions.scala:")), hits.mkString("\n"))
  }
}
