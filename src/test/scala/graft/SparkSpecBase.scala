package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session mirroring the driver's Verify conf
  * (SURVEY.md §5.2.2). sf0.001 keeps the whole suite fast.
  */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A new temp directory holding a copy of the `sfDir` fixtures: a
    * build that runs once per (JVM, input dir) runs again only on a new
    * dir. The caller deletes it.
    */
  def fixtureCopy(prefix: String): java.nio.file.Path = {
    val copy = java.nio.file.Files.createTempDirectory(prefix)
    val ls = java.nio.file.Files.list(java.nio.file.Paths.get(sfDir))
    try ls.forEach(f => java.nio.file.Files.copy(f, copy.resolve(f.getFileName)))
    finally ls.close()
    copy
  }

  /** Runs `f` with `graft.plans.SmallPlanOnePartition` taken off `s`
    * (the suite's session, or a child session the test builds), then
    * puts it back: the once-per-session install has already run, so an
    * engine read inside `f` does not add the rule again. Plans built in
    * `f` get the exchanges that inputs above the rule's gate get.
    */
  def withoutSmallPlanRule[T](s: SparkSession = spark)(f: => T): T = {
    Sessions.install(s)
    val e = s.experimental
    val prev = e.extraOptimizations
    e.extraOptimizations = prev.filterNot(_ == graft.plans.SmallPlanOnePartition)
    try f finally e.extraOptimizations = prev
  }

  /** `plan` holds a shuffle exchange; a broadcast exchange is not one. */
  def shuffles(plan: String): Boolean = "(?<!Broadcast)Exchange".r.findFirstIn(plan).nonEmpty

  /** (Spark jobs, stages) this thread starts while `f` runs. Listener
    * events arrive asynchronously but in order, so once a marker job
    * started after `f` is seen, every job and stage `f` started has been
    * seen too.
    */
  def workDuring(f: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val tag = s"work_during_${System.nanoTime}"
    val (jobs, stages) = (new AtomicInteger, new AtomicInteger)
    val drained = new CountDownLatch(1)
    def probe(p: java.util.Properties) =
      Option(p).map(_.getProperty("graft.probe")).orNull
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = probe(e.properties)
        if (p == tag) jobs.incrementAndGet()
        else if (p == tag + "_end") drained.countDown()
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (probe(e.properties) == tag) stages.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.probe", tag)
      f
      sc.setLocalProperty("graft.probe", tag + "_end")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (jobs.get, stages.get)
    } finally {
      sc.setLocalProperty("graft.probe", null)
      sc.removeSparkListener(listener)
    }
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("WARN")
  }
}
