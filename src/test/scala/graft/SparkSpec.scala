package graft

import java.util.Properties
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all suites (one JVM-wide session via
  * getOrCreate; suites run sequentially in the forked test JVM).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(master = "local[4]", appName = "graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Runs `body` with the given session confs set, restoring them after. */
  def withConf[T](confs: (String, String)*)(body: => T): T = {
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Runs `body` with generated code forced on (whole-stage codegen, no
    * interpreted fallback) or off (interpreted expression eval). */
  def withCodegen[T](on: Boolean)(body: => T): T = withConf(
    "spark.sql.codegen.wholeStage" -> on.toString,
    "spark.sql.codegen.factoryMode" -> (if (on) "CODEGEN_ONLY" else "NO_CODEGEN"))(body)

  /** Result of `body` and the jobs and stages it started. Only those of
    * a job group set here are counted, so earlier tests' late events do
    * not leak in; a sentinel job outside the group, run after `body`,
    * drains the listener bus (it delivers events in order). A stage
    * whose shuffle output is reused is skipped, not submitted, and so
    * not counted.
    */
  def jobsOf[T](body: => T): (T, Ran) = {
    val sc = spark.sparkContext
    val group = s"counted-${System.nanoTime()}"
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val drained = new CountDownLatch(1)
    def groupOf(p: Properties) = Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = groupOf(e.properties) match {
        case Some(`group`) => jobs.incrementAndGet()
        case Some(g) if g == group + "-sentinel" => drained.countDown()
        case _ => ()
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (groupOf(e.properties).contains(group)) stages.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(group + "-sentinel", "drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(30, TimeUnit.SECONDS), "listener bus did not drain")
      (out, Ran(jobs.get(), stages.get()))
    } finally sc.removeSparkListener(listener)
  }
}

/** Jobs started and stages submitted by one [[SparkSpec.jobsOf]] body. */
final case class Ran(jobs: Int, stages: Int)
