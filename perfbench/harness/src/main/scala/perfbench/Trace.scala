package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval, in epoch microseconds. `op` is the pass-local op
  * index; `parent` is -1 at the top of an op.
  */
final case class Span(id: Int, name: String, op: Int, parent: Int,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

/** Records spans around the harness's calls into each engine layer and,
  * through Spark's public listener APIs, the jobs, stages, tasks and
  * planning phases those calls start. Nothing is recorded while
  * `enabled` is false; the listeners are attached only while it is true,
  * so an untraced pass runs exactly the code of an untraced run.
  */
final class Tracer(spark: SparkSession) {
  private val clockBase =
    System.currentTimeMillis() * 1000 - System.nanoTime() / 1000
  def nowUs: Long = clockBase + System.nanoTime() / 1000

  private var enabled = false
  private var nextId = 0
  private var open: List[Int] = Nil
  var op = -1
  val spans = mutable.ArrayBuffer[Span]()
  /** Counts measured at span boundaries (e.g. Lloyd iterations). */
  val counts = mutable.Map[String, Double]().withDefaultValue(0.0)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = nowUs
      try body
      finally {
        open = open.tail
        spans += Span(id, name, op, parent, t0, nowUs)
      }
    }

  def count(name: String, v: => Double): Unit = if (enabled) counts(name) += v

  // ---- listener side ------------------------------------------------------
  final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int])
  final case class Stage(id: Int, start: Long, end: Long)
  final class Tasks {
    var n, failures = 0L
    var runMs, cpuNs, shuffleRead, shuffleWrite, spill, input, output = 0L
  }

  private val sentinelKey = "perfbench.sentinel"
  @volatile private var sentinelJob = -1
  @volatile private var sentinelStages = Set.empty[Int]
  @volatile private var drained = new CountDownLatch(1)
  val jobs = mutable.ArrayBuffer[Job]()
  val stages = mutable.ArrayBuffer[Stage]()
  @volatile var tasks = new Tasks
  val phases = mutable.ArrayBuffer[(String, Long, Long)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = e.properties
      if (p != null && p.getProperty(sentinelKey) != null) {
        sentinelJob = e.jobId
        sentinelStages = e.stageIds.toSet
      }
      else jobs += Job(e.jobId, e.time * 1000, -1, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (e.jobId == sentinelJob) drained.countDown()
      else jobs.find(_.id == e.jobId).foreach(_.end = e.time * 1000)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = e.stageInfo
      if (!sentinelStages(s.stageId))
        for (a <- s.submissionTime; b <- s.completionTime)
          stages += Stage(s.stageId, a * 1000, b * 1000)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (!sentinelStages(e.stageId)) {
        tasks.n += 1
        if (e.reason != Success) tasks.failures += 1
        val m = e.taskMetrics
        if (m != null) {
          tasks.runMs += m.executorRunTime
          tasks.cpuNs += m.executorCpuTime
          tasks.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          tasks.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          tasks.spill += m.diskBytesSpilled
          tasks.input += m.inputMetrics.bytesRead
          tasks.output += m.outputMetrics.bytesWritten
        }
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = phases.synchronized {
      for ((name, p) <- qe.tracker.phases)
        phases += ((name, p.startTimeMs * 1000, p.endTimeMs * 1000))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  /** Starts recording a pass. The listeners are attached first and the
    * queue drained, so that events still queued from the previous pass
    * are cleared with its records instead of counted in this one.
    */
  def begin(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    drain()
    spans.clear(); counts.clear(); jobs.clear(); stages.clear(); phases.clear()
    tasks = new Tasks
    enabled = true
  }

  /** Stops recording, once every event of the pass has arrived. */
  def end(): Unit = {
    enabled = false
    drain()
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Listener events are delivered asynchronously, so a one-task sentinel
    * job is run and its end event awaited: the listener queue is FIFO, so
    * every event posted before the sentinel has arrived by then.
    */
  private def drain(): Unit = {
    val sc = spark.sparkContext
    drained = new CountDownLatch(1)
    sc.setLocalProperty(sentinelKey, "1")
    try sc.parallelize(Seq(0), 1).count()
    finally sc.setLocalProperty(sentinelKey, null)
    if (!drained.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener events did not drain")
  }

  /** Length of the union of [start, end) intervals. */
  private def unionUs(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var first = true
    for ((s, e) <- iv.sortBy(_._1)) {
      if (first || s > curE) {
        if (!first) total += curE - curS
        curS = s; curE = e; first = false
      } else curE = math.max(curE, e)
    }
    if (first) 0L else total + curE - curS
  }

  /** Job and stage records as spans under the harness span that was open
    * when each started, so that every layer's self time can be computed.
    */
  def allSpans: Seq[Span] = {
    var id = nextId
    val own = spans.toSeq
    def innermost(t: Long): Option[Span] =
      own.filter(s => s.start <= t && t <= s.end).sortBy(_.dur).headOption
    val jobSpans = jobs.toSeq.map { j =>
      val p = innermost(j.start)
      id += 1
      j -> Span(id, "spark.job", p.map(_.op).getOrElse(-1),
        p.map(_.id).getOrElse(-1), j.start, math.max(j.start, j.end))
    }
    val stageSpans = stages.toSeq.flatMap { s =>
      jobSpans.find { case (j, _) => j.stages.contains(s.id) }.map { case (_, js) =>
        id += 1
        Span(id, "spark.stage", js.op, js.id, s.start, s.end)
      }
    }
    own ++ jobSpans.map(_._2) ++ stageSpans
  }

  /** Per span name: total duration minus the part covered by its children. */
  def selfTimes(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = unionUs(kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a })
        (s.dur - covered) / 1e6
      }.sum
    }
  }

  /** The pass's per-layer metrics (seconds, counts, MB). */
  def layerMetrics(slots: Int): Map[String, Double] = {
    val ops = spans.filter(_.parent == -1).toSeq
    def total(name: String): Double = spans.filter(_.name == name).map(_.dur).sum / 1e6
    def within(name: String)(t: Long): Boolean =
      spans.exists(s => s.name == name && s.start <= t && t <= s.end)
    def phase(n: String): Double =
      phases.filter(_._1 == n).map { case (_, a, b) => b - a }.sum / 1e6
    val stageIv = stages.toSeq.map(s => (s.start, s.end))
    val union = unionUs(stageIv) / 1e6
    val gap = ops.map { o =>
      o.dur - unionUs(stageIv.filter { case (a, _) => a >= o.start && a <= o.end }
        .map { case (a, b) => (a, math.min(b, o.end)) })
    }.sum / 1e6
    val lloydJobs = jobs.count(j => within("operators.lloyd")(j.start))
    val iters = counts("operators.lloyd_iters")
    val mb = 1e6
    val taskRun = tasks.runMs / 1e3
    Map(
      "plans.analysis_s" -> phase("analysis"),
      "plans.optimization_s" -> phase("optimization"),
      "plans.planning_s" -> phase("planning"),
      "queries.build_s" -> total("queries.build"),
      "queries.build_jobs" -> jobs.count(j => within("queries.build")(j.start)).toDouble,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> tasks.n.toDouble,
      "spark.stage_union_s" -> union,
      "spark.driver_gap_s" -> gap,
      "spark.task_run_s" -> taskRun,
      "spark.task_cpu_s" -> tasks.cpuNs / 1e9,
      "spark.slot_busy_ratio" -> (if (union > 0) taskRun / (union * slots) else 0.0),
      "spark.shuffle_read_mb" -> tasks.shuffleRead / mb,
      "spark.shuffle_write_mb" -> tasks.shuffleWrite / mb,
      "spark.spill_mb" -> tasks.spill / mb,
      "spark.input_mb" -> tasks.input / mb,
      "spark.output_mb" -> tasks.output / mb,
      "spark.task_failures" -> tasks.failures.toDouble,
      "operators.lloyd_s" -> total("operators.lloyd"),
      "operators.lloyd_iters" -> iters,
      "operators.lloyd_jobs_per_iter" -> (if (iters > 0) lloydJobs / iters else 0.0),
      "operators.assign_s" -> total("operators.assign"),
      "sources.write_s" -> total("sources.write"),
      "sources.write_mb" -> counts("sources.write_bytes") / mb,
    )
  }
}
