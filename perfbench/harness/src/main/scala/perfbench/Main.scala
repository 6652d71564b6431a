package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.GraftSession

/** The benchmark's JVM: sets up one workload, checks its outputs,
  * warms it up, runs timed passes for a fixed time and prints one JSON
  * result line. `perfbench/run.py` builds and launches it; see
  * `perfbench/README.md` for the workloads and metrics.
  *
  * Args: `--workload W --seed N --seconds S --trace 0|1 --slots N
  * --data DIR --expected FILE --work DIR --launched-ms T [--pin]`.
  */
object Main {
  /** Two TPC-H rows (planner- and job-floor-bound) and one pipeline row
    * (`Graph`'s HITS) that starts most of its jobs while it is built.
    * The README shows how they were chosen.
    */
  private val CorpusQueries = Seq("q_tpch_q8", "q_tpch_q18", "q_hits")
  /** Rows of the generated PM2.5 input: enough that a pass grows with the
    * row count, so that per-row work is about half of it.
    */
  private val KMeansRows = 50000

  /** Untimed passes before the timed ones, the cold pass included. */
  private val WarmPasses = 3

  /** One op's wall and CPU seconds (JIT compiler threads left out). */
  final case class OpTime(name: String, wallS: Double, cpuS: Double)
  final case class Pass(index: Int, kind: String, wallS: Double, cpuS: Double,
                        jitCpuS: Double, gcS: Double, jitS: Double, heapMb: Double, load1: Double,
                        ops: Seq[OpTime], failed: Int,
                        layers: Map[String, Double], selfS: Map[String, Double])

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs: Long = gcBeans.map(_.getCollectionTime).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  /** CPU seconds of the JIT compiler threads, read from
    * `/proc/self/task` (Linux; 0 elsewhere). Their number is fixed
    * (`-XX:-UseDynamicNumberOfCompilerThreads`), so none exits and
    * takes its time along.
    */
  private def compilerCpuS: Double = {
    val tasks = Option(new File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.iterator.map { t =>
      try {
        val comm = new String(Files.readAllBytes(new File(t, "comm").toPath), UTF_8)
        if (!comm.contains("CompilerThre")) 0.0
        else {
          val stat = new String(Files.readAllBytes(new File(t, "stat").toPath), UTF_8)
          // fields after the command: state is field 3, utime 14, stime 15
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          (f(11).toLong + f(12).toLong) / 100.0
        }
      } catch { case _: java.io.IOException => 0.0 }
    }.sum
  }
  /** The host's CPU ticks so far, from `/proc/stat`: (steal, all). */
  private def hostTicks: (Long, Long) =
    try {
      val f = Files.readAllLines(new File("/proc/stat").toPath).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case NonFatal(_) => (0L, 0L) }
  private def usedMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  private def liveHeapMb(settle: Boolean = false): Double = {
    System.gc()
    // Spark's ContextCleaner frees broadcasts and shuffles only after a GC
    // has cleared their references, and the next GC collects what it
    // freed; so GCs repeat until one frees less than 1 MB.
    var prev = Double.MaxValue
    var cur = usedMb
    while (settle && prev - cur >= 1.0) {
      Thread.sleep(500)
      System.gc()
      prev = cur
      cur = usedMb
    }
    cur
  }

  def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  private def quantile(xs: collection.Seq[Double], q: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.ceil(q * s.size).toInt - 1).max(0))
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val pin = argv.contains("--pin")
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val slots = args("slots").toInt
    val work = new File(args("work"))
    work.mkdirs()
    val launchedMs = args.get("launched-ms").map(_.toLong)
      .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime)
    val load0 = os.getSystemLoadAverage

    val s0 = System.nanoTime()
    val spark = GraftSession.builder(master = s"local[$slots]", appName = "perfbench")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - s0) / 1e9
    val tr = new Tracer(spark)

    val expectedFile = new File(args("expected"))
    def expected: Map[String, (Long, String)] =
      if (pin) Map.empty
      else Files.readAllLines(expectedFile.toPath, UTF_8).asScala
        .filter(_.nonEmpty).map(_.split("\t")).map(f => f(0) -> (f(1).toLong, f(2))).toMap
    val i0 = System.nanoTime()
    val w: Workload = workload match {
      case "corpus" => new Corpus(CorpusQueries, args("data"), seed, expected)
      case "kmeans" => new KMeansJob(seed, KMeansRows, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val inputsS = (System.nanoTime() - i0) / 1e9

    if (pin) {
      val corpus = w match {
        case c: Corpus => c
        case _ => throw new IllegalArgumentException(s"$workload has no pinned digests")
      }
      val lines = corpus.digests(spark).map { case (q, n, d) => s"$q\t$n\t$d" }
      expectedFile.getParentFile.mkdirs()
      Files.write(expectedFile.toPath, lines.asJava, UTF_8)
      spark.stop()
      return
    }

    var attempted, failed = 0
    val failures = scala.collection.mutable.ArrayBuffer[String]()

    var passNo = 0
    val traceLog = scala.collection.mutable.ArrayBuffer[String]()
    def pass(kind: String, trace: Boolean): Pass = {
      // Warm-up runs the ops in a fixed order, so that every seed warms
      // up alike; the seed orders the timed passes.
      val order = if (kind == "warmup") w.ops else w.order(passNo)
      if (trace) tr.begin()
      var wall, cpu, jitCpu, gc, jit = 0.0
      var bad = 0
      // Each op is timed on its own, so that its output check stays
      // outside the pass's wall and CPU time.
      val opS = order.zipWithIndex.map { case (op, i) =>
        tr.op = i
        val gc0 = gcMs; val jit0 = jitMs; val jc0 = compilerCpuS
        val cpu0 = os.getProcessCpuTime
        val t0 = System.nanoTime()
        val errs =
          try { tr.span("op") { w.run(spark, tr, op) }; Nil }
          catch { case NonFatal(e) => Seq(s"$op: $e") }
        val dt = (System.nanoTime() - t0) / 1e9
        wall += dt
        val jc = compilerCpuS - jc0
        val dc = (os.getProcessCpuTime - cpu0) / 1e9 - jc
        cpu += dc
        jitCpu += jc
        gc += (gcMs - gc0) / 1e3
        jit += (jitMs - jit0) / 1e3
        val all = if (errs.nonEmpty) errs else w.check(op)
        failures ++= all
        if (all.nonEmpty) bad += 1
        OpTime(op, dt, dc)
      }
      if (trace) tr.end()
      attempted += order.size
      failed += bad
      val heap = liveHeapMb()
      val spans = if (trace) tr.allSpans else Nil
      val (layers, selfS) =
        if (!trace) (Map.empty[String, Double], Map.empty[String, Double])
        else (tr.layerMetrics(slots), tr.selfTimes(spans))
      if (trace) traceLog += Json.obj("pass" -> passNo, "ops" -> order,
        "self_s" -> Json.obj(selfS.toSeq.sortBy(_._1): _*),
        "spans" -> spans.map(s => Json.obj("id" -> s.id, "name" -> s.name,
          "op" -> s.op, "parent" -> s.parent, "start_us" -> s.start, "end_us" -> s.end))).s
      System.err.println(f"[perfbench] $kind pass $passNo: $wall%.3f s wall, $cpu%.3f s cpu, $heap%.0f MB live")
      passNo += 1
      Pass(passNo - 1, kind, wall, cpu, jitCpu, gc, jit, heap, os.getSystemLoadAverage,
        opS, bad, layers, selfS)
    }

    val warm = Seq.fill(WarmPasses)(pass("warmup", trace = false))
    val setupS = (System.currentTimeMillis() - launchedMs) / 1e3

    // Timed passes until `seconds` have gone by. A traced run interleaves
    // untraced and traced passes as U T T U U T T U ..., so that a pass
    // time still falling with warm-up biases neither side.
    val measured = scala.collection.mutable.ArrayBuffer[Pass]()
    val m0 = System.nanoTime()
    val ticks0 = hostTicks
    val minPasses = if (traced) 4 else 3
    while (measured.size < minPasses || (System.nanoTime() - m0) / 1e9 < seconds) {
      val t = traced && (measured.size % 4 == 1 || measured.size % 4 == 2)
      measured += pass(if (t) "traced" else "measured", trace = t)
    }
    val stealShare = {
      val ((s0, a0), (s1, a1)) = (ticks0, hostTicks)
      if (a1 > a0) (s1 - s0).toDouble / (a1 - a0) else 0.0
    }
    val endHeap = liveHeapMb(settle = true)
    val defects = w.knownDefects(spark)
    defects.foreach { case (k, v) => System.err.println(s"[perfbench] known defect $k: $v") }
    val plain = measured.filter(_.kind == "measured")
    val withTrace = measured.filter(_.kind == "traced")

    // A pass's time is the sum of its ops' medians over the passes: a
    // slow op in one pass and another in the next shift neither median.
    def opMedians(ps: collection.Seq[Pass], f: OpTime => Double): Double =
      ps.flatMap(_.ops).groupBy(_.name).values.map(xs => median(xs.map(f))).sum
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("pass_s", opMedians(plain, _.wallS), "s"),
        ("cpu_s", opMedians(plain, _.cpuS), "s"),
        ("setup_s", setupS, "s"),
        ("live_heap_mb", endHeap, "MB"))
      else {
        val keys = withTrace.head.layers.keys.toSeq.sorted
        keys.map(k => (k, median(withTrace.map(_.layers(k))), unitOf(k))) ++ Seq(
          ("jvm.gc_s", median(withTrace.map(_.gcS)), "s"),
          ("jvm.jit_s", median(withTrace.map(_.jitS)), "s"),
          ("jvm.live_heap_mb", median(withTrace.map(_.heapMb)), "MB"),
          ("GraftSession.session_s", sessionS, "s"),
          ("trace.pass_s", opMedians(withTrace, _.wallS), "s"),
          ("trace.untraced_pass_s", opMedians(plain, _.wallS), "s"),
          ("trace.overhead_s",
            opMedians(withTrace, _.wallS) - opMedians(plain, _.wallS), "s"))
      }

    val pooled = measured.flatMap(_.ops).groupBy(_.name).toSeq.sortBy(_._1).map {
      case (op, xs) => op -> Json.obj("n" -> xs.size,
        "p50_s" -> median(xs.map(_.wallS)), "p90_s" -> quantile(xs.map(_.wallS), 0.9))
    }
    def passJson(p: Pass): Json.Raw = Json.obj("index" -> p.index, "kind" -> p.kind,
      "wall_s" -> p.wallS, "cpu_s" -> p.cpuS, "jit_cpu_s" -> p.jitCpuS, "gc_s" -> p.gcS, "jit_s" -> p.jitS,
      "live_heap_mb" -> p.heapMb, "load1" -> p.load1, "failed" -> p.failed,
      "layers" -> Json.obj(p.layers.toSeq.sortBy(_._1): _*),
      "self_s" -> Json.obj(p.selfS.toSeq.sortBy(_._1): _*),
      "ops" -> Json.obj(p.ops.map(o => o.name -> Json.obj("wall_s" -> o.wallS, "cpu_s" -> o.cpuS)): _*))
    val tag = s"$workload-seed$seed-trace${if (traced) 1 else 0}"
    Files.write(new File(work, s"detail-$tag.json").toPath, Json.obj(
      "workload" -> workload, "seed" -> seed, "slots" -> slots,
      "seconds" -> seconds, "traced" -> traced,
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "load1_start" -> load0, "load1_end" -> os.getSystemLoadAverage,
      "steal_share" -> stealShare,
      "setup" -> Json.obj("setup_s" -> setupS, "session_s" -> sessionS,
        "inputs_s" -> inputsS,
        "warmup_walls_s" -> warm.map(_.wallS).toSeq),
      "attempted" -> attempted, "failed" -> failed,
      "fail_ratio" -> failed.toDouble / attempted,
      "failures" -> failures.take(50).toSeq,
      "known_defects" -> Json.obj(defects: _*),
      "passes" -> (warm ++ measured).map(passJson).toSeq,
      "ops" -> Json.obj(pooled: _*)
    ).s.getBytes(UTF_8))
    if (traced) Files.write(new File(work, s"trace-$tag.json").toPath,
      traceLog.mkString("[", ",\n", "]").getBytes(UTF_8))

    spark.stop()
    failures.take(20).foreach(f => System.err.println(s"[perfbench] failure: $f"))
    println(Json.obj(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj("value" -> v, "unit" -> u) }: _*)).s)
  }

  private def unitOf(k: String): String =
    if (k.endsWith("_s")) "s" else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_ratio")) "ratio" else "count"
}

/** Minimal JSON rendering for the result line and the detail files. */
object Json {
  final case class Raw(s: String)
  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
