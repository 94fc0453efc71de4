package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{Bench, GraftExtensions}

/** The benchmark's driver program: one workload, closed loop, one caller
  * thread.
  *
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --data <dir> --work <dir>`
  *
  * Set-up starts the session, builds and checks the inputs three times (the
  * median counts) and runs the workload's warm-up passes. Passes then
  * repeat until `--seconds` have gone by. The last stdout line is the result object; the
  * line before it holds diagnostics that no metric is adjusted by: the
  * `Bench.calibrate` time and /proc/loadavg before and after each pass.
  *
  * With `--trace 1` a SpanListener is attached on half the passes. Counters
  * come from the traced passes; the untraced ones give the tracing overhead.
  */
object Main {
  val SetupRounds = 3

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: String)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, trace,
      need("data"), need("work"))
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("OFF")
    spark
  }

  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").getLines().next().split(' ').take(3).mkString(" ")
    catch { case _: Exception => "n/a" }

  /** Jiffies of the host's CPU line in /proc/stat: (steal, total). */
  private def cpuStat(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+").drop(1)
        .take(8).map(_.toLong)
      (f(7), f.sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Seconds the JVM has spent in GC pauses and in JIT compilation. */
  private def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def jitS(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Block-manager storage in use, in MB, after a GC has let Spark's cleaner
    * drop what nothing references any more. */
  private def storageHeldMb(spark: SparkSession): Double = {
    System.gc()
    Thread.sleep(200)
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1e6
  }

  private def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Per-span sums of one traced pass, plus the pass-level extras. */
  private def layerValues(rec: Recorder, calls: Seq[Call]): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val perQueryJobs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    for ((c, k) <- rec.counters(calls)) {
      def add(m: String, v: Double): Unit = out(s"${c.span}.$m") += v
      add("wall_s", c.wallS)
      add("driver_s", Trace.driverSeconds(c.startMs, c.endMs, c.wallS, k.jobIntervals.toSeq))
      add("jobs", k.jobs)
      add("stages", k.stages)
      add("tasks", k.tasks)
      add("task_cpu_s", k.taskCpuNs / 1e9)
      add("task_run_s", k.taskRunMs / 1e3)
      add("task_wait_s", k.taskWaitMs / 1e3)
      add("shuffle_write_mb", k.shuffleWriteB / 1e6)
      add("shuffle_read_mb", k.shuffleReadB / 1e6)
      add("spill_mb", k.spillB / 1e6)
      if (Metrics.inputSpans(c.span)) add("input_mb", k.inputB / 1e6)
      if (c.span.startsWith("queries.")) perQueryJobs(c.key) += k.jobs
    }
    if (perQueryJobs.nonEmpty) out("queries.jobs_per_query.max") = perQueryJobs.values.max
    out.toMap
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o.work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val rec = new Recorder(spark)
    val w = Workload(o.workload, spark, o.data, o.work, o.seed)

    val inputRounds = (1 to SetupRounds).map(r => time(w.prepare(r))._2)
    val inputS = Metrics.median(inputRounds)
    // a traced run traces the last warm-up pass too, only to check that its
    // counts repeat in the measured passes
    val listener = new SpanListener
    val warmS = (1 to w.warmupPasses).map { i =>
      rec.drainCalls()
      if (o.trace && i == w.warmupPasses) rec.attach(listener)
      time(w.pass(rec))._2
    }
    val warmLayers = if (o.trace) Seq(layerValues(rec, rec.drainCalls())) else { rec.drainCalls(); Nil }
    rec.detach()
    val setupS = sessionS + inputS + warmS.sum

    val passS = mutable.ArrayBuffer.empty[Double]
    val untracedS = mutable.ArrayBuffer.empty[Double]
    val cpuS = mutable.ArrayBuffer.empty[Double]
    val heldMb = mutable.ArrayBuffer.empty[Double]
    val queryS = mutable.ArrayBuffer.empty[Double]
    val queryByKey = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val calib = mutable.ArrayBuffer(Bench.calibrate(spark))
    val loads = mutable.ArrayBuffer(loadavg())
    val steal = mutable.ArrayBuffer.empty[Double]
    val gcPassS = mutable.ArrayBuffer.empty[Double]
    val jitPassS = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var n = 0
    var longestNs = 0L
    // past the workload's minimum, a pass starts only if one as long as the
    // longest so far still ends before the deadline
    val minPasses = math.max(w.minPasses, if (o.trace) 2 else 1)
    while (n < minPasses || System.nanoTime() + longestNs <= deadline) {
      // traced, untraced, untraced, traced, …: drift from a pass still
      // warming up cancels out of the overhead once four passes fit
      val traced = o.trace && (n % 4 == 0 || n % 4 == 3)
      if (traced) rec.attach(listener)
      System.gc()
      val stat0 = cpuStat()
      val cpu0 = processCpuS()
      val (gc0, jit0) = (gcS(), jitS())
      val (_, s) = time(w.pass(rec))
      val cpu = processCpuS() - cpu0
      gcPassS += gcS() - gc0
      jitPassS += jitS() - jit0
      val stat1 = cpuStat()
      steal += (stat1._1 - stat0._1).toDouble / math.max(1L, stat1._2 - stat0._2)
      longestNs = math.max(longestNs, (s * 1e9).toLong)
      val calls = rec.drainCalls()
      if (traced) layers += layerValues(rec, calls)
      rec.detach()
      if (o.trace && !traced) untracedS += s else passS += s
      cpuS += cpu
      for (key <- calls.map(_.key).distinct) {
        val s = calls.filter(_.key == key).map(_.wallS).sum
        queryS += s
        queryByKey.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += s
      }
      heldMb += storageHeldMb(spark)
      calib += Bench.calibrate(spark)
      loads += loadavg()
      n += 1
    }

    val q = Metrics.quantile _
    // a counter that moved between traced passes is listed, never averaged away
    val allLayers = warmLayers ++ layers
    val unsteady = Metrics.perLayer.map(_._1).filter { name =>
      Metrics.exactCounts(name.split('.').last) && allLayers.map(_.getOrElse(name, 0.0)).distinct.size > 1
    }
    val spread = Metrics.perLayer.map(_._1).filter(_.contains("shuffle")).flatMap { name =>
      val xs = allLayers.map(_.getOrElse(name, 0.0))
      if (xs.exists(_ > 0)) Some(s"${Metrics.str(name)}: [${Metrics.num(xs.min)}, ${Metrics.num(xs.max)}]")
      else None
    }
    val diag = Seq(
      s""""workload": ${Metrics.str(o.workload)}""",
      s""""seed": ${o.seed}""",
      s""""cpus": ${Runtime.getRuntime.availableProcessors()}""",
      s""""session_s": ${Metrics.num(sessionS)}""",
      s""""inputs_s": [${inputRounds.map(Metrics.num).mkString(", ")}]""",
      s""""warmup_s": [${warmS.map(Metrics.num).mkString(", ")}]""",
      s""""pass_s": {"q1": ${Metrics.num(q(passS.toSeq, 0.25))}, "median": ${Metrics.num(Metrics.median(passS.toSeq))}, "q3": ${Metrics.num(q(passS.toSeq, 0.75))}, "n": ${passS.size}, "all": [${passS.map(Metrics.num).mkString(", ")}]}""",
      s""""untraced_pass_s": [${untracedS.map(Metrics.num).mkString(", ")}]""",
      s""""query_s_samples": ${queryS.size}""",
      s""""query_s_by_key": {${queryByKey.map { case (k, xs) => s"${Metrics.str(k)}: [${xs.map(Metrics.num).mkString(", ")}]" }.mkString(", ")}}""",
      s""""storage_held_mb": [${heldMb.map(Metrics.num).mkString(", ")}]""",
      s""""failed_ratio": ${Metrics.num(rec.failed.toDouble / rec.attempted)}""",
      s""""failures": [${rec.failures.take(20).map(Metrics.str).mkString(", ")}]""",
      s""""untagged_jobs": ${listener.untagged}""",
      s""""unsteady_counters": [${unsteady.map(Metrics.str).mkString(", ")}]""",
      s""""shuffle_mb_min_max": {${spread.mkString(", ")}}""",
      s""""calibrate_s": [${calib.map(Metrics.num).mkString(", ")}]""",
      s""""loadavg": [${loads.map(Metrics.str).mkString(", ")}]""",
      s""""steal_share": [${steal.map(Metrics.num).mkString(", ")}]""",
      s""""gc_s": [${gcPassS.map(Metrics.num).mkString(", ")}]""",
      s""""jit_s": [${jitPassS.map(Metrics.num).mkString(", ")}]""",
      s""""jvm_s": ${Metrics.num((System.currentTimeMillis() - jvmStartMs) / 1e3)}""")
    println(diag.mkString("""{"diagnostics": {""", ", ", "}}"))

    val values: Map[String, Double] =
      if (!o.trace) Map(
        "setup_s" -> setupS,
        "pass_s" -> Metrics.median(passS.toSeq),
        "query_s.p50" -> q(queryS.toSeq, 0.5),
        "query_s.p90" -> q(queryS.toSeq, 0.9),
        "cpu_s" -> Metrics.median(cpuS.toSeq))
      else Metrics.perLayer.map { case (name, _) =>
        name -> (name match {
          case "trace.overhead_ratio" =>
            Metrics.median(passS.toSeq) / Metrics.median(untracedS.toSeq) - 1
          case "pass.storage_held_mb" => Metrics.median(heldMb.toSeq)
          case "trace.pass_s" => Metrics.median(passS.toSeq)
          case _ => Metrics.median(layers.map(_.getOrElse(name, 0.0)).toSeq)
        })
      }.toMap
    val names = if (o.trace) Metrics.perLayer else Metrics.endToEnd
    println(Metrics.resultLine(rec.failed == 0, rec.attempted, rec.failed, names, values))
    spark.stop()
    if (rec.failed > 0) sys.exit(1)
  }
}
