package perfbench

import scala.collection.mutable

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark counters of one call, summed over the events of the jobs it ran. */
final class Counters {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskCpuNs = 0L
  var taskRunMs = 0L
  var taskWaitMs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillB = 0L
  var inputB = 0L
  /** (start, end) of each job in epoch milliseconds. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Collects counters per call. The caller thread tags its jobs through a
  * local property; Spark copies local properties to the threads it starts
  * for a query (broadcasts, subqueries), so their jobs carry the tag too. */
final class SpanListener extends SparkListener {
  private val jobTag = mutable.Map.empty[Int, String]
  private val stageTag = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val byTag = mutable.Map.empty[String, Counters]
  private var untaggedJobs = 0

  private def counters(tag: String) = byTag.getOrElseUpdate(tag, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanListener.TagKey))) match {
      case Some(tag) =>
        jobTag(e.jobId) = tag
        jobStart(e.jobId) = e.time
        e.stageIds.foreach(stageTag(_) = tag)
        counters(tag).jobs += 1
      case None => untaggedJobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTag.remove(e.jobId).foreach { tag =>
      counters(tag).jobIntervals += ((jobStart.remove(e.jobId).get, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageTag.get(e.stageInfo.stageId).foreach(counters(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageTag.get(e.stageId).foreach { tag =>
      val c = counters(tag)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskCpuNs += m.executorCpuTime
        c.taskRunMs += m.executorRunTime
        // the scheduler delay of Spark's UI: task lifetime not spent
        // deserializing, running, serializing or fetching the result
        val info = e.taskInfo
        c.taskWaitMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        c.spillB += m.diskBytesSpilled
        c.inputB += m.inputMetrics.bytesRead
      }
    }
  }

  /** Removes and returns the counters of `tag`; drain the bus first. */
  def take(tag: String): Counters = synchronized(byTag.remove(tag).getOrElse(new Counters))

  def untagged: Int = synchronized(untaggedJobs)
}

object SpanListener {
  val TagKey = "perfbench.span"
}

/** One timed call into a layer's public function. */
final case class Call(span: String, key: String, tag: String, wallS: Double,
    startMs: Long, endMs: Long)

/** Times calls, counts failed calls and failed checks, and tags the jobs of
  * each call while a listener is attached. */
final class Recorder(spark: SparkSession) {
  private val sc = spark.sparkContext
  private var listener: Option[SpanListener] = None
  private var seq = 0
  private val calls = mutable.ArrayBuffer.empty[Call]
  private val firstSeen = mutable.Map.empty[String, Any]
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]

  def tracing: Boolean = listener.isDefined

  def attach(l: SpanListener): Unit = { sc.addSparkListener(l); listener = Some(l) }

  def detach(): Unit = {
    listener.foreach { l => BusDrain(sc); sc.removeSparkListener(l) }
    listener = None
  }

  /** Runs `body` as one call of `span`. A throw counts as a failed call and
    * yields None; `key` groups the calls that make up one query. */
  def call[A](span: String, key: String = "")(body: => A): Option[A] = {
    seq += 1
    val tag = s"$span#$seq"
    attempted += 1
    if (tracing) sc.setLocalProperty(SpanListener.TagKey, tag)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out =
      try Some(body)
      catch { case e: Exception =>
        failed += 1
        failures += s"$span ${if (key.isEmpty) "" else key + " "}threw ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("").take(160)
        None
      } finally sc.setLocalProperty(SpanListener.TagKey, null)
    calls += Call(span, if (key.isEmpty) span else key, tag,
      (System.nanoTime() - t0) / 1e9, startMs, System.currentTimeMillis())
    out
  }

  /** Counts one correctness check. */
  def check(what: String)(ok: Boolean): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; failures += s"check failed: $what" }
    ok
  }

  /** Checks that `value` equals the first value seen under `what`. */
  def same(what: String, value: Any): Boolean =
    check(s"$what changed between passes") {
      firstSeen.getOrElseUpdate(what, value) == value
    }

  /** Returns and forgets the calls made since the last `drainCalls`. */
  def drainCalls(): Seq[Call] = { val out = calls.toList; calls.clear(); out }

  /** Counters of each call; drains the bus once first. */
  def counters(cs: Seq[Call]): Seq[(Call, Counters)] = listener match {
    case Some(l) => BusDrain(sc); cs.map(c => c -> l.take(c.tag))
    case None => Seq.empty
  }
}

object Trace {
  /** The part of a call's wall time during which none of its jobs ran.
    * Job intervals are clipped to the call's own interval and merged, so
    * the result lies in [0, wallS]. */
  def driverSeconds(startMs: Long, endMs: Long, wallS: Double,
      jobs: Seq[(Long, Long)]): Double = {
    val clipped = jobs.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for ((a, b) <- clipped) {
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.min(wallS, math.max(0.0, wallS - covered / 1000.0))
  }
}
