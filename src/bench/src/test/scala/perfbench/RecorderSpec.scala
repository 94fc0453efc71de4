package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class RecorderSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("driver time is the span's wall time outside its jobs, within [0, wall]") {
    // 10 s span, jobs cover 2-4 s and 3-6 s (overlapping) and 9-12 s (clipped)
    Trace.driverSeconds(0L, 10000L, 10.0, Seq((2000L, 4000L), (3000L, 6000L), (9000L, 12000L))) shouldBe
      5.0 +- 1e-9
    Trace.driverSeconds(0L, 10000L, 10.0, Nil) shouldBe 10.0
    // jobs covering more than the span, and a wall read a little under the
    // millisecond clock, still give a value inside [0, wall]
    Trace.driverSeconds(1000L, 2000L, 0.9, Seq((0L, 5000L))) shouldBe 0.0
    Trace.driverSeconds(1000L, 2000L, 0.5, Seq((1900L, 1950L))) shouldBe 0.45 +- 1e-9
  }

  test("a traced call records its jobs, and its driver time lies in [0, wall]") {
    val rec = new Recorder(spark)
    rec.attach(new SpanListener)
    rec.call("queries.execute", "probe") {
      Thread.sleep(50) // driver-side work before the job
      spark.range(0, 100000, 1, 4).selectExpr("sum(id)").collect()
    } shouldBe defined
    val calls = rec.drainCalls()
    val Seq((call, counters)) = rec.counters(calls)
    rec.detach()
    counters.jobs should be >= 1
    counters.tasks should be >= 4
    val driver = Trace.driverSeconds(call.startMs, call.endMs, call.wallS, counters.jobIntervals.toSeq)
    driver should be >= 0.045
    driver should be <= call.wallS
  }

  test("a call forced to throw counts as a failed attempt") {
    val rec = new Recorder(spark)
    rec.call("nfl.metric")(1) shouldBe Some(1)
    rec.call("nfl.epa")(throw new IllegalStateException("forced")) shouldBe None
    rec.check("a passing check")(ok = true)
    rec.attempted shouldBe 3
    rec.failed shouldBe 1
    rec.failures.toSeq should have size 1
    rec.failures.head should include("nfl.epa threw IllegalStateException: forced")
    rec.drainCalls().map(_.span) shouldBe Seq("nfl.metric", "nfl.epa")
  }

  test("a value that changes between passes fails its check") {
    val rec = new Recorder(spark)
    rec.same("rows", 10L) shouldBe true
    rec.same("rows", 10L) shouldBe true
    rec.same("rows", 11L) shouldBe false
    rec.failed shouldBe 1
  }
}
