package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The names the benchmark prints are the names BENCHMARK.json declares. */
class MetricNamesSpec extends AnyFunSuite with Matchers {

  // tests run from src/bench; BENCHMARK.json sits at the repository root
  private lazy val spec = new ObjectMapper().readTree(new File("../../BENCHMARK.json"))

  private def declared(key: String): Seq[(String, String)] =
    spec.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("end-to-end metrics match BENCHMARK.json, names and units") {
    declared("end_to_end") shouldBe Metrics.endToEnd
  }

  test("per-layer metrics match BENCHMARK.json, names and units") {
    declared("per_layer") shouldBe Metrics.perLayer
  }

  test("workloads match BENCHMARK.json") {
    spec.get("workloads").elements().asScala.map(_.get("name").asText).toSeq shouldBe
      Workload.names
  }

  test("the result line carries every metric by name and unit") {
    val values = Metrics.endToEnd.map(_._1 -> 1.5).toMap
    val line = new ObjectMapper().readTree(
      Metrics.resultLine(correct = true, 3, 0, Metrics.endToEnd, values))
    line.fieldNames().asScala.toSeq shouldBe Seq("correct", "attempted", "failed", "metrics")
    val metrics = line.get("metrics")
    metrics.fieldNames().asScala.toSeq shouldBe Metrics.endToEnd.map(_._1)
    for ((n, u) <- Metrics.endToEnd) {
      metrics.get(n).get("unit").asText shouldBe u
      metrics.get(n).get("value").asDouble shouldBe 1.5
    }
  }
}
