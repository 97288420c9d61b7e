package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class MetricsSpec extends AnyFunSuite {
  private val json = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))

  private def declared(key: String) =
    json.get(key).elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq

  test("BENCHMARK.json declares exactly the metrics the benchmark reports") {
    assert(declared("end_to_end") == Metrics.EndToEnd)
    assert(declared("per_layer") == Metrics.perLayerNames)
    assert(json.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq == Main.Workloads)
  }

  test("the result line carries every digit and parses as JSON") {
    val line = Main.resultLine(correct = true, 3, 0, Seq(("pass_s", 12.345678901234, "s"), ("n", 7.0, "count")))
    val parsed = new ObjectMapper().readTree(line)
    assert(parsed.get("metrics").get("pass_s").get("value").asDouble() == 12.345678901234)
    assert(parsed.get("attempted").asInt() == 3)
    assert(line.contains("12.345678901234"))
  }
}
