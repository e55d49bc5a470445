package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {
  private val all = Metrics.EndToEnd ++ Metrics.PerLayer

  test("every metric name matches [A-Za-z0-9_.-]+ and is used once") {
    all.foreach { case (name, _) => assert(name.matches(Metrics.NamePattern), name) }
    assert(all.map(_._1).distinct.size == all.size)
  }

  test("BENCHMARK.json lists exactly the metrics the harness emits") {
    val bench = new ObjectMapper().readTree(new File("../BENCHMARK.json"))
    def listed(key: String) = bench.get(key).elements().asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    assert(listed("end_to_end") == Metrics.EndToEnd)
    assert(listed("per_layer") == Metrics.PerLayer)
    assert(bench.get("workloads").elements().asScala.map(_.get("name").asText).toSeq ==
      Workloads.Names)
  }

  test("the result line is one JSON object with exactly the four keys") {
    val line = Metrics.resultJson(3, 1, Seq(("wall_s", "s", 1.25), ("cpu_s", "s", 2.5e-4)))
    val node = new ObjectMapper().readTree(line)
    assert(node.fieldNames().asScala.toSet == Set("correct", "attempted", "failed", "metrics"))
    assert(!node.get("correct").asBoolean)
    assert(node.get("metrics").get("cpu_s").get("value").asDouble == 2.5e-4)
  }

  test("median takes the middle sample, or the mean of the middle two") {
    assert(Metrics.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Metrics.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}
