package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The one stdout line of `graft.Bench`: its shape, and a failed query
  * counted as a failure rather than subtracted from the total.
  */
class BenchLineSpec extends AnyFunSuite {
  private val walls = Seq("a" -> 1.5, "b" -> -1.0, "c" -> 2.0)
  private def parse(s: String) = new ObjectMapper().readTree(s)

  test("the bench line is one JSON object with the total, the sf and every query") {
    val text = Bench.line("/data/sf0.1", walls)
    assert(!text.contains("\n"))
    val json = parse(text)
    assert(json.isObject)
    assert(json.fieldNames().asScala.toSet ==
      Set("metric", "value", "unit", "sf", "n_queries", "failed", "queries"))
    assert(json.get("metric").asText == "total")
    assert(json.get("unit").asText == "sec")
    assert(json.get("sf").asText == "/data/sf0.1")
    assert(json.get("n_queries").asInt == 3)
    val queries = json.get("queries")
    assert(queries.fieldNames().asScala.toSeq == Seq("a", "b", "c"))
    assert(queries.get("b").asDouble == -1.0)
  }

  test("a query that failed every run is counted as failed, not subtracted from the total") {
    val json = parse(Bench.line("sf", walls))
    assert(json.get("value").asDouble == 3.5)
    assert(json.get("failed").asInt == 1)
  }

  test("the total is the sum of the printed walls and quotes survive in the sf") {
    val json = parse(Bench.line("a\"b\\c", Seq("x" -> 0.1004, "y" -> 0.1004)))
    assert(json.get("sf").asText == "a\"b\\c")
    // 0.100 + 0.100 as printed, not the unrounded 0.2008.
    assert(json.get("value").asDouble == 0.2)
    assert(json.get("failed").asInt == 0)
  }
}
