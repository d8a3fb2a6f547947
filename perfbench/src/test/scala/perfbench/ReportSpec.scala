package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.Path
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class ReportSpec extends AnyFunSuite {
  private val root = Path.of(sys.props.getOrElse("perfbench.root", ".."))
  private val mapper = new ObjectMapper()
  private val declared = mapper.readTree(root.resolve("BENCHMARK.json").toFile)

  private def metrics(kind: String): Map[String, String] =
    declared.get(kind).elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toMap

  private def units(out: JsonNode): Map[String, String] =
    out.get("metrics").properties().asScala
      .map(e => e.getKey -> e.getValue.get("unit").asText()).toMap

  private def emitted(trace: Boolean): JsonNode =
    mapper.readTree(Report.line(trace, Map.empty, attempted = 1, failed = 0))

  test("the timed run's result line carries every declared end-to-end metric with its unit") {
    val out = emitted(trace = false)
    assert(out.fieldNames().asScala.toSet == Set("correct", "attempted", "failed", "metrics"))
    assert(units(out) == metrics("end_to_end"))
  }

  test("the traced run's result line carries every declared per-layer metric with its unit") {
    assert(units(emitted(trace = true)) == metrics("per_layer"))
  }

  test("the declared workloads are the ones the benchmark runs") {
    val names = declared.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq
    assert(names == Workload.names)
  }

  test("every query of the query workloads has a pinned output") {
    val pinned = Queries.pinned(root.resolve("perfbench/data/sf0.1"))
    assert(Queries.All.filterNot(pinned.contains).isEmpty)
  }
}
