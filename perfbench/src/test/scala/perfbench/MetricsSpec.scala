package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json declares exactly the metrics the program reports. */
class MetricsSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()
  private lazy val declared: JsonNode = mapper.readTree(
    Files.readAllBytes(Paths.get("..", "BENCHMARK.json")))

  private def defs(key: String): Seq[(String, String, String)] =
    declared.get(key).elements().asScala.toSeq.map { n =>
      (n.get("name").asText, n.get("unit").asText, n.get("better").asText)
    }

  test("end-to-end metrics match the declaration") {
    assert(defs("end_to_end") ==
      Metrics.EndToEnd.map(d => (d.name, d.unit, d.better)))
  }

  test("per-layer metrics match the declaration") {
    assert(defs("per_layer") ==
      Metrics.PerLayer.map(d => (d.name, d.unit, d.better)))
  }

  test("every per-layer metric records what it should move") {
    assert(Metrics.PerLayer.forall(_.moves.nonEmpty))
  }
}
