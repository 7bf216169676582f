package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** `BENCHMARK.json` declares exactly the metrics the benchmark prints. */
class BenchmarkJsonSpec extends AnyFunSuite {

  private val json = new ObjectMapper().readTree(Files.readString(Paths.get("..", "BENCHMARK.json")))

  test("per_layer lists the traced run's metrics with their units and directions") {
    val declared = json.get("per_layer").elements().asScala
      .map(m => (m.get("name").asText, m.get("unit").asText, m.get("better").asText)).toSeq
    assert(declared == Layers.all.map(m => (m.name, m.unit, m.better)))
  }

  test("workloads are the ones the runner accepts") {
    assert(json.get("workloads").elements().asScala.map(_.get("name").asText).toSeq == Main.Workloads)
  }
}
