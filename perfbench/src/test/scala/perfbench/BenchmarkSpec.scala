package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json at the repository root lists what the benchmark prints. */
class BenchmarkSpec extends AnyFunSuite {

  private lazy val spec: JsonNode = {
    val dirs = Iterator.iterate(new File(sys.props("user.dir")).getAbsoluteFile)(_.getParentFile)
      .takeWhile(_ != null)
    val file = dirs.map(new File(_, "BENCHMARK.json")).find(_.isFile)
      .getOrElse(fail("BENCHMARK.json not found above the working directory"))
    new ObjectMapper().readTree(file)
  }

  private def named(key: String): Seq[(String, String)] =
    spec.get(key).elements().asScala.toSeq.map(m => m.get("name").asText -> m.get("unit").asText)

  test("end-to-end metrics match what a run prints") {
    assert(named("end_to_end") == Main.EndToEnd)
  }

  test("per-layer metrics match what a traced run prints") {
    assert(named("per_layer") == Main.PerLayer)
  }

  test("every listed workload exists") {
    spec.get("workloads").elements().asScala.map(_.get("name").asText).foreach { w =>
      assert(Workloads.Names.contains(w), w)
    }
  }
}
