package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods

import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {
  private implicit val formats: Formats = DefaultFormats
  private val bench = JsonMethods.parse(
    scala.io.Source.fromFile("../BENCHMARK.json").mkString)

  private def listed(key: String): Map[String, String] =
    (bench \ key).extract[List[Map[String, Any]]]
      .map(m => m("name").toString -> m("unit").toString).toMap

  test("every emitted metric is listed in BENCHMARK.json with its unit, and no other") {
    assert(Metrics.EndToEnd.toMap == listed("end_to_end"))
    assert(Metrics.PerLayer.toMap == listed("per_layer"))
  }

  test("metric names use only letters, digits, _, . and -, at most 64 of them") {
    val ok = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r
    (Metrics.EndToEnd ++ Metrics.PerLayer).foreach { case (n, u) =>
      assert(ok.matches(n), n)
      assert("[A-Za-z0-9_/%.-]{1,16}".r.matches(u), s"$n unit $u")
    }
  }

  test("every workload BENCHMARK.json names is one the harness runs") {
    val names = (bench \ "workloads" \ "name").extract[List[String]]
    assert(names.nonEmpty && names.toSet.subsetOf(Main.Workloads.keySet))
  }
}
