package pipebench

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** The metrics a run prints are exactly the ones BENCHMARK.json declares. */
class MetricsSpec extends AnyFunSuite {
  private val spec = parse(scala.io.Source.fromFile("../BENCHMARK.json").mkString)

  private def declared(key: String): Seq[(String, String)] =
    (spec \ key).children.map(m => ((m \ "name").values.toString, (m \ "unit").values.toString))

  test("end-to-end metrics and units match BENCHMARK.json") {
    assert(declared("end_to_end") === Workloads.endToEnd)
  }

  test("per-layer metrics and units match BENCHMARK.json") {
    assert(declared("per_layer") === Workloads.perLayer)
  }

  test("every declared workload is runnable") {
    val names = (spec \ "workloads").children.map(w => (w \ "name").values.toString)
    assert(names.forall(Workloads.all.contains))
  }
}
