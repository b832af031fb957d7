package flowbench

import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json at the checkout root lists exactly the metrics the
  * harness prints. */
class BenchmarkJsonSpec extends AnyFunSuite {

  private lazy val json = {
    val src = scala.io.Source.fromFile("../BENCHMARK.json", "UTF-8")
    try src.mkString finally src.close()
  }

  private def names(section: String): Seq[String] = {
    val start = json.indexOf(s""""$section"""")
    val body = json.substring(start, json.indexOf("]", start))
    """"name":\s*"([^"]+)"""".r.findAllMatchIn(body).map(_.group(1)).toSeq
  }

  test("per_layer names are the harness's per-layer metrics") {
    assert(names("per_layer") == FlowBench.PerLayer.map(_._1))
  }

  test("end_to_end names are the harness's end-to-end metrics") {
    assert(names("end_to_end") == FlowBench.EndToEnd)
  }

  test("workloads are the harness's workloads") {
    assert(names("workloads") == FlowBench.Workloads)
  }
}
