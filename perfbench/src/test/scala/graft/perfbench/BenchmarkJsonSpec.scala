package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json and the harness name the same metrics and workloads. */
class BenchmarkJsonSpec extends AnyFunSuite {

  private val json = new String(java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get("..", "BENCHMARK.json")), "UTF-8")

  private def section(key: String): String = {
    val start = json.indexOf("\"" + key + "\"")
    assert(start >= 0, s"$key missing")
    json.substring(json.indexOf('[', start), json.indexOf(']', start) + 1)
  }

  private def names(key: String): Seq[String] =
    "\"name\":\\s*\"([^\"]+)\"".r.findAllMatchIn(section(key)).map(_.group(1)).toSeq

  test("per_layer lists exactly the metrics a traced run reports, with their units") {
    assert(names("per_layer") == Layers.PerLayer.map(_._1))
    Layers.PerLayer.foreach { case (n, unit, better) =>
      assert(section("per_layer").contains(
        s"""{"name": "$n", "unit": "$unit", "better": "$better"}"""), n)
    }
  }

  test("every listed workload is one the harness runs") {
    assert(names("workloads").nonEmpty && names("workloads").toSet.subsetOf(Main.Workloads.keySet))
  }

  test("end_to_end names what an untraced run reports") {
    assert(names("end_to_end").toSet == Set("items_per_sec", "peak_rss_mb", "setup_s"))
  }
}
