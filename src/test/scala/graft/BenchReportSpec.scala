package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Bench's last stdout line is the one a tail-reading parser sees: it must
  * be the whole total, as JSON, small enough to survive a bounded tail. */
class BenchReportSpec extends AnyFunSuite {

  test("the total line parses as JSON, names every bench query and stays under 1.5 KB") {
    val names = SparkEntry.benchQueries
    assert(names.nonEmpty)
    // 17 significant digits: the longest a Double prints
    val results = names.zipWithIndex.map { case (n, i) => (n, 100.0 / 3 + i, "0123456789ab") }
    val reruns = names.map(n => n -> ((100.0 / 3, 100.0 / 7))).toMap
    val lines = Bench.report(results, reruns, "/data/testdata/sf0.1")
    assert(lines.length == 2)
    val total = lines.last
    val json = new ObjectMapper().readTree(total)
    assert(json.get("metric").asText == "total")
    assert(json.get("value").isNumber && json.get("unit").asText == "sec")
    names.foreach(n => assert(json.get("queries").get(n).isNumber, n))
    assert(total.getBytes("UTF-8").length <= 1536, s"${total.length} bytes")
    assert(new ObjectMapper().readTree(lines.head).get("metric").asText == "evidence")
  }
}
