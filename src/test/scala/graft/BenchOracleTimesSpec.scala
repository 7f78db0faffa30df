package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `Bench.parseOracleTimes` reads only the `"times"` object of a times
  * file recorded by `scripts/oracle_bench.py`: the `_meta` block's numeric
  * fields (`runs`, `timeout_sec`, `before_pct`, …) are not query times. */
class BenchOracleTimesSpec extends AnyFunSuite {

  test("the committed sf0.1 times file parses to exactly its times object") {
    val path = java.nio.file.Paths.get("scripts/oracle_times_sf0.1.json")
    val text = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
    val times = new ObjectMapper().readTree(text).get("times")
    val want = times.fieldNames().asScala.map(k => k -> times.get(k).asDouble).toMap
    assert(want.nonEmpty)
    assert(Bench.parseOracleTimes(text) === want)
  }

  test("exponent values parse whole and a file without times yields nothing") {
    val text = """{"_meta": {"runs": 3}, "times": {"q1": 8.5e-05, "q2": 1.25}}"""
    assert(Bench.parseOracleTimes(text) === Map("q1" -> 8.5e-05, "q2" -> 1.25))
    assert(Bench.parseOracleTimes("""{"_meta": {"runs": 3}}""").isEmpty)
  }
}
