package graft

import java.util.Locale

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The bench's one-line stdout contract stays JSON whatever the JVM's
  * default locale: a comma-decimal locale must not leak into numbers.
  */
class BenchLineSpec extends AnyFunSuite {
  test("compactLine parses as JSON under a comma-decimal default locale") {
    val prev = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      val qs = Bench.jsonMap(Seq("q_a" -> 1.5, "q_b" -> 0.25), "%.4f")
      val line = Bench.compactLine("headline_6q_total", 3.903, partial = false,
        floorRatio = 1.25, qs, "/data/sf0.1", "warmup_v3_fresh_jvm_headline")
      val node = new ObjectMapper().readTree(line)
      assert(node.get("value").asDouble == 3.903)
      assert(node.get("floor_ratio").asDouble == 1.25)
      assert(node.get("queries").get("q_a").asDouble == 1.5)
      assert(node.get("queries").get("q_b").asDouble == 0.25)
    } finally Locale.setDefault(prev)
  }
}
