package graft

import java.util.Locale

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  test("the printed bench line is JSON under a comma-decimal locale") {
    val record = Bench.Record(Seq("q_a" -> 0.12344, "q_b" -> 1.5),
      Seq("q_c"), 2.25, "ok", 0.5, 0.05, 0.75, 0.0625, "sf0.1")
    val prev = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    val line = try record.json(Bench.rounded) finally Locale.setDefault(prev)
    val js = new ObjectMapper().readTree(line)
    assert(js.get("queries").get("q_a").asDouble === 0.1234)
    assert(js.get("value").asDouble === 1.6234)
    assert(js.get("failed").get(0).asText === "q_c")
    assert(js.get("index_build_sec").asDouble === 2.25)
  }
}
