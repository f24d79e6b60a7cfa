package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  test("the positional per_query line reads a query with no successful rep as null") {
    val line = Bench.perQueryLine(Seq("q_a" -> 1.23456, "q_b" -> -1.0, "q_c" -> 0.0))
    assert(line ==
      """{"metric":"per_query","unit":"sec","order":"name_asc","n":3,"values":[1.235,null,0.000]}""")
    val values = new ObjectMapper().readTree(line).get("values")
    assert(values.size == 3 && values.get(0).asDouble == 1.235 && values.get(1).isNull)
  }
}
