package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench`'s pure helpers: the compact line's slowest-first prefix and
  * the per-query map read back from a prior artifact.
  */
class BenchSpec extends AnyFunSuite {

  private val times = Seq("q1" -> 1.0, "q_long_name" -> 3.0, "q2" -> 2.0, "q3" -> 0.5)

  test("compact entries are slowest first, three decimals") {
    assert(Bench.slowestFirstPrefix(times, 1000) ==
      Seq("\"q_long_name\":3.000", "\"q2\":2.000", "\"q1\":1.000", "\"q3\":0.500"))
  }

  test("the prefix stops at the first entry that does not fit, even if a later one would") {
    // each entry counts one separating comma: "a":3.000 is 10, "b":1.000 10,
    // "long_long_name":2.000 23
    val t = Seq("a" -> 3.0, "long_long_name" -> 2.0, "b" -> 1.0)
    assert(Bench.slowestFirstPrefix(t, 20) == Seq("\"a\":3.000"))
    assert(Bench.slowestFirstPrefix(t, 33) == Seq("\"a\":3.000", "\"long_long_name\":2.000"))
    assert(Bench.slowestFirstPrefix(t, 43).size == 3)
    assert(Bench.slowestFirstPrefix(t, 9).isEmpty)
  }

  test("equal times keep a stable name order") {
    assert(Bench.slowestFirstPrefix(Seq("b" -> 1.0, "a" -> 1.0), 100) ==
      Seq("\"a\":1.000", "\"b\":1.000"))
  }

  test("flatNumberMap reads the queries map back, and an unknown shape as empty") {
    val json = """{"metric":"total","queries":{"q1":1.5,"q2":0.25},"cpus":4}"""
    assert(Bench.flatNumberMap(json, "queries") == Map("q1" -> 1.5, "q2" -> 0.25))
    assert(Bench.flatNumberMap("not json", "queries").isEmpty)
  }
}
