package graft

import org.scalatest.funsuite.AnyFunSuite

/** The round file's keep-or-replace decision: only a run at the default
  * core count may write it, and it keeps the better of two comparable
  * runs. */
class BenchSpec extends AnyFunSuite {

  private def run(total: Double, cpus: Int, tainted: Boolean = false,
                  queries: String = """{"q1":1.0,"q2":2.0}"""): String =
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$queries,""" +
      s""""calib_mt_threads":$cpus,"tainted":$tainted,"round":21}"""

  test("a run at another core count never writes the round file") {
    assert(!Bench.writesRoundFile(Some(run(40.0, 32)), run(30.0, 8)))
    assert(!Bench.writesRoundFile(None, run(30.0, 8)))
    assert(Bench.writesRoundFile(None, run(30.0, Bench.DefaultCpus)))
  }

  test("a default-core run replaces a worse comparable file and keeps a better one") {
    assert(Bench.writesRoundFile(Some(run(40.0, 32)), run(30.0, 32)))
    assert(!Bench.writesRoundFile(Some(run(30.0, 32)), run(40.0, 32)))
    // untainted beats tainted whatever the totals
    assert(Bench.writesRoundFile(Some(run(20.0, 32, tainted = true)), run(30.0, 32)))
    // an 8-core file squatting on the round is not comparable: replaced
    assert(Bench.writesRoundFile(Some(run(20.0, 8)), run(30.0, 32)))
    // a file without the tainted field, or one that does not parse, loses
    assert(Bench.writesRoundFile(Some("""{"value":1.0,"calib_mt_threads":32}"""), run(30.0, 32)))
    assert(Bench.writesRoundFile(Some("{not json"), run(30.0, 32)))
  }

  test("a nested value inside queries does not cut the headline set short") {
    // a reader that stops at the first '}' inside "queries" sees {q2, inner} in both
    val prev = run(20.0, 32, queries = """{"q2":{"inner":1.0},"q1":1.0}""")
    val next = run(30.0, 32, queries = """{"q2":{"inner":1.0},"q3":1.0}""")
    assert(Bench.writesRoundFile(Some(prev), next), "a changed headline set replaces the file")
    assert(!Bench.writesRoundFile(Some(prev), run(30.0, 32,
      queries = """{"q1":1.0,"q2":{"inner":1.0}}""")), "the same set keeps the better run")
  }
}
