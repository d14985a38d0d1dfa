package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class BenchSpec extends AnyFunSuite with Matchers {
  private val names = SparkEntry.queries.keys.toSeq.sorted

  // Driver captures keep about the last 2 KB of stdout: the ms line and
  // the totals line printed after it must both fit, totals last.
  test("the ms and totals lines fit a 2,000-byte tail for every query " +
      "at up to 9.999 s each") {
    val ms = Bench.msLine(names.map(_ -> 9.999))
    val totals = Bench.totalsLine(1234.5678901234567, names.size,
      "bench_out.json", "/data/graft/sf0.1")
    (ms + "\n" + totals + "\n").getBytes("UTF-8").length should be <= 2000
    totals.getBytes("UTF-8").length should be < 200
    ms.count(_ == ',') shouldBe names.size + 1 // 2 keys + n-1 separators
    Seq("\"metric\":\"total\"", "\"value\":1234.5678901234567",
      "\"unit\":\"sec\"", s""""n":${names.size}""",
      "\"queries_file\":\"bench_out.json\"", "\"sf\":\"/data/graft/sf0.1\"")
      .foreach(k => totals should include(k))
  }

  test("the ms line is in sorted name order and a crash reads -1") {
    Bench.msLine(Seq("q02_b" -> 0.4004, "q01_a" -> -1.0)) shouldBe
      """{"metric":"query_ms","order":"sorted","ms":[-1,400]}"""
  }
}
