package graft.tools

import graft.SparkSpec

class MeasureSpec extends SparkSpec {

  test("Measure.run times a gate, counts its rows and writes its plan") {
    val dir = tmp("measure_plan")
    val Seq(r) = Measure.run(spark, "/root/testdata/sf0.001", 1,
      Seq("q05_region_revenue"), Some(dir))
    r.rows should be > 0L
    r.medianS should be > 0.0
    r.jobs should be > 0
    r.jobS + r.nonJobS shouldBe r.medianS +- 0.005 // the median rep's split
    val plan = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "q05_region_revenue.txt"))
    plan should include("== Physical Plan ==")
  }
}
