package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Absorb JVM/codegen/scan-index startup outside the timings. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    graft.core.Tables(spark, sfDir, "lineitem").count()
    graft.core.Tables(spark, sfDir, "events").groupBy("event_type").count()
      .collect()
  }

  /** Every query's median as integer ms (-1 = crashed), positional in
    * sorted query-name order — the order of `queries` in the full line
    * and `bench_out.json`. ~1.4 KB at 327 queries: with the totals line
    * after it, it fits the ~2 KB tail a driver capture keeps.
    */
  def msLine(results: Seq[(String, Double)]): String =
    results.sortBy(_._1).map { case (_, v) =>
      if (v < 0) -1L else math.round(v * 1000)
    }.mkString("""{"metric":"query_ms","order":"sorted","ms":[""", ",", "]}")

  /** The last stdout line: suite totals only, <200 bytes. */
  def totalsLine(total: Double, n: Int, outPath: String,
      sfDir: String): String =
    s"""{"metric":"total","value":$total,"unit":"sec","n":$n,"queries_file":"$outPath","sf":"$sfDir"}"""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Session.local("graft-bench")
    warmUp(spark, sfDir)
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
    def once(name: String, fn: (SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0 // a crashed query must not read as a fast success
      }
      // untimed: free what the gate pinned for its result, so no later
      // gate or pass reads it
      finally spark.catalog.clearCache()
    }
    // THREE FULL PASSES over the suite, per-query median taken ACROSS
    // passes — same wall cost as back-to-back median-of-3, but a query's
    // three samples land minutes apart, so a SUSTAINED box contention
    // window (NOISE.md: round 12's q75 printed 32.5 s because one
    // multi-minute slowdown spanned all three consecutive samples;
    // fresh-JVM median 8.08 s) cannot poison every sample of the
    // name-adjacent queries it covers. The 3-5x single-sample spike
    // class stays filtered by the median. ANY crashed sample reports -1:
    // an intermittent failure must surface, not hide behind the
    // survivors (whose "median" would also skew toward the max).
    // a query that crashed in any earlier pass reports -1 and is not
    // re-run: its result is already decided, and an expensive failing
    // gate would otherwise burn its setup cost three times
    val crashed = scala.collection.mutable.Set.empty[String]
    val passes = (1 to 3).map { _ =>
      named.map { case (name, fn) =>
        val t = if (crashed(name)) -1.0 else once(name, fn)
        if (t < 0) crashed += name
        name -> t
      }.toMap
    }
    val results = named.map { case (name, _) =>
      val samples = passes.map(_(name))
      name -> (if (samples.exists(_ < 0)) -1.0 else samples.sorted.apply(1))
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // The per-query line above is ~15 KB at 327 queries; tail captures that
    // keep only the last ~2 KB have failed to parse it two rounds running
    // (PERF_r13: prev/now_bench_ok both false, per_query empty). Persist the
    // full line to a file and ALSO print the per-query ms line and a
    // <200-byte totals line LAST, so any tail capture ends with complete,
    // parseable JSON lines. Timing methodology is unchanged — this only
    // adds output.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}") }
    println(msLine(results))
    println(totalsLine(total, results.size, outPath, sfDir))
    spark.stop()
  }
}
