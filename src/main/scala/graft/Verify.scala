package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.DoubleType
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** IEEE signed-zero normalization (the q186 class, round 10 convention):
    * DuckDB's binary-double `round` can emit `-0.0` where Spark's
    * BigDecimal-based `round` cannot, so a value-identical result can
    * hash-mismatch on the zero's sign bit. `x + 0.0` is an identity on
    * every double except `-0.0` (IEEE 754: `-0.0 + 0.0 = +0.0`; NaN and
    * nulls pass through), so normalizing every gated DOUBLE column on BOTH
    * engines removes the divergence class without touching any other
    * value. FloatType is deliberately not wrapped: DuckDB's `+ 0.0`
    * promotes REAL to DOUBLE, which would trade a sign-bit hazard for a
    * schema mismatch (no gate emits floats; doubles are the gated surface).
    */
  def normalizeSignedZero(df: DataFrame): DataFrame =
    if (!df.schema.fields.exists(_.dataType == DoubleType)) df
    else df.select(df.schema.fields.toIndexedSeq.map { f =>
      if (f.dataType == DoubleType) (col(f.name) + lit(0.0)).as(f.name)
      else col(f.name)
    }: _*)

  /** Double-typed top-level columns of a gated result (the set the oracle
    * wrap must normalize to stay in lockstep with [[normalizeSignedZero]]).
    */
  def doubleColumns(df: DataFrame): Seq[String] =
    df.schema.fields.filter(_.dataType == DoubleType).map(_.name).toSeq

  /** Oracle-side twin of [[normalizeSignedZero]]: wrap the gate's DuckDB
    * SQL so the same DOUBLE columns get the same `+ 0.0` identity
    * (`SELECT * REPLACE` keeps names, order, and every other column
    * untouched). Applied per gate from the Spark result's schema, so the
    * two engines can never disagree on a zero's sign bit.
    */
  def wrapOracle(sql: String, dblCols: Seq[String]): String =
    if (dblCols.isEmpty) sql
    else {
      val repl = dblCols.map(c => s"""("$c" + 0.0) AS "$c"""").mkString(", ")
      s"SELECT * REPLACE ($repl) FROM (\n$sql\n) __graft_szn"
    }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.core.Session.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    // local iteration aid: SPARK_GRAFT_QUERIES=q108,q65 dumps only the
    // named queries; unset (the driver's invocation) dumps everything
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) =>
        names.exists(p => n == p || n.startsWith(p + "_")) }
      case None => SparkEntry.queries
    }
    // per-gate double-column sets, recorded while dumping so the oracle
    // wrap below normalizes exactly the columns the parquet normalized
    val dblCols = scala.collection.mutable.Map.empty[String, Seq[String]]
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        dblCols(name) = doubleColumns(df)
        normalizeSignedZero(df).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally spark.catalog.clearCache() // what the gate pinned
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(wrapOracle(v, dblCols.getOrElse(k, Nil)))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // full expected-query manifest: a query that CRASHES during this dump
    // produces no result dir and would otherwise vanish from the correctness
    // denominator — the checker iterates this list and fails missing dirs
    Files.writeString(Paths.get(s"$outDir/query_names.json"),
      SparkEntry.queries.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
