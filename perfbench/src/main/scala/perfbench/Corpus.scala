package perfbench

import scala.collection.mutable

import graft.operators.Dedup
import graft.streaming.EventStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** corpus_curation: one client curates a large multi-file corpus.
  * Batch phase: heavy JobRunner jobs (DedupArtifacts, CorpusDedup,
  * Decontaminate, LangId, Bm25Artifacts). Stream phase: the near-dup
  * increment stream drains a backlog of increment files against the
  * landed corpus, one file per trigger. Operators and executors do most
  * of the work; the driver does little.
  */
final class Corpus extends Workload {
  private val Batch = Set("job", "commit")
  private val doc = Map("id_column" -> "doc_id", "text_column" -> "text")
  private val batchMs = mutable.ArrayBuffer[Double]()
  private val written = mutable.Map[Int, mutable.Map[String, Op]]()
  private val streams = mutable.Map[Int, Op]()
  private var rounds = 0

  private def roundDir(ctx: Ctx, r: Int) = ctx.dir(s"r$r")

  private val Landed = Seq("arts", "dedup", "clean", "lang", "bm25", "stream_out")

  def round(ctx: Ctx, r: Int): Unit = {
    val d = roundDir(ctx, r)
    def o(sub: String) = s"$d/$sub"
    val landedRows = ctx.inputRows("landed")
    val ops = mutable.Map[String, Op]()
    def job(name: String, tag: String, p: Map[String, Any]): Unit =
      ops(tag) = Jobs.op(ctx, r, name, tag, p, Batch, landedRows)
    val t0 = Clock.nowMs
    job("DedupArtifacts", "dedup_artifacts", doc ++ Map(
      "source_dir" -> ctx.in("landed"), "target_dir" -> o("arts")))
    job("CorpusDedup", "corpus_dedup", doc ++ Map(
      "source_dir" -> ctx.in("landed"), "target_dir" -> o("dedup"),
      "jaccard_threshold" -> 0.5))
    job("Decontaminate", "decontaminate", doc ++ Map(
      "source_dir" -> o("dedup"), "target_dir" -> o("clean"),
      "benchmark_dir" -> ctx.in("bench"), "benchmark_text_column" -> "qtext",
      "ngram_size" -> 8, "min_overlap" -> 1))
    job("LangId", "lang_id", Map("text_column" -> "text",
      "source_dir" -> o("clean"), "target_dir" -> o("lang")))
    job("Bm25Artifacts", "bm25_artifacts", doc ++ Map(
      "source_dir" -> o("clean"), "target_dir" -> o("bm25")))
    val batch = Clock.nowMs - t0
    val s = ctx.spark
    val incSchema = s.read.parquet(ctx.in("increments")).schema
    val (stream, _) = ctx.rec.op("near_dup_stream", Set("stream"), r,
        ctx.inputRows("increments")) {
      EventStream.runNearDupIncrementOnce(s, incSchema, ctx.in("increments"),
        s.read.parquet(ctx.in("landed")), s.read.parquet(o("arts")),
        "doc_id", "text", threshold = 0.5, o("stream_out"),
        "perfbench_neardup", maxFilesPerTrigger = Some(1))
    }
    // a consumer reads every table the round landed back in full,
    // digesting every row and column
    for (v <- Landed)
      ctx.rec.op("read_" + v, Set("read"), r)(Util.contentHash(s.read.parquet(o(v))))
    batchMs += batch
    written(r) = ops
    streams(r) = stream
    rounds = r + 1
  }

  def verify(ctx: Ctx): Unit = {
    val s = ctx.spark
    val planted = ctx.manifest("planted").asInstanceOf[Map[String, Any]]
    val contaminated = planted("contaminated_ids").asInstanceOf[Seq[Any]]
      .map(_.toString.toLong).toSet
    val landed = s.read.parquet(ctx.in("landed"))
    // each output is compared with a recomputation from what its job read
    val batch = for (r <- 0 until rounds; (tag, op) <- written(r).toSeq if op.ok) yield {
      def out(v: String) = s.read.parquet(s"${roundDir(ctx, r)}/$v")
      val (got, want) = tag match {
        case "dedup_artifacts" =>
          (Expect.artifactKeys(out("arts")), Expect.artifactKeysOf(landed))
        // CorpusDedup keeps input rows only, one per exact text
        case "corpus_dedup" => Expect.extended(
          out("dedup").withColumn("__n", count(lit(1)).over(Window.partitionBy("text"))),
          landed.join(out("dedup").select("doc_id"), Seq("doc_id"), "left_semi"), "__n = 1")
        case "decontaminate" => (out("clean"),
          Expect.decontaminated(out("dedup"), s.read.parquet(ctx.in("bench")), "qtext", 8))
        case "lang_id" => Expect.extended(out("lang"), out("clean"), "lang_pred IS NOT NULL")
        case "bm25_artifacts" => (out("bm25"), Expect.bm25Artifacts(out("clean")))
      }
      (op, s"$r/$tag", got, want)
    }
    // q75's identity: the union of per-trigger survivors equals one
    // dedupIncrement over all increments at once
    val stream = for (r <- 0 until rounds; op <- streams.get(r) if op.ok) yield
      (op, s"$r/stream", s.read.parquet(s"${roundDir(ctx, r)}/stream_out").select("doc_id"),
        Dedup.dedupIncrement(landed, s.read.parquet(ctx.in("increments")), "doc_id", "text",
          threshold = 0.5).select("doc_id"))
    val checks = batch ++ stream
    val hashes = Util.contentHashes(checks.flatMap { case (_, k, got, want) =>
      Seq(s"$k/got" -> got, s"$k/want" -> want) })
    for ((op, k, _, _) <- checks if hashes(s"$k/got") != hashes(s"$k/want"))
      ctx.rec.fail(op, s"$k output ${hashes(s"$k/got")} != recomputation ${hashes(s"$k/want")}")
    for (r <- 0 until rounds; op <- written(r).get("decontaminate") if op.ok) {
      val ids = s.read.parquet(s"${roundDir(ctx, r)}/clean").select("doc_id").collect()
        .map(_.getLong(0)).toSet
      if ((ids & contaminated).nonEmpty)
        ctx.rec.fail(op, "planted-contaminated docs survived Decontaminate")
    }
  }

  def figures(ctx: Ctx, timedMs: Double): Map[String, Double] = {
    val last = roundDir(ctx, rounds - 1)
    val live = Landed.map(v => s"$last/$v")
    Map("rows_per_s" -> ctx.inputRows("landed") * rounds / (batchMs.sum / 1000.0),
      "space_amp" -> Util.spaceAmp(last, live))
  }

  /** Batch-phase wall, for the traced run's share figures. */
  def batchWallMs: Double = batchMs.sum
}
