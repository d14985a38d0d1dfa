package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

class StatefulSessionizeSpec extends SparkSpec {
  import spark.implicits._
  import StatefulSessionize._

  test("flatMapGroupsWithState sessions match the batch window formulation") {
    implicit val s = spark
    val events = Seq(
      Event(1L, 1L, 0L), Event(1L, 2L, 60000L), Event(1L, 3L, 4000000L),
      Event(2L, 4L, 0L)).toDS()
    val out = StatefulSessionize(events, gapMillis = 1800000L)
      .collect().sortBy(_.eventId)
    out.map(a => (a.userId, a.eventId, a.sessionId)) shouldBe Array(
      (1L, 1L, 1L), (1L, 2L, 1L), (1L, 3L, 2L), (2L, 4L, 1L))
    // agrees with the batch operator
    val batch = graft.operators.Sessionize(
        events.toDF(), "userId", org.apache.spark.sql.functions.col("tsMillis"),
        "eventId", 1800000L)
      .select($"eventId", $"session_id").as[(Long, Long)]
      .collect().sortBy(_._1)
    batch.map(_._2) shouldBe out.map(_.sessionId)
  }
}

class EventStreamSpec extends SparkSpec {
  import spark.implicits._

  test("a state-sized runner leaves the caller's session alone: its " +
      "conf and temp views are unchanged, and the derived state " +
      "partition count still reaches the query") {
    import org.apache.spark.scheduler.{SparkListener,
      SparkListenerStageSubmitted}
    import org.apache.spark.sql.GraftBridge
    val key = "spark.sql.shuffle.partitions"
    val caller = spark.newSession()
    caller.conf.set(key, "16")
    val dir = tmp("stream_caller")
    val batch = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "a"),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), "a-dup"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:03:00"), "b"))
      .toDF("k", "ts", "v")
    batch.coalesce(1).write.parquet(dir + "/p")
    def tempViews = caller.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    val viewsBefore = tempViews
    var seen = ""
    val maxTasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        maxTasks.accumulateAndGet(e.stageInfo.numTasks, math.max(_, _))
    }
    GraftBridge.drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    val keys =
      try EventStream.runDedupOnce(caller, batch.schema, dir + "/p",
          Seq("k"), "ts", "1 hour", "caller_dd",
          prepare = { df => seen = caller.conf.get(key); df })
        .select($"k").as[Long].collect().sorted
      finally {
        GraftBridge.drainListeners(spark)
        spark.sparkContext.removeSparkListener(listener)
      }
    keys shouldBe Array(1L, 2L)
    seen shouldBe "16" // the caller's conf during the run
    caller.conf.get(key) shouldBe "16"
    // one tiny file sizes the state to 4 partitions, not the caller's 16
    maxTasks.get should (be > 0 and be <= 4)
    tempViews shouldBe viewsBefore
  }

  test("a state-sized runner detaches its session clone's streaming " +
      "listener bus: a warm caller gains at most one bus per run") {
    import org.apache.spark.sql.GraftTestBridge.streamingBuses
    val caller = spark.newSession()
    caller.conf.set("spark.sql.shuffle.partitions", "16")
    val dir = tmp("stream_bus")
    val batch = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "a"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), "b"))
      .toDF("k", "ts", "v")
    batch.coalesce(1).write.parquet(dir + "/p")
    def run(i: Int): Long = EventStream.runDedupOnce(caller, batch.schema,
      dir + "/p", Seq("k"), "ts", "1 hour", s"bus_$i").count()
    run(0) // warm: the caller's own query manager registers its bus
    val before = streamingBuses(spark)
    val runs = 3
    (1 to runs).foreach(i => run(i) shouldBe 2L)
    // the runner's clone detaches after stop(); what remains is one bus
    // per run that Spark registers for the stream's own session
    (streamingBuses(spark) - before) should be <= runs
  }

  test("watermarked stream-stream interval join equals the batch join") {
    val dir = tmp("stream_ssj")
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val purchases = Seq(
      (1L, ts(10), 100L), (1L, ts(30), 101L), (2L, ts(10), 102L))
      .toDF("p_user", "p_ts", "p_id")
    val clicks = Seq(
      (1L, ts(8), 200L),  // within 5 min of purchase 100
      (1L, ts(9), 201L),  // within 5 min of purchase 100
      (1L, ts(20), 202L), // matches no purchase (30 - 20 > 5)
      (2L, ts(10), 203L), // exactly at purchase 102's ts
      (3L, ts(1), 204L))  // no purchases for user 3
      .toDF("c_user", "c_ts", "c_id")
    purchases.write.parquet(dir + "/p")
    clicks.write.parquet(dir + "/c")
    val streamed = EventStream.runIntervalJoinOnce(spark,
      purchases.schema, dir + "/p", clicks.schema, dir + "/c",
      "p_user", "c_user", "p_ts", "c_ts",
      lookback = "5 minutes", horizon = "10 minutes", "ssj_test")
    val batch = EventStream.intervalJoin(purchases, clicks,
      "p_user", "c_user", "p_ts", "c_ts", "5 minutes", "10 minutes")
    assertSameRows(streamed, batch)
    streamed.select($"p_id", $"c_id").as[(Long, Long)].collect().sorted shouldBe
      Array((100L, 200L), (100L, 201L), (102L, 203L))
  }

  test("streaming dedup within watermark keeps one row per key") {
    val dir = tmp("stream_dd")
    val batch = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "a"),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), "a-dup"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:03:00"), "b"),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:04:00"), "a-dup2"))
      .toDF("k", "ts", "v")
    batch.write.parquet(dir + "/p")
    val out = EventStream.runDedupOnce(spark, batch.schema, dir + "/p",
      Seq("k"), "ts", "10 minutes", "dd_test")
    // one surviving row per key inside the horizon
    out.select($"k").as[Long].collect().sorted shouldBe Array(1L, 2L)
  }

  test("streaming dedup with a horizon wider than the data settles to the " +
      "distinct key set — the q69 gate expression") {
    // dropDuplicatesWithinWatermark has NO batch face (Spark rejects it on
    // batch frames), so the oracle-able face is the settled streaming
    // output: with no state ever evicted, the key projection equals batch
    // DISTINCT regardless of micro-batch splits or arrival order
    val dir = tmp("stream_dd_wide")
    val batch = (1L to 300L).map(i =>
      (i % 7, java.sql.Timestamp.valueOf(f"2024-01-01 00:${i % 50}%02d:00"),
        s"v$i"))
      .toDF("k", "ts", "v")
    batch.write.parquet(dir + "/p")
    val out = EventStream.runDedupOnce(spark, batch.schema, dir + "/p",
      Seq("k"), "ts", "3650 days", "dd_wide_test")
    assertSameRows(out.select($"k"), batch.dropDuplicates("k").select($"k"))
    out.count() shouldBe 7L
  }

  test("stream-static anti-join drops arriving rows landed in the " +
      "artifacts; stream equals the batch face") {
    import graft.operators.Dedup
    val dir = tmp("stream_inc")
    val landed = Seq((1L, "alpha beta gamma delta"),
      (2L, "epsilon zeta eta theta")).toDF("doc_id", "text")
    val arts = Dedup.dedupArtifacts(landed, "doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta"),    // exact dup of landed 1
      (11L, "totally new content here"))
      .toDF("doc_id", "text")
    batch.write.parquet(dir + "/p")
    val streamed = EventStream.runStreamAgainstOnce(spark, batch.schema,
      dir + "/p", arts, "text", "inc_stream_test")
    assertSameRows(streamed, Dedup.dedupStreamAgainst(batch, arts, "text"))
    streamed.select($"doc_id").as[Long].collect() shouldBe Array(11L)
  }

  test("stream-static anti-join pins the landed digests: static side is " +
      "cached, multi-micro-batch run equals the batch face") {
    import graft.operators.Dedup
    val dir = tmp("stream_inc_multi")
    val landed = (1L to 50L).map(i => (i, s"landed doc number $i"))
      .toDF("doc_id", "text")
    val arts = Dedup.dedupArtifacts(landed, "doc_id", "text")
    // pinDigests persists the distinct; the join consumes the cache
    val pinned = Dedup.pinDigests(arts)
    try {
      pinned.frame.storageLevel.useMemory shouldBe true
      val batch = (101L to 120L).map(i =>
        (i, if (i % 4 == 0) s"landed doc number ${i % 50}"
            else s"fresh doc $i")).toDF("doc_id", "text")
      val out = Dedup.dedupStreamAgainst(batch, pinned, "text")
      assertSameRows(out, Dedup.dedupStreamAgainst(batch, arts, "text"))
      // the executed static side is the in-memory relation, not a
      // re-scan of the artifacts plan
      out.queryExecution.executedPlan.toString should
        include("InMemoryTableScan")
      // the streaming runner pins internally: 5 input files at
      // maxFilesPerTrigger=1 → 5 micro-batches, each against the cache;
      // result still equals the single-shot batch face
      batch.repartition(5).write.parquet(dir + "/p")
      val streamed = EventStream.runStreamAgainstOnce(spark, batch.schema,
        dir + "/p", arts, "text", "inc_multi_test",
        maxFilesPerTrigger = Some(1))
      assertSameRows(streamed, out)
    } finally pinned.release()
    pinned.frame.storageLevel.useMemory shouldBe false
  }

  test("near-dup streaming increment: per-micro-batch dedupIncrement " +
      "equals the single-shot batch face regardless of batch boundaries") {
    import graft.operators.Dedup
    val dir = tmp("stream_neardup")
    val landed = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "completely unrelated landed content"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),   // exact dup → pruned
      (11L, "alpha beta gamma delta epsilon eta"),    // near-dup of 1
      (12L, "one two three four five six eight"),     // near-dup of 2
      (13L, "fresh never seen material entirely new"),
      (14L, "more fresh content nothing like landed"))
      .toDF("doc_id", "text")
    // 3 input files at maxFilesPerTrigger=1 → 3 micro-batches that split
    // the near-dups and the fresh docs across triggers
    incoming.repartition(3).write.parquet(dir + "/in")
    val arts = Dedup.dedupArtifacts(landed, "doc_id", "text")
    val out = EventStream.runNearDupIncrementOnce(spark,
      incoming.schema, dir + "/in", landed, arts, "doc_id", "text",
      threshold = 0.5, dir + "/out", "neardup_inc_test",
      maxFilesPerTrigger = Some(1))
    val singleShot = Dedup.dedupIncrement(landed, incoming,
      "doc_id", "text", threshold = 0.5, artifacts = Some(arts))
    assertSameRows(out, singleShot)
    // the exact dup and both near-dups are gone; fresh docs survive
    out.select($"doc_id").as[Long].collect().sorted shouldBe
      Array(13L, 14L)
  }

  test("an empty backlog runs no micro-batch and returns 0 rows with the " +
      "columns of a one-file run") {
    import graft.operators.Dedup
    val dir = tmp("stream_empty")
    val landed = Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val incoming = Seq((10L, "fresh never seen material entirely new"))
      .toDF("doc_id", "text")
    incoming.coalesce(1).write.parquet(dir + "/one")
    new java.io.File(dir + "/none").mkdirs()
    val arts = Dedup.dedupArtifacts(landed, "doc_id", "text")
    def nearDup(in: String) = EventStream.runNearDupIncrementOnce(spark,
      incoming.schema, dir + "/" + in, landed, arts, "doc_id", "text",
      threshold = 0.5, dir + "/neardup_" + in, "empty_neardup")
    val checks = Seq(1L, 2L).toDF("id")
    checks.coalesce(1).write.parquet(dir + "/checks_one")
    new java.io.File(dir + "/checks_none").mkdirs()
    def quality(in: String) = EventStream.runQualityChecksOnce(spark,
      checks.schema, dir + "/" + in, Seq("not_null:id"),
      dir + "/qc_" + in, "empty_qc")
    Seq((nearDup("one"), nearDup("none")),
        (quality("checks_one"), quality("checks_none"))).foreach {
      case (one, none) =>
        one.count() should be > 0L
        none.count() shouldBe 0L
        none.dtypes.toSeq shouldBe one.dtypes.toSeq
    }
  }

  test("append-mode windowed counts emit exactly the watermark-closed " +
      "windows; trendingPerWindow ranks the settled histogram") {
    val dir = tmp("stream_windowed")
    // three 10-second windows; the last event (t=25s) leaves window
    // [20,30) open — it must NOT appear in the settled append output
    val events = Seq(
      (1L, 1000L, "a", 1.0), (2L, 2000L, "a", 1.0), (3L, 3000L, "b", 1.0),
      (4L, 12000L, "b", 1.0), (5L, 13000L, "b", 1.0), (6L, 14000L, "a", 1.0),
      (7L, 25000L, "a", 1.0))
      .toDF("event_id", "ts_ms", "event_type", "value")
    events.write.parquet(dir + "/in")
    val settled = EventStream.runWindowedOnce(spark,
      spark.read.parquet(dir + "/in").schema, dir + "/in/*.parquet",
      "10 seconds", "0 seconds", "windowed_test",
      prepare = df => df.withColumn("ts", timestamp_millis($"ts_ms")))
    val rows = settled.select($"win_start", $"event_type", $"n_events")
      .as[(Long, String, Long)].collect().toSet
    rows shouldBe Set((0L, "a", 2L), (0L, "b", 1L),
      (10L, "b", 2L), (10L, "a", 1L)) // window [20,30) open: absent
    val top = EventStream.trendingPerWindow(settled, k = 1)
      .select($"win_start", $"event_type", $"rank")
      .as[(Long, String, Int)].collect().toSet
    top shouldBe Set((0L, "a", 1), (10L, "b", 1))
  }

  test("streaming decontamination: per-micro-batch prepared-benchmark " +
      "filter equals the single-shot batch face for any batch boundaries") {
    import graft.operators.Decontaminate
    val dir = tmp("stream_decon")
    val corpus = Seq(
      (1L, "leaked question alpha beta gamma delta answer text"),
      (2L, "clean document about something else entirely here"),
      (3L, "another leaked alpha beta gamma delta fragment inside"),
      (4L, "totally clean again nothing shared with the eval"),
      (5L, "also clean and also quite unlike the benchmark"))
      .toDF("doc_id", "text")
    val bench = Seq("alpha beta gamma delta").toDF("qt")
    // 3 input files at maxFilesPerTrigger=1 → 3 micro-batches splitting
    // contaminated and clean docs across triggers
    corpus.repartition(3).write.parquet(dir + "/in")
    val out = EventStream.runDecontaminateOnce(spark, corpus.schema,
      dir + "/in", bench, "qt", "doc_id", "text", dir + "/out",
      "decon_stream_test", n = 4, minOverlap = 1,
      maxFilesPerTrigger = Some(1))
    val singleShot = Decontaminate.decontaminate(corpus, "doc_id", "text",
      bench, "qt", n = 4, minOverlap = 1)
    assertSameRows(out, singleShot)
    assertSameRows(out, Decontaminate.decontaminate(corpus, "doc_id", "text",
      bench, "qt", n = 4, minOverlap = 1, bloom = true))
    out.select($"doc_id").as[Long].collect().sorted shouldBe
      Array(2L, 4L, 5L)
  }
}

class StreamingCurationSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.streaming.Trigger

  test("stateless curation columns apply unchanged to a stream " +
      "(lang-id, quality, redaction)") {
    val dir = tmp("stream_cur")
    val batch = Seq(
      (1L, "the cat is in the house and it is happy to stay here today"),
      (2L, "der hund ist von dem haus und er ist gut mail x@y.io"))
      .toDF("doc_id", "text")
    batch.write.parquet(dir + "/p")
    def curate(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Redact.withRedactions(
        df.withColumn("lang", graft.operators.TextAnalysis.langId($"text"))
          .withColumn("n_tokens",
            graft.operators.TextAnalysis.tokenCount($"text")), "text")
        .select($"doc_id", $"lang", $"n_tokens", $"red_text", $"n_email")
    val q = curate(spark.readStream.schema(batch.schema).parquet(dir + "/p"))
      .writeStream.outputMode("append").format("memory")
      .queryName("cur_test").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    assertSameRows(spark.table("cur_test"), curate(batch))
    spark.table("cur_test").filter($"doc_id" === 2)
      .select($"lang", $"n_email").as[(String, Int)]
      .collect() shouldBe Array(("de", 1))
  }

  test("round-9 quality maps apply unchanged to a stream (deflate " +
      "ratio, readability, blocklist filter) — stateless, no watermark") {
    val dir = tmp("stream_qual")
    val batch = Seq(
      (1L, "the cat sat on the mat. it sat again and again and again!"),
      (2L, "bad content that repeats bad content verbatim"),
      (3L, "perfectly ordinary prose with nothing blocked at all"))
      .toDF("doc_id", "text")
    batch.write.parquet(dir + "/p")
    // each signal family is a stateless per-row map over the blocklist
    // survivors — no watermark, no state store, append mode as-is
    def deflate(df: org.apache.spark.sql.DataFrame) =
      graft.operators.TextAnalysis.compressionSignals(
        graft.operators.TextAnalysis.blocklistFilter(df, "text",
          Seq("bad")), "doc_id", "text")
    def readable(df: org.apache.spark.sql.DataFrame) =
      graft.operators.TextAnalysis.readabilityScores(
        graft.operators.TextAnalysis.blocklistFilter(df, "text",
          Seq("bad")), "doc_id", "text")
    val src = spark.readStream.schema(batch.schema).parquet(dir + "/p")
    val q1 = deflate(src).writeStream.outputMode("append")
      .format("memory").queryName("qual_deflate")
      .trigger(Trigger.AvailableNow()).start()
    val q2 = readable(src).writeStream.outputMode("append")
      .format("memory").queryName("qual_readable")
      .trigger(Trigger.AvailableNow()).start()
    q1.processAllAvailable(); q1.stop()
    q2.processAllAvailable(); q2.stop()
    assertSameRows(spark.table("qual_deflate"), deflate(batch))
    assertSameRows(spark.table("qual_readable"), readable(batch))
    spark.table("qual_deflate").select($"doc_id").as[Long]
      .collect().toSet shouldBe Set(1L, 3L) // doc 2 blocklisted out
  }

  test("streaming Misra-Gries: complete-mode state merges across " +
      "micro-batches; exact regime equals the batch counts") {
    val dir = tmp("stream_mg")
    val batch = (Seq.fill(30)("hot") ++ Seq.fill(9)("warm") ++
      (1 to 6).map(i => s"c$i")).map(Tuple1(_)).toDF("item")
    batch.repartition(3).write.parquet(dir + "/p")
    val out = graft.streaming.EventStream.runHeavyHittersOnce(spark,
      batch.schema, dir + "/p", "item", k = 16, "mg_stream_test",
      maxFilesPerTrigger = Some(1)) // 3+ real micro-batches
    val truth = batch.groupBy($"item").count()
      .as[(String, Long)].collect().toMap
    out.as[(String, Long)].collect().toMap shouldBe truth
    // approximate regime under streaming keeps the survival guarantee:
    // n=45, k=2 -> bound 15; "hot" (30) must survive as a lower bound
    val approx = graft.streaming.EventStream.runHeavyHittersOnce(spark,
      batch.schema, dir + "/p", "item", k = 2, "mg_stream_approx",
      maxFilesPerTrigger = Some(1))
      .as[(String, Long)].collect().toMap
    approx.keySet should contain ("hot")
    approx("hot") should be <= 30L
    approx.size should be <= 2
  }

  test("runQualityChecksOnce: per-batch reports sum to the global " +
      "check, group-level rules refused") {
    val dir = tmp("stream_qc")
    val batch = Seq((1L, 5.0), (2L, 500.0), (3L, -1.0), (4L, 7.0))
      .toDF("id", "v")
    batch.repartition(4).write.parquet(dir + "/in")
    val out = graft.streaming.EventStream.runQualityChecksOnce(spark,
      batch.schema, dir + "/in", Seq("not_null:id", "in_range:v:0:100"),
      dir + "/out", "qc_test", maxFilesPerTrigger = Some(1))
    // 4 single-file batches -> one report row set each; sums = global
    out.select(max($"batch_id")).as[Long].collect().head should be >= 1L
    val agg = out.groupBy($"check_name")
      .agg(sum($"violations").as("v"), sum($"total").as("t"))
      .as[(String, Long, Long)].collect().sortBy(_._1)
    agg shouldBe Array(
      ("in_range(v,0.0,100.0)", 2L, 4L), ("not_null(id)", 0L, 4L))
    // uniqueness is not batch-decomposable: refused loudly
    val err = intercept[IllegalArgumentException] {
      graft.streaming.EventStream.runQualityChecksOnce(spark,
        batch.schema, dir + "/in", Seq("unique:id"), dir + "/out2", "qc2")
    }
    err.getMessage should include("row-level")
  }
}

class PackingSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Packing

  test("chunk ids equal the single-partition ordered cumsum (prefix-sum correctness)") {
    val docs = (1L to 500L).map(i => (i, (i % 37 + 1).toInt)).toDF("id", "n")
    val packed = Packing.withChunkIds(docs, "id", "n", budgetTokens = 100,
        slices = 7)
    val out = packed.frame
      .select($"id", $"chunk_id", $"offset_in_chunk")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    packed.release()
    // oracle: sequential scan
    var cum = 0L
    val exp = (1L to 500L).map { i =>
      val before = cum; cum += (i % 37 + 1)
      (i, before / 100, before % 100)
    }
    out shouldBe exp.toArray
  }

  test("no single-task global window in the plan") {
    val docs = (1L to 100L).map(i => (i, 5)).toDF("id", "n")
    val plan = Packing.withChunkIds(docs, "id", "n", 64, slices = 4)
      .frame.queryExecution.executedPlan.toString
    // the scale-killer would be Exchange SinglePartition feeding a Window
    plan should not include "SinglePartition"
  }

  test("packingStats: hand-computed fill quantiles and mean fill; a " +
      "straddling doc's mass stays with its starting chunk") {
    // five 3-token docs, budget 4: before = 0,3,6,9,12 -> chunks
    // 0,0,1,2,3; masses: chunk0 = 6 (straddle stays), others 3
    val docs = (1L to 5L).map(i => (i, 3)).toDF("id", "n")
    val packed = Packing.withChunkIds(docs, "id", "n", budgetTokens = 4)
    val out = Packing.packingStats(packed.frame, "n", budgetTokens = 4,
        ps = Seq(0.5, 1.0))
      .as[(Double, Long, Long, Long, Double)].collect().sortBy(_._1)
    packed.release()
    // masses sorted: 3,3,3,6; p50 -> ceil(2) -> 3; p100 -> 6;
    // mean fill = 15 / (4 chunks * 4 budget)
    out shouldBe Array(
      (0.5, 3L, 4L, 15L, 0.9375),
      (1.0, 6L, 4L, 15L, 0.9375))
  }

  test("two interleaved packing calls keep independent persist handles") {
    // the old shared lastPersisted singleton would leak call A's cached
    // frame when call B started; per-call handles must stay independent:
    // releasing A must not disturb B's load-bearing cache
    val a = Packing.withChunkIds(
      (1L to 300L).map(i => (i, 3)).toDF("id", "n"), "id", "n", 64,
      slices = 5)
    val b = Packing.withChunkIds(
      (1L to 200L).map(i => (i, 7)).toDF("id", "n"), "id", "n", 50,
      slices = 3)
    a.release()
    // b still computes correctly after a's release
    val got = b.frame.select($"id", $"chunk_id", $"offset_in_chunk")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    var cum = 0L
    val exp = (1L to 200L).map { i =>
      val before = cum; cum += 7; (i, before / 50, before % 50)
    }
    got shouldBe exp.toArray
    b.release()
  }
}

class SamplingSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Sampling

  test("deterministic sample: stable, subset-consistent, rate-accurate") {
    val df = spark.range(10000).toDF("id")
    val s30 = Sampling.deterministicSample(df, "id", 0.3)
    val s60 = Sampling.deterministicSample(df, "id", 0.6)
    val n30 = s30.count(); val n60 = s60.count()
    // rate within 3 percentage points at n=10k
    n30.toDouble / 10000 shouldBe 0.3 +- 0.03
    n60.toDouble / 10000 shouldBe 0.6 +- 0.03
    // nested-rate subset property: the 30% sample is inside the 60% one
    s30.join(s60, Seq("id"), "left_anti").count() shouldBe 0
    // deterministic across evaluations
    s30.select($"id").as[Long].collect().sorted shouldBe
      s30.select($"id").as[Long].collect().sorted
  }

  test("stratified sample applies per-strata rates") {
    val df = spark.range(8000)
      .selectExpr("id", "CASE WHEN id % 4 = 0 THEN 'rare' ELSE 'common' END AS s")
    val out = Sampling.stratifiedSample(df, "id", "s",
      Map("common" -> 0.1), defaultFraction = 1.0)
    val byStrata = out.groupBy($"s").count().as[(String, Long)]
      .collect().toMap
    byStrata("rare") shouldBe 2000L // default 1.0 keeps all
    byStrata("common").toDouble / 6000 shouldBe 0.1 +- 0.03
  }

  test("hash split: exhaustive, disjoint, rate-accurate, weight-scale " +
      "invariant, and consistent with the samplers' bucket") {
    val df = spark.range(10000).toDF("id")
    val out = Sampling.hashSplit(df, "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val byLabel = out.groupBy($"split").count().as[(String, Long)]
      .collect().toMap
    // every row labeled, exactly once (withColumn preserves row count)
    byLabel.values.sum shouldBe 10000L
    byLabel("train").toDouble / 10000 shouldBe 0.8 +- 0.03
    byLabel("val").toDouble / 10000 shouldBe 0.1 +- 0.02
    byLabel("test").toDouble / 10000 shouldBe 0.1 +- 0.02
    // un-normalized weights give the identical assignment
    val scaled = Sampling.hashSplit(df, "id",
      Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0))
    assertSameRows(out, scaled)
    // split boundaries line up with deterministicSample's bucket: the
    // train split IS the 80% sample (same id never migrates between a
    // sampled subset and its training split)
    val train = out.filter($"split" === "train").select($"id")
    assertSameRows(train, Sampling.deterministicSample(df, "id", 0.8))
  }

  test("weightedSample: heavy rows always kept, rate tracks weight, " +
      "null weight drops, plan is a pure narrow filter") {
    val df = spark.range(10000).selectExpr("id",
      "CASE WHEN id % 100 = 0 THEN CAST(NULL AS INT) " +
      "     WHEN id % 2 = 0 THEN 50 ELSE 400 END AS w")
    val out = Sampling.weightedSample(df, "id", "w", threshold = 200.0)
    // w=400 >= threshold: p=1, all 5000 odd ids kept; w=null: never kept
    out.filter($"w" === 400).count() shouldBe 5000L
    out.filter($"w".isNull).count() shouldBe 0L
    // w=50: p = 50/200 = 0.25 of the 4900 non-null even ids
    out.filter($"w" === 50).count().toDouble / 4900 shouldBe 0.25 +- 0.03
    // selection rides the shared bucket: the w=50 survivors are exactly
    // the deterministic 25% sample of the w=50 stratum
    assertSameRows(out.filter($"w" === 50).select($"id"),
      Sampling.deterministicSample(df.filter($"w" === 50), "id", 0.25)
        .select($"id"))
    // scale shape: no exchange anywhere — a narrow filter over the scan
    out.queryExecution.executedPlan.toString should not include "Exchange"
  }

  test("madPerGroup: a huge outlier moves neither median nor MAD; " +
      "single-value group reports mad 0") {
    val df = (Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 100L)) ++
      Seq(("b", 5L))).toDF("g", "v")
    val out = Sampling.madPerGroup(df, "g", "v")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // a: n=4, type-1 median = 2nd of (1,2,3,100) = 2;
    // devs (1,0,1,98) sorted -> 2nd = 1
    out("a") shouldBe (("a", 4L, 2L, 1L))
    out("b") shouldBe (("b", 1L, 5L, 0L))
  }

  test("scoreBucketsReport: deterministic decile membership (ties fall " +
      "low), exact means per bucket, constant score collapses to one " +
      "bucket") {
    val df = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))
      .toDF("s", "m")
    val out = Sampling.scoreBucketsReport(df, "s", "m", nBuckets = 2)
      .as[(Int, Long, Long, Long, Double)].collect().sortBy(_._1)
    // threshold q(0.5) = 2: scores <= 2 land in bucket 1
    out shouldBe Array((1, 2L, 1L, 2L, 15.0), (2, 2L, 3L, 4L, 35.0))
    val const = Seq((7L, 1L), (7L, 2L), (7L, 3L), (7L, 4L))
      .toDF("s", "m")
    Sampling.scoreBucketsReport(const, "s", "m", nBuckets = 4)
      .as[(Int, Long, Long, Long, Double)].collect() shouldBe
      Array((1, 4L, 7L, 7L, 2.5))
  }

  test("winsorizePerGroup: clamps into the exact per-group quantile " +
      "band, row count preserved, broadcast bounds") {
    // group g: 1..20 -> p05 quantile = 1 (ceil(0.05*20)=1st), p95 = 19
    val df = (1 to 20).map(v => ("g", v)).toDF("grp", "v")
    val out = Sampling.winsorizePerGroup(df, "grp", "v", 0.05, 0.95)
    out.count() shouldBe 20L
    val clipped = out.select($"v", $"v_w").as[(Int, Int)].collect().toMap
    clipped(1) shouldBe 1    // at the low bound already
    clipped(20) shouldBe 19  // clamped down to p95
    clipped(10) shouldBe 10  // interior untouched
    out.queryExecution.executedPlan.toString should
      include("BroadcastHashJoin")
  }

  test("capPerGroup: caps only oversized groups, deterministic survivor " +
      "set, no single-partition window") {
    val df = spark.range(1000)
      .selectExpr("id", "concat('g', id % 4) AS grp")    // 250 per group
      .union(spark.range(1000, 1010)
        .selectExpr("id", "'tiny' AS grp"))              // under the cap
    val capped = Sampling.capPerGroup(df, "id", "grp", 100)
    val byGroup = capped.groupBy($"grp").count().as[(String, Long)]
      .collect().toMap
    (0 until 4).foreach(g => byGroup(s"g$g") shouldBe 100L)
    byGroup("tiny") shouldBe 10L // never padded or dropped
    // deterministic: the same ids survive on re-evaluation
    assertSameRows(capped, Sampling.capPerGroup(df, "id", "grp", 100))
    // the window partitions by group — no global single-task sort
    (capped.queryExecution.executedPlan.toString should not)
      .include("SinglePartition")
  }

  test("capPerGroup: the dominant-group path prefilters by broadcast " +
      "bucket threshold before the exact rank window") {
    // one group holds 90% of the corpus — the exact skew a per-source cap
    // exists for. The plan must show the two-phase shape: the per-group
    // threshold arrives via a broadcast join and a __bstar prefilter sits
    // below the rank window, so the window never ranks the whole group.
    val df = spark.range(20000)
      .selectExpr("id",
        "CASE WHEN id % 10 < 9 THEN 'dominant' ELSE concat('g', id % 100) END AS grp")
    val capped = Sampling.capPerGroup(df, "id", "grp", 50)
    // survivors: exactly the cap's head of the deterministic-sample
    // ordering — equal to the naive single-phase rank (the oracle)
    import org.apache.spark.sql.expressions.Window
    val naive = df.withColumn("__r", row_number().over(
        Window.partitionBy($"grp")
          .orderBy(Sampling.hashBucket($"id"), $"id")))
      .filter($"__r" <= 50).drop("__r")
    assertSameRows(capped, naive)
    // plan asserted AFTER execution: the threshold join DOES carry a
    // forced broadcast hint — measured load-bearing under skew (without
    // it, the rank window pins a skewed SMJ that AQE can't split: one
    // task read 7.37M rows, 2.6x naive wall).
    val plan = capped.queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should include("__bstar")
    (plan should not).include("SinglePartition")
    // the exact window's input is bounded near the cap, not group-sized:
    // the prefilter admits cap + ties, never the 18k-row dominant group
    val pre = df.withColumn("__bkt", Sampling.hashBucket($"id"))
      .join(org.apache.spark.sql.functions.broadcast(
        df.groupBy($"grp").count().filter($"count" > 50)
          .select($"grp")), Seq("grp"), "left_semi")
    pre.count() should be > 0L // sanity: skew exists
    val dominantSurvivors = capped.filter($"grp" === "dominant").count()
    dominantSurvivors shouldBe 50L
  }

  test("capPerGroupWeighted: budget binds per group, boundary row kept, " +
      "two-phase equals the naive running sum, no single-task window") {
    // group 'big': 200 rows of weight 10 (budget 500 → ~50 survivors,
    // boundary row crossing 500 kept); 'small': total under budget
    val df = spark.range(200)
      .selectExpr("id", "'big' AS grp", "CAST(10 AS DOUBLE) AS w")
      .union(spark.range(200, 210)
        .selectExpr("id", "'small' AS grp", "CAST(3 AS DOUBLE) AS w"))
    val capped = Sampling.capPerGroupWeighted(df, "id", "grp", "w", 500.0)
    val byGroup = capped.groupBy($"grp")
      .agg(org.apache.spark.sql.functions.sum($"w").as("tot"),
        count($"id").as("n"))
      .as[(String, Double, Long)].collect().map(r => r._1 -> (r._2, r._3))
      .toMap
    byGroup("small") shouldBe ((30.0, 10L)) // under budget: untouched
    // boundary row kept: least whole-row sum >= budget
    byGroup("big")._1 shouldBe 500.0 +- 10.0
    byGroup("big")._2 shouldBe 50L
    // equals the naive single-window running sum
    import org.apache.spark.sql.expressions.Window
    val naive = df.withColumn("__cb",
        org.apache.spark.sql.functions.sum($"w").over(
          Window.partitionBy($"grp")
            .orderBy(Sampling.hashBucket($"id"), $"id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          - $"w")
      .filter($"__cb" < 500.0).drop("__cb")
    assertSameRows(capped, naive)
    // a budget that lands mid-row: the crossing row is KEPT, so the
    // group's kept weight is the least whole-row sum >= budget
    Sampling.capPerGroupWeighted(df, "id", "grp", "w", 495.0)
      .filter($"grp" === "big")
      .agg(org.apache.spark.sql.functions.sum($"w")).as[Double]
      .head() shouldBe 500.0
    // null weights read as zero and never break the prefix
    val withNullW = df.withColumn("w",
      when($"id" % 7 === 0, lit(null)).otherwise($"w"))
    val cappedN = Sampling.capPerGroupWeighted(withNullW, "id", "grp", "w",
      500.0)
    cappedN.count() should be >= capped.count()
    (capped.queryExecution.executedPlan.toString should not)
      .include("SinglePartition")
  }

  test("quantilePerGroup: the explicit type-1 rule matches a sorted-rank " +
      "oracle across p values on ties-heavy data") {
    val df = (1L to 1000L).map(i => (i, s"g${i % 3}", (i % 7).toInt))
      .toDF("id", "grp", "score")
    for (p <- Seq(0.25, 0.5, 0.9, 1.0)) {
      val got = Sampling.quantilePerGroup(df, "grp", "score", p)
        .as[(String, Int, Long)].collect().map(r => r._1 -> r._2).toMap
      val exp = df.as[(Long, String, Int)].collect().groupBy(_._2)
        .map { case (g, rows) =>
          val sorted = rows.map(_._3).sorted
          g -> sorted(math.ceil(p * sorted.length).toInt - 1)
        }
      got shouldBe exp
    }
    an[IllegalArgumentException] should be thrownBy
      Sampling.quantilePerGroup(df, "grp", "score", 0.0)
  }

  test("quantilesPerGroup: the whole summary in one pass agrees with " +
      "per-p calls and scans the histogram once") {
    val df = (1L to 1000L).map(i => (i, s"g${i % 3}", (i % 7).toInt))
      .toDF("id", "grp", "score")
    val ps = Seq(0.25, 0.5, 0.9, 1.0)
    val multi = Sampling.quantilesPerGroup(df, "grp", "score", ps)
      .as[(String, Double, Int, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    for (p <- ps) {
      val single = Sampling.quantilePerGroup(df, "grp", "score", p)
        .as[(String, Int, Long)].collect().map(r => r._1 -> r._2).toMap
      single.foreach { case (g, q) => multi((g, p)) shouldBe q }
    }
    multi.size shouldBe 12 // 3 groups x 4 ps
    an[IllegalArgumentException] should be thrownBy
      Sampling.quantilesPerGroup(df, "grp", "score", Seq(0.5, 0.5))
  }

  test("capPerGroupWeightedBudgets: per-group budgets bind independently, " +
      "unnamed groups kept whole WITHOUT entering the exact window") {
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(200)
      .selectExpr("id", "'big' AS grp", "CAST(10 AS DOUBLE) AS w")
      .union(spark.range(200, 300)
        .selectExpr("id", "'mid' AS grp", "CAST(10 AS DOUBLE) AS w"))
      .union(spark.range(300, 10300)
        .selectExpr("id", "'unlimited' AS grp", "CAST(1 AS DOUBLE) AS w"))
    val budgets = Seq(("big", 500.0), ("mid", 200.0)).toDF("grp", "budget")
    val capped = Sampling.capPerGroupWeightedBudgets(df, "id", "grp", "w",
      budgets)
    val byGroup = capped.groupBy($"grp")
      .agg(org.apache.spark.sql.functions.sum($"w").as("tot"),
        count($"id").as("n"))
      .as[(String, Double, Long)].collect().map(r => r._1 -> (r._2, r._3))
      .toMap
    byGroup("big") shouldBe ((500.0, 50L))
    byGroup("mid") shouldBe ((200.0, 20L))
    byGroup("unlimited") shouldBe ((10000.0, 10000L)) // absent = whole
    // equals the naive per-group-budget running sum
    val naive = df.join(budgets, Seq("grp"), "left")
      .withColumn("__cb",
        org.apache.spark.sql.functions.sum($"w").over(
          Window.partitionBy($"grp")
            .orderBy(Sampling.hashBucket($"id"), $"id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          - $"w")
      .filter($"budget".isNull || $"__cb" < $"budget")
      .select($"id", $"grp", $"w")
    assertSameRows(capped, naive)
    // the unlimited (corpus-dominant) group must NOT flow through the
    // running-sum window: the Window's child filters to budgeted rows
    val planStr = capped.queryExecution.executedPlan.toString
    planStr should include("Window")
    (planStr should not).include("SinglePartition")
    // mixToBudget normalizes proportions into the same machinery
    val mixed = Sampling.mixToBudget(df, "id", "grp", "w",
      Map("big" -> 5.0, "mid" -> 2.0), totalBudget = 700.0)
    mixed.filter($"grp" === "big").agg(
      org.apache.spark.sql.functions.sum($"w")).as[Double]
      .head() shouldBe 500.0
    mixed.filter($"grp" === "unlimited").count() shouldBe 10000L
  }

  test("filterByQuantileBand: histogram construction equals the naive " +
      "percent_rank window, ties and boundaries included") {
    import org.apache.spark.sql.expressions.Window
    // heavy ties (score = id % 13) + several group sizes incl. size 1
    val df = spark.range(400)
      .selectExpr("id",
        "CASE WHEN id = 0 THEN 'solo' ELSE concat('g', id % 3) END AS grp",
        "CAST(id % 13 AS INT) AS score")
    def naive(lo: Double, hi: Double) =
      df.withColumn("__pr", percent_rank().over(
          Window.partitionBy($"grp").orderBy($"score")))
        .filter($"__pr" >= lo && $"__pr" <= hi).drop("__pr")
    for ((lo, hi) <- Seq((0.1, 0.9), (0.0, 0.5), (0.25, 1.0), (0.0, 1.0)))
      assertSameRows(
        Sampling.filterByQuantileBand(df, "grp", "score", lo, hi),
        naive(lo, hi))
    // single-row groups rank 0.0: kept iff lo == 0
    Sampling.filterByQuantileBand(df, "grp", "score", 0.0, 0.1)
      .filter($"grp" === "solo").count() shouldBe 1L
    Sampling.filterByQuantileBand(df, "grp", "score", 0.1, 1.0)
      .filter($"grp" === "solo").count() shouldBe 0L
    // user columns named like the working columns survive untouched
    val clash = df.withColumn("__pr", lit("keep")).withColumn("__c", lit(1))
    val out = Sampling.filterByQuantileBand(clash, "grp", "score", 0.1, 0.9)
    out.columns.toSeq shouldBe clash.columns.toSeq
    out.select($"__pr").distinct().as[String].collect() shouldBe
      Array("keep")
    // the window's input is the per-(grp, score) histogram — an
    // aggregation feeds it, and nothing plans a single partition
    val plan = Sampling.filterByQuantileBand(df, "grp", "score", 0.1, 0.9)
      .queryExecution.executedPlan.toString
    (plan should not).include("SinglePartition")
  }

  test("capPerGroup: null ids head the ordering and are never dropped " +
      "(two-phase equals the naive rank)") {
    // hashBucket(null) is null; without the −1 sentinel the prefilter
    // `bkt <= __bstar` is null for those rows and an over-cap group would
    // silently drop its null-id rows AND return short of the cap
    val df = spark.range(500)
      .selectExpr("CASE WHEN id < 5 THEN NULL ELSE id END AS id",
        "'g' AS grp")
    val capped = Sampling.capPerGroup(df, "id", "grp", 50)
    capped.count() shouldBe 50L          // never short of the cap
    capped.filter($"id".isNull).count() shouldBe 5L // nulls sort first
    import org.apache.spark.sql.expressions.Window
    val naive = df.withColumn("__r", row_number().over(
        Window.partitionBy($"grp")
          .orderBy(Sampling.hashBucket($"id").asc, $"id".asc)))
      .filter($"__r" <= 50).drop("__r")
    assertSameRows(capped, naive)
  }

  test("capPerGroup: user columns named like the working columns survive " +
      "untouched and the rank still orders on the id hash") {
    // a pre-existing __bkt/__bstar must neither be clobbered (withColumn
    // replaces same-named columns) nor leak ambiguity into the join
    val df = spark.range(300)
      .selectExpr("id", "'g' AS grp", "id * 2 AS __bkt", "'u' AS __bstar")
    val capped = Sampling.capPerGroup(df, "id", "grp", 20)
    capped.columns.toSeq shouldBe df.columns.toSeq
    capped.count() shouldBe 20L
    capped.filter($"__bkt" =!= $"id" * 2).count() shouldBe 0L
    capped.filter($"__bstar" =!= "u").count() shouldBe 0L
    import org.apache.spark.sql.expressions.Window
    val naive = df.withColumn("__r", row_number().over(
        Window.partitionBy($"grp")
          .orderBy(Sampling.hashBucket($"id"), $"id")))
      .filter($"__r" <= 20).drop("__r")
    assertSameRows(capped, naive)
  }

  test("quantileNormalize: shifted same-shape sources land on identical " +
      "normalized values rank-for-rank; nulls pass through") {
    val df = Seq(
      (1L, Some("a"), Some(1L)), (2L, Some("a"), Some(2L)),
      (3L, Some("a"), Some(3L)),
      (4L, Some("b"), Some(101L)), (5L, Some("b"), Some(102L)),
      (6L, Some("b"), Some(103L)),
      (7L, None, Some(50L)), (8L, Some("a"), None))
      .toDF("id", "src", "score")
    val out = Sampling.quantileNormalize(df, "src", "score")
      .select($"id", $"score_qn").as[(Long, Option[Long])]
      .collect().toMap
    // global sorted scores {1,2,3,101,102,103}; both sources' ranks
    // p={0, 0.5, 1} -> ceil(p*6)={0,3,6} -> values {1, 3, 103}
    out(1L) shouldBe Some(1L); out(4L) shouldBe Some(1L)
    out(2L) shouldBe Some(3L); out(5L) shouldBe Some(3L)
    out(3L) shouldBe Some(103L); out(6L) shouldBe Some(103L)
    out(7L) shouldBe None; out(8L) shouldBe None
  }

  test("quantileNormalize: a single group with distinct scores maps " +
      "onto itself (identity), and duplicate scores share one mapping") {
    val df = (1L to 9L).map(i => (i, "only", i * 10)).toDF("id", "src", "v")
    val idOut = Sampling.quantileNormalize(df, "src", "v")
      .select($"v", $"v_qn").as[(Long, Long)].collect()
    all(idOut.map(r => r._1 == r._2)) shouldBe true
    val dup = Seq((1L, "g", 5L), (2L, "g", 5L), (3L, "g", 9L))
      .toDF("id", "src", "v")
    val d = Sampling.quantileNormalize(dup, "src", "v")
      .select($"id", $"v_qn").as[(Long, Long)].collect().toMap
    d(1L) shouldBe d(2L) // tied scores collapse to one histogram row
  }
}

class WeightedQuantileSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Sampling

  test("weightedQuantilesPerGroup: mass-weighted median differs from " +
      "the row median when heavy rows skew the mass; zero/null weights " +
      "ignored") {
    // scores 1..4; weights 1,1,1,7 -> W=10: half the mass sits at 4
    val df = Seq((1, Some(1L)), (2, Some(1L)), (3, Some(1L)),
      (4, Some(7L)), (9, Some(0L)), (8, None))
      .toDF("score", "w").withColumn("g", lit("all"))
    val out = Sampling.weightedQuantilesPerGroup(df, "g", "score", "w",
        Seq(0.5, 1.0))
      .as[(String, Double, Int, Long)].collect()
      .map(r => r._2 -> (r._3, r._4)).toMap
    // ceil(0.5*10)=5: cum 1,2,3,10 -> first >= 5 is score 4
    out(0.5) shouldBe ((4, 10L))
    out(1.0) shouldBe ((4, 10L))
    // unweighted median of the same rows is 2 (the contrast)
    Sampling.quantilesPerGroup(df.filter($"w".isNotNull && $"w" > 0),
        "g", "score", Seq(0.5))
      .as[(String, Double, Int, Long)].collect().head._3 shouldBe 2
  }
}

class SplitBalanceSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Sampling

  test("splitBalance: balanced split deviates zero, starved stratum " +
      "shows the signed gap") {
    val df = Seq(
      ("train", "en"), ("train", "en"), ("train", "zh"), ("train", "zh"),
      ("val", "en"), ("val", "en"))                 // val has NO zh
      .toDF("split", "lang")
    val out = Sampling.splitBalance(df, "split", "lang")
      .as[(String, String, Long, Double, Double, Double)].collect()
      .map(r => (r._2, r._1) -> r).toMap
    // overall: en 4/6, zh 2/6
    out(("en", "train"))._4 shouldBe 0.5
    out(("en", "train"))._6 shouldBe
      math.rint((0.5 - 4.0 / 6) * 1e6) / 1e6
    out(("en", "val"))._4 shouldBe 1.0 // en over-represented in val
    out(("en", "val"))._6 shouldBe math.rint((1.0 - 4.0 / 6) * 1e6) / 1e6
    // zh absent from val: no (val, zh) cell emitted — the audit reads
    // absence from the train-side surplus
    out.keySet should not contain (("zh", "val"))
    out(("zh", "train"))._4 shouldBe 0.5
  }
}

class StreamKMeansSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.operators.Similarity

  test("runKMeansAssignOnce: micro-batched assignment equals the batch " +
      "assignment (stateless map, centroid literal, no stream-static join)") {
    val emb = (0 until 40).map { i =>
      val v = Array(0.0f, 0.0f); v(i % 2) = 1.0f + 0.01f * (i % 7)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val cent = Seq((100L, Array(1.0f, 0.0f)), (200L, Array(0.0f, 1.0f)))
      .toDF("cid", "ce")
    val in = tmp("graft_skm_in")
    emb.repartition(4).write.mode("overwrite").parquet(in)
    val streamed = graft.streaming.EventStream.runKMeansAssignOnce(
      spark, spark.read.parquet(in).schema, in, cent, "vec_id",
      "embedding", "skm_test", maxFilesPerTrigger = Some(1))
    val batch = emb.select($"vec_id",
      Similarity.nearestCentroid(cent, $"embedding").as("cid"))
    assertSameRows(streamed, batch)
    streamed.as[(Long, Long)].collect().foreach { case (id, cid) =>
      cid shouldBe (if (id % 2 == 0) 100L else 200L)
    }
  }

  test("runPqEncodeOnce: micro-batched encode equals the single-shot " +
      "encode against the same frozen codebook") {
    val emb = (0 until 40).map { i =>
      val v = Array.tabulate(4)(d =>
        (math.sin(i * 3.7 + d * 1.3)).toFloat)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding",
      dim = 4, m = 2, ks = 4)
    val in = tmp("graft_spq_in")
    emb.repartition(4).write.mode("overwrite").parquet(in)
    val out = tmp("graft_spq_out") + "/codes"
    val streamed = graft.streaming.EventStream.runPqEncodeOnce(
      spark, spark.read.parquet(in).schema, in, cb, "vec_id",
      "embedding", dim = 4, m = 2, out, "spq_test",
      maxFilesPerTrigger = Some(1))
    val single = Similarity.pqEncode(emb, "vec_id", "embedding",
      dim = 4, m = 2, cb)
    assertSameRows(streamed, single)
  }
}

class TrainingSamplersSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.operators.Sampling

  test("negativeSamples: deterministic, never the own positive, at most " +
      "k per positive, drawn from the item universe") {
    val pos = Seq((1L, 10L), (1L, 20L), (2L, 10L)).toDF("u", "i")
    val items = (10L to 19L).toDF("item")
    def run() = Sampling.negativeSamples(pos, "u", "i", items, "item", k = 5)
      .as[(Long, Long, Int, Long)].collect().sortBy(r => (r._1, r._2, r._3))
    val out = run()
    out shouldBe run() // replays bit-for-bit
    out.foreach { case (_, i, j, neg) =>
      neg should not be i
      (10L to 19L) should contain(neg)
      j should (be >= 1 and be <= 5)
    }
    out.groupBy(r => (r._1, r._2)).foreach(_._2.length should be <= 5)
    // the (1,10) and (2,10) positives draw DIFFERENT negatives (user in
    // the hash): sampling is per-pair, not per-item
    val by = out.groupBy(r => (r._1, r._2))
      .view.mapValues(_.map(r => r._3 -> r._4).toMap).toMap
    by((1L, 10L)) should not be by((2L, 10L))
  }

  test("upsampleBalanced: every class reaches >= the majority size " +
      "within one replication, replica indices are dense from 1") {
    val df = (1 to 10).map(i => (i.toLong, "big")) ++
      Seq((100L, "small"), (101L, "small"), (102L, "small"))
    val out = Sampling.upsampleBalanced(df.toDF("id", "cls"), "cls")
      .as[(Long, String, Int)].collect()
    val sizes = out.groupBy(_._2).view.mapValues(_.length).toMap
    sizes("big") shouldBe 10               // majority: one copy each
    sizes("small") shouldBe 12             // ceil(10/3)=4 copies x 3 rows
    out.filter(_._1 == 100L).map(_._3).sorted shouldBe Seq(1, 2, 3, 4)
    out.filter(_._1 == 1L).map(_._3) shouldBe Seq(1)
  }
}

class TemperatureSampleSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Sampling

  test("temperatureSample: dominant group tempered toward the sqrt " +
      "share, rare group kept whole, deterministic") {
    // 900 "big" + 100 "small": alpha=.5 targets 750/250 -> small capped at 1
    val df = ((1 to 900).map(i => (i.toLong, "big")) ++
      (1000 to 1099).map(i => (i.toLong, "small"))).toDF("id", "g")
    def run() = Sampling.temperatureSample(df, "id", "g", 0.5)
      .as[(Long, String)].collect().sortBy(_._1)
    val out = run()
    out shouldBe run()
    val sizes = out.groupBy(_._2).view.mapValues(_.length).toMap
    sizes("small") shouldBe 100 // prob capped at 1: kept whole
    // big keep prob = (1000*30/(30+10))/900 = 0.8333…: hash-thinned near it
    sizes("big").toDouble shouldBe (900 * 0.8333) +- 45.0
  }
}

class StreamKMeansUpdateSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Similarity

  test("runKMeansUpdateOnce: micro-batched centroid update equals the " +
      "batch kmeansStep (exact integer state merges across batches)") {
    val emb = (0 until 48).map { i =>
      val v = Array(0.0f, 0.0f); v(i % 2) = 0.5f + 0.25f * (i % 3)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val cent = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("cid", "ce")
    val in = tmp("graft_skmu_in")
    emb.repartition(4).write.mode("overwrite").parquet(in)
    val streamed = graft.streaming.EventStream.runKMeansUpdateOnce(
      spark, spark.read.parquet(in).schema, in, cent, "embedding",
      "skmu_test", maxFilesPerTrigger = Some(1))
    val batch = Similarity.kmeansStep(emb, "vec_id", "embedding", cent)
    assertSameRows(streamed, batch)
  }
}

class StreamSessionizeSpec extends SparkSpec {
  import spark.implicits._

  test("stateful sessionize across REAL micro-batches equals batch " +
      "gap sessionization (state carries between triggers)") {
    val dir = tmp("stream_sess")
    // user 1: events straddle all three slices; the 1→2 gap is within a
    // session but crosses a batch boundary — correctness REQUIRES the
    // carried (lastTs, sessionId) state. user 2: one event per slice,
    // every gap > 30 min → one session per slice.
    val rows = Seq(
      (1L, 1L, 0L), (2L, 2L, 100000L),                     // slice 0
      (1L, 3L, 1000000L), (2L, 4L, 10000000L),             // slice 1
      (1L, 5L, 1200000L), (1L, 6L, 99999999L),             // slice 2
      (2L, 7L, 99999999L))
    val df = rows.toDF("user_id", "event_id", "ts_millis")
    // ts-range slices written oldest-first (mtime-ordered for the source)
    df.filter($"ts_millis" < 999999L).repartition(1)
      .write.mode("append").parquet(dir)
    df.filter($"ts_millis" >= 999999L && $"ts_millis" < 99999999L)
      .repartition(1).write.mode("append").parquet(dir)
    df.filter($"ts_millis" >= 99999999L).repartition(1)
      .write.mode("append").parquet(dir)

    val streamed = EventStream.runSessionizeOnce(spark,
      spark.read.parquet(dir).schema, dir, gapMillis = 1800000L,
      "sess_test", maxFilesPerTrigger = Some(1))
    val got = streamed.as[(Long, Long, Long)].collect().sortBy(_._2)
    got shouldBe Array(
      (1L, 1L, 1L), (2L, 2L, 1L),
      (1L, 3L, 1L),                 // within 30 min of event 1: SAME session
      (2L, 4L, 2L),                 // > 30 min gap: new session
      (1L, 5L, 1L), (1L, 6L, 2L),
      (2L, 7L, 3L))
    // identical to the batch window formulation on the union
    val batch = graft.operators.Sessionize(df, "user_id", $"ts_millis",
        "event_id", 1800000L)
      .select($"event_id", $"session_id").as[(Long, Long)]
      .collect().sortBy(_._1)
    batch.map(_._2) shouldBe got.map(_._3)
  }

  test("session_window eviction precision: watermark is ms-floored, " +
      "session ends keep micros, comparison inclusive (the q299 oracle " +
      "predicate)") {
    import org.apache.spark.sql.functions._
    val dir = tmp("evict_pin")
    // gap 10 ms; max event at 11999 us -> watermark floors to 11 ms.
    // Session ends: u 11500 (RETAINED: > 11000), v 11000 (EMITTED:
    // inclusive boundary), x 10999 (EMITTED), w 21999 (open, retained).
    Seq(("u", 1500L), ("v", 1000L), ("x", 999L), ("w", 11999L))
      .toDF("user_id", "tsu")
      .select($"user_id", timestamp_micros($"tsu").as("ts"))
      .write.parquet(dir + "/in")
    val out = EventStream.runSessionWindowOnce(spark,
      spark.read.parquet(dir + "/in").schema, dir + "/in",
      "user_id", "10 milliseconds", "evict_pin")
    out.select($"user_id", unix_micros($"session_window.end"))
      .as[(String, Long)].collect().sortBy(_._1) shouldBe
      Array(("v", 11000L), ("x", 10999L))
  }

  test("streaming as-of enrichment is micro-batch-boundary-invariant " +
      "and equals the batch as-of") {
    import org.apache.spark.sql.functions.col
    val dir = tmp("stream_asof")
    val probes = Seq((1L, 10L, 50L), (2L, 10L, 5L), (3L, 10L, 95L),
      (4L, 20L, 50L), (5L, 30L, 7L))
      .toDF("p_id", "k", "p_ts")
    val history = Seq((100L, 10L, 10L), (101L, 10L, 90L), (102L, 20L, 50L))
      .toDF("r_id", "rk", "r_ts")
    // 5 files -> 5 micro-batches at maxFilesPerTrigger=1
    probes.repartition(5).write.parquet(dir + "/p")
    val streamed = EventStream.runAsOfEnrichOnce(spark,
      spark.read.parquet(dir + "/p").schema, dir + "/p", history,
      "k", "rk", "p_ts", "r_ts", "r_id", dir + "/out5", "asof_enrich",
      maxFilesPerTrigger = Some(1))
    val batch = graft.operators.AsOfJoin(probes, history, col("k"),
      col("rk"), col("p_ts"), col("r_ts"), col("r_id"))
    assertSameRows(streamed, batch)
    // single-trigger run settles to the same rows (boundary invariance)
    val streamed1 = EventStream.runAsOfEnrichOnce(spark,
      spark.read.parquet(dir + "/p").schema, dir + "/p", history,
      "k", "rk", "p_ts", "r_ts", "r_id", dir + "/out1", "asof_enrich1")
    assertSameRows(streamed1, batch)
  }
}
