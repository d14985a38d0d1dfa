package graft.gates

import graft.functions.PortableHash
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import OracleHelpers._

/** Gates: mergeable sketches: KMV, CMS, KLL, Bloom, heavy hitters. */
object SketchGates extends GateSupport {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // sketches: KMV distinct-count estimate per event type — the
    // deterministic alternative to approx_count_distinct (HLL registers
    // are partitioning-dependent; KMV over the portable md5-60 family is
    // a pure function of the data, so DuckDB reproduces the exact
    // estimate). k=64: the sketch fills (150 distinct users per type),
    // exercising the estimator path; sketch_rows pins the fill level
    "q109_kmv_distinct" -> ((s, dir) => {
      DistinctSketch.kmvDistinct(t(s, dir, "events"),
        "event_type", "user_id", k = 64)
    }),

    // sketches: count-min token frequencies at a width that forces real
    // collisions, next to the exact counts — est >= exact always, and
    // the oracle reproduces every counter via the portable md5 family
    "q134_cms_counts" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      val sketch = FreqSketch.cmsBuild(toks, "tok", depth = 4, width = 16)
      val qs = toks.filter(pmod(FreqSketch.hash60(col("tok")), lit(7L)) === 0)
      val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact"))
      FreqSketch.cmsEstimate(sketch, qs, "tok", depth = 4, width = 16)
        .join(exact, col("item") === col("tok"))
        .select(col("item").as("token"), col("est"), col("exact"))
    }),

    // telemetry: KMV overlap — per event type, how many users the two
    // event-id-parity halves of the log share, estimated purely from the
    // halves' sketch artifacts via inclusion-exclusion on a true merge
    "q127_kmv_intersect" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val a = DistinctSketch.kmvHashes(
        ev.filter(col("event_id") % 2 === 0), "event_type", "user_id", 64)
      val b = DistinctSketch.kmvHashes(
        ev.filter(col("event_id") % 2 === 1), "event_type", "user_id", 64)
      DistinctSketch.kmvIntersectEstimate(a, b, "event_type", 64)
    }),

    // sketches: KMV mergeability — sketch two disjoint halves of the
    // event log separately, merge the sketch ARTIFACTS, estimate.
    // The oracle computes the estimate over the whole table directly:
    // merge-of-parts == sketch-of-union, exactly, which is what lets
    // per-load sketch artifacts answer cross-load distinct counts
    // without re-reading any load
    "q114_kmv_merge" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val a = DistinctSketch.kmvHashes(
        ev.filter(col("event_id") % 2 === 0), "event_type", "user_id", 64)
      val b = DistinctSketch.kmvHashes(
        ev.filter(col("event_id") % 2 =!= 0), "event_type", "user_id", 64)
      DistinctSketch.kmvEstimate(
        DistinctSketch.kmvMerge(Seq(a, b), "event_type", 64),
        "event_type", 64)
    }),

    // sketch: Misra-Gries heavy hitters over the token stream — k=64
    // exceeds the corpus's 31-token vocabulary, so the one-pass sketch
    // is provably EXACT here and the oracle is the plain count (the
    // approximate regime is spec-bounded instead)
    "q192_heavy_hitters" -> ((s, dir) => {
      Stats.heavyHitters(
        t(s, dir, "documents")
          .select(explode(Dedup.tokens(col("text"))).as("token")),
        "token", k = 64)
    }),

    // sketch: per-source heavy hitters — the grouped MG face (one
    // k-counter sketch per source group), exact at k=64 >= vocab
    "q194_group_heavy_hitters" -> ((s, dir) => {
      Stats.heavyHittersPerGroup(
        t(s, dir, "documents")
          .select(col("source"),
            explode(Dedup.tokens(col("text"))).as("token")),
        "source", "token", k = 64)
    }),

    // sketch: per-type value quantiles via the mergeable KLL-style
    // aggregate, pinned in its EXACT regime (k=65536 >= any per-type
    // count here — no compaction fires, the MG-gate convention); the
    // approximate regime is spec-bounded instead
    "q200_quantile_sketch" -> ((s, dir) => {
      Stats.sketchQuantilesPerGroup(t(s, dir, "events"), "event_type",
        "value", Seq(0.1, 0.5, 0.9, 0.99), k = 65536)
    }),

    // sketch: join-size estimation from two CMS artifacts (AMS inner
    // product, min over depth rows) — size orders ⋈ customer on custkey
    // WITHOUT running the join; alongside the true size for context
    "q215_cms_join_size" -> ((s, dir) => {
      val sa = FreqSketch.cmsBuild(
        t(s, dir, "orders").select(col("o_custkey")), "o_custkey",
        depth = 4, width = 2048)
      val sb = FreqSketch.cmsBuild(
        t(s, dir, "customer").select(col("c_custkey")), "c_custkey",
        depth = 4, width = 2048)
      val est = FreqSketch.cmsJoinSizeEstimate(sa, sb)
      val exact = t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .agg(count(lit(1)).as("true_join_size"))
      est.crossJoin(exact)
    }),

    // decontamination via SAVED benchmark artifacts: build the shingle
    // table once, parquet round-trip, rebuild the bloom at load — the
    // per-release/per-shard amortization face of q71
    "q217_bloom_artifacts" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 25 === 0)
        .select(concat_ws(" ",
          slice(Dedup.tokens(col("text")), 2, 12)).as("qtext"))
      val artsDir = tmpDir("graft_q217_arts")
      Decontaminate.benchmarkArtifacts(bench, "qtext", n = 6)
        .write.mode("overwrite").parquet(artsDir)
      // the prepared benchmark stays pinned while the result is read;
      // the gate runner releases it after
      val pb = Decontaminate.prepareFromArtifacts(s.read.parquet(artsDir))
      Decontaminate.overlapsPrepared(docs, "doc_id", "text", pb,
          minOverlap = 1)
        .select(col("id").as("doc_id"), col("n_matched"),
          col("n_shingles"), col("overlap_ratio"))
    }),

    // sketch artifacts: two per-shard quantile sketches merged by
    // weighted re-ingest (QuantileSketchMergeAgg) — the kmvMerge
    // convention for quantiles; exact regime, whole-table oracle
    "q219_quantile_merge" -> ((s, dir) => {
      import graft.functions.QuantileSketchAgg
      val ev = t(s, dir, "events")
      def part(f: Column) = ev.filter(f)
        .groupBy(col("event_type"))
        .agg(QuantileSketchAgg.sketch(col("value").cast("double"), 65536)
          .as("__sk"))
        .select(col("event_type"), explode(col("__sk")("items")).as("it"))
      val merged = part(col("event_id") % 2 === 0)
        .unionByName(part(col("event_id") % 2 =!= 0))
        .groupBy(col("event_type"))
        .agg(QuantileSketchAgg.mergeSketch(col("it"), 65536).as("__sk"))
      Stats.quantilesFromSketches(merged, "event_type",
        Seq(0.1, 0.5, 0.9, 0.99))
    }),

    // sketch artifacts: two per-shard Misra-Gries summaries merged by
    // count re-ingest — exact at k >= vocab, whole-corpus oracle
    "q220_heavy_hitter_merge" -> ((s, dir) => {
      import graft.functions.MisraGriesAgg
      val docs = t(s, dir, "documents")
      def part(f: Column) = docs.filter(f)
        .select(explode(Dedup.tokens(col("text"))).as("token"))
        .filter(col("token").isNotNull)
        .agg(MisraGriesAgg.heavyHitters(col("token"), 64).as("hh"))
        .select(explode(col("hh")).as("it"))
      part(col("doc_id") % 2 === 0)
        .unionByName(part(col("doc_id") % 2 =!= 0))
        .agg(MisraGriesAgg.mergeHeavyHitters(col("it"), 64).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.item").as("item"), col("e.count_low").as("count_low"))
    }),

    // sketches: HyperLogLog distinct estimate per event type — unlike
    // Spark's built-in HLL++ (register merges are not bit-reproducible
    // across partitionings), these registers derive from the portable
    // md5-60 family and max-merge deterministically; the harmonic
    // denominator is an exact fixed-point BIGINT (every term a power of
    // two ≤ 2^53), so the gate pins the registers (via the denom), not
    // just a rounded estimate. p=8 → 256 registers, ~6.5% typical error
    "q284_hll_distinct" -> ((s, dir) => {
      DistinctSketch.hllEstimate(
        DistinctSketch.hllSketch(t(s, dir, "events"), "event_type",
          "user_id", p = 8), "event_type", p = 8)
    }),

    // sketches: HLL mergeability — register-max over the two event-id-
    // parity halves' sketch ARTIFACTS must equal the whole-table sketch
    // (max is associative/commutative/idempotent); same oracle as q284
    "q285_hll_merge" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val a = DistinctSketch.hllSketch(
        ev.filter(col("event_id") % 2 === 0), "event_type", "user_id", 8)
      val b = DistinctSketch.hllSketch(
        ev.filter(col("event_id") % 2 =!= 0), "event_type", "user_id", 8)
      DistinctSketch.hllEstimate(
        DistinctSketch.hllMerge(Seq(a, b), "event_type", 8),
        "event_type", 8)
    })
  )

  val oracleSql: Map[String, String] = Map(

    // mirrors q109: distinct (type, md5-60(user)) pairs, k smallest per
    // type, the classic (k-1)*2^60/kth KMV estimator — every step a pure
    // function of the data, so the ESTIMATE itself hash-matches.
    // (k-1)*2^60 is exact in a double (1023 < 2^53, 2^60 a power of two),
    // then a single division — identical IEEE bits both engines
    "q109_kmv_distinct" -> kmvOracleSql,

    // mirrors q134: same md5-60 bucket arithmetic per (row, token), min
    // over the four counters with absent cells as zero
    "q134_cms_counts" ->
      s"""WITH toks AS (
         |  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+'))
         |    AS it FROM documents),
         |rws AS (SELECT unnest([0, 1, 2, 3]) AS rw),
         |cms AS (
         |  SELECT rw,
         |    ${PortableHash.sqlHash60(
                 "'cms_' || CAST(rw AS VARCHAR) || '_' || it")} % 16
         |      AS bucket,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM toks, rws GROUP BY 1, 2),
         |q AS (SELECT DISTINCT it FROM toks
         |  WHERE ${PortableHash.sqlHash60("it")} % 7 = 0),
         |qe AS (
         |  SELECT q.it, rws.rw,
         |    ${PortableHash.sqlHash60(
                 "'cms_' || CAST(rws.rw AS VARCHAR) || '_' || q.it")} % 16
         |      AS bucket
         |  FROM q, rws),
         |est AS (
         |  SELECT qe.it, CAST(min(coalesce(cms.cnt, 0)) AS BIGINT) AS est
         |  FROM qe LEFT JOIN cms USING (rw, bucket) GROUP BY 1),
         |ex AS (SELECT it, CAST(count(*) AS BIGINT) AS exact
         |  FROM toks GROUP BY 1)
         |SELECT est.it AS token, est.est, ex.exact
         |FROM est JOIN ex USING (it)""".stripMargin,

    // mirrors q127: two part sketches, their exact merge (union + re-take
    // 64 smallest), three estimates, inclusion-exclusion clamped at 0
    "q127_kmv_intersect" ->
      s"""WITH ${kmvPartSql("a", "event_id % 2 = 0")},
         |${kmvPartSql("b", "event_id % 2 = 1")},
         |m AS (
         |  SELECT event_type, h FROM (
         |    SELECT event_type, h,
         |      row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         |    FROM (SELECT event_type, h FROM s_a
         |          UNION SELECT event_type, h FROM s_b))
         |  WHERE rn <= 64),
         |${kmvEstSql("ea", "s_a")},
         |${kmvEstSql("eb", "s_b")},
         |${kmvEstSql("eu", "m")}
         |SELECT ea.event_type, ea.est AS est_a, eb.est AS est_b,
         |  eu.est AS est_union,
         |  greatest(round(ea.est + eb.est - eu.est, 6), 0.0)
         |    AS est_intersect
         |FROM ea JOIN eb USING (event_type) JOIN eu USING (event_type)"""
        .stripMargin,

    // mirrors q114: the ORACLE is q109's whole-table computation — the
    // gate's merge-of-half-sketches must land the identical estimate,
    // pinning sketch mergeability cross-engine
    "q114_kmv_merge" -> kmvOracleSql,

    // mirrors q192: k >= vocab makes Misra-Gries exact == plain counts
    "q192_heavy_hitters" ->
      """SELECT t AS item, CAST(count(*) AS BIGINT) AS count_low
        |FROM (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |  FROM documents)
        |WHERE t IS NOT NULL
        |GROUP BY t""".stripMargin,

    // mirrors q194: exact per-source counts at k >= vocab
    "q194_group_heavy_hitters" ->
      """SELECT source, t AS item, CAST(count(*) AS BIGINT) AS count_low
        |FROM (
        |  SELECT source,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |  FROM documents)
        |WHERE t IS NOT NULL
        |GROUP BY source, t""".stripMargin,

    // mirrors q200 in the exact regime: the sketch estimator is type-1
    // (smallest value whose cumulative weight >= max(1, ceil(p·n)));
    // with unit weights that is the value at sorted rank ceil(p·n).
    // The ceil runs on DOUBLE arithmetic in both engines (literals
    // CAST — DuckDB would otherwise use DECIMAL and round differently)
    "q200_quantile_sketch" -> eventQuantileSql,

    // mirrors q215: same md5 cell addressing as q134, inner product per
    // depth row, min across rows, plus the true join count
    "q215_cms_join_size" ->
      s"""WITH rws AS (SELECT unnest([0, 1, 2, 3]) AS rw),
         |sa AS (
         |  SELECT rw,
         |    ${PortableHash.sqlHash60(
        "'cms_' || CAST(rw AS VARCHAR) || '_' || CAST(o_custkey AS VARCHAR)")}
         |      % 2048 AS bucket,
         |    CAST(count(*) AS BIGINT) AS ca
         |  FROM orders, rws WHERE o_custkey IS NOT NULL GROUP BY 1, 2),
         |sb AS (
         |  SELECT rw,
         |    ${PortableHash.sqlHash60(
        "'cms_' || CAST(rw AS VARCHAR) || '_' || CAST(c_custkey AS VARCHAR)")}
         |      % 2048 AS bucket,
         |    CAST(count(*) AS BIGINT) AS cb
         |  FROM customer, rws WHERE c_custkey IS NOT NULL GROUP BY 1, 2),
         |ip AS (SELECT sa.rw, CAST(sum(sa.ca * sb.cb) AS BIGINT) AS p
         |       FROM sa JOIN sb USING (rw, bucket) GROUP BY sa.rw),
         |est AS (SELECT CAST(min(p) AS BIGINT) AS est_join_size FROM ip),
         |ex AS (SELECT CAST(count(*) AS BIGINT) AS true_join_size
         |       FROM orders JOIN customer ON o_custkey = c_custkey)
         |SELECT est.est_join_size, ex.true_join_size
         |FROM est CROSS JOIN ex""".stripMargin,

    // q217 decontaminates via SAVED benchmark artifacts (parquet round
    // trip + bloom rebuild at load) — same computation as q71
    "q217_bloom_artifacts" -> bloomDecontaminateSql,

    // q219 merges two PART sketches via weighted re-ingest — exact below
    // k, so the combined quantiles equal the whole-table oracle
    "q219_quantile_merge" -> eventQuantileSql,

    // q220 merges two per-shard MG summaries by count re-ingest — exact
    // at k >= vocab, so the combined counts equal the plain counts
    "q220_heavy_hitter_merge" ->
      """SELECT t AS item, CAST(count(*) AS BIGINT) AS count_low
        |FROM (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |  FROM documents)
        |WHERE t IS NOT NULL
        |GROUP BY t""".stripMargin,

    // mirrors DistinctSketch.hllSketch/hllEstimate at p=8 (Q=52): idx =
    // top 8 hash bits, ρ = 53 − bit-length of the low 52 (53 when zero),
    // per-register max, then the exact fixed-point harmonic sum with
    // empty registers contributing 2^53 each. The α_m·m²·2^53 constant
    // is embedded as the Scala double's round-trip literal
    "q284_hll_distinct" -> hllOracleSql,

    // q285 max-merges the halves' registers — merge-of-parts ==
    // sketch-of-union exactly, so the whole-table oracle gates it
    "q285_hll_merge" -> hllOracleSql
  )
}
