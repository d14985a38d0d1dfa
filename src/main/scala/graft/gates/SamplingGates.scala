package graft.gates

import graft.algos._
import graft.core.Tables
import graft.expr.{DateComponents, PartitionCriteria, SchemaOps}
import graft.catalog.{CatalogOps, TableWriter}
import graft.fsops.FsOps
import graft.io.{DataFormat, LoadMode}
import graft.functions.PortableHash
import graft.operators._
import graft.streaming.EventStream
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import OracleHelpers._

/** Gates: sampling and mixture construction. */
object SamplingGates extends GateSupport {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // corpus curation: deterministic stratified down-sampling (md5-derived
    // selection — stable under retries, reproducible cross-engine)
    "q47_stratified_sample" -> ((s, dir) => {
      Sampling.stratifiedSample(t(s, dir, "documents"), "doc_id", "lang",
          Map("en" -> 0.3, "de" -> 0.5))
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    // curation: deterministic training-order shuffle into shards
    "q56_corpus_shuffle" -> ((s, dir) => {
      Shuffling.shuffleIntoShards(t(s, dir, "documents"), "doc_id",
          numShards = 8)
        .select(col("doc_id"), col("shard"), col("pos_in_shard"))
    }),

    // curation: deterministic train/val/test split — md5-bucket label,
    // stable across runs/retries/engines (no row ever migrates splits)
    "q66_hash_split" -> ((s, dir) => {
      Sampling.hashSplit(t(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("lang"), col("split"))
    }),

    // curation: deterministic per-source cap (domain balancing — at most
    // N docs per source, survivors chosen by hash rank)
    "q67_source_cap" -> ((s, dir) => {
      Sampling.capPerGroup(t(s, dir, "documents"), "doc_id", "source",
          maxPerGroup = 10)
        .select(col("doc_id"), col("source"))
    }),

    // curation: token-budget mixture sampling — each source keeps the
    // head of its deterministic-sample ordering until 800 tokens land
    // (the crossing row kept); the weighted two-phase cap, so a dominant
    // source's histogram, not its rows, meets the threshold window
    "q74_token_budget_mix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
      Sampling.capPerGroupWeighted(docs, "doc_id", "source", "n_tokens",
          budgetPerGroup = 800.0)
        .select(col("doc_id"), col("source"), col("n_tokens"))
    }),

    // curation: weighted Bernoulli sampling — keep each doc with
    // probability min(1, n_chars/400): full-length docs always survive,
    // short ones proportionally to size. Pure narrow filter, no shuffle.
    "q118_weighted_sample" -> ((s, dir) => {
      Sampling.weightedSample(t(s, dir, "documents"), "doc_id",
          "n_chars", threshold = 400.0)
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),

    // curation QA: split-balance audit — per (split, lang) share vs the
    // corpus share after the 0.8/0.1/0.1 hash split
    "q147_split_balance" -> ((s, dir) => {
      val split = Sampling.hashSplit(t(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      Sampling.splitBalance(split, "split", "lang")
    }),

    // curation: split-leakage audit — near-dup pairs (q64's graph, built
    // on the RAW corpus so exact dups leak too) that straddle q66's
    // train/val/test hash split; each row is contamination eval can't see
    "q122_split_leakage" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cand = Dedup.minhashCandidates(docs, "doc_id", "text",
        shingleSize = 3, k = 32, bands = 8)
      val near = Dedup.jaccardVerify(cand, docs, "doc_id", "text",
          shingleSize = 3)
        .filter(col("jaccard") >= 0.5).select(col("id_a"), col("id_b"))
      val splits = Sampling.hashSplit(docs, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      Dedup.crossSplitPairs(near, splits, "doc_id")
    }),

    // curation: mixture reweighting to a GLOBAL token budget — 4000
    // tokens split en:fr:es = 2:1:1 (per-group budgets through the same
    // two-phase weighted cap); zh and de are not named, so they are kept
    // whole and never enter the exact window
    "q90_mixture_reweight" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
      Sampling.mixToBudget(docs, "doc_id", "lang", "n_tokens",
          Map("en" -> 0.5, "fr" -> 0.25, "es" -> 0.25),
          totalBudget = 4000.0)
        .select(col("doc_id"), col("lang"), col("n_tokens"))
    }),

    // training data: deterministic negative sampling — 3 md5-addressed
    // negatives per (customer, part) positive from the part universe
    "q202_negative_samples" -> ((s, dir) => {
      val pos = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast("long").as("user_id"),
          col("l_partkey").cast("long").as("item_id"))
        .distinct()
        .filter(col("user_id") % 10 === 0)
      Sampling.negativeSamples(pos, "user_id", "item_id",
        t(s, dir, "part").select(col("p_partkey").cast("long")
          .as("item")), "item", k = 3)
    }),

    // training data: class-balanced upsampling of documents by language
    "q203_upsample_balanced" -> ((s, dir) => {
      Sampling.upsampleBalanced(
        t(s, dir, "documents").select(col("doc_id"), col("lang")), "lang")
    }),

    // training data: hard-negative mining — 5 nearest different-label
    // vectors per query (closest-but-wrong contrastive examples)
    "q207_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(emb.filter(col("vec_id") % 50 === 0), emb,
        "vec_id", "embedding", "label", k = 5)
    }),

    // training data: temperature mixture sampling (alpha=0.5 — the
    // sqrt regime whose weight arithmetic is IEEE-identical in DuckDB)
    "q208_temperature_sample" -> ((s, dir) => {
      Sampling.temperatureSample(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", alpha = 0.5)
    }),

    // training data: leakage-safe split — near-dup components share one
    // split key, so no near-duplicate pair straddles train/val/test
    "q210_leakage_safe_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardVerify(
          Dedup.minhashCandidates(docs, "doc_id", "text"),
          docs, "doc_id", "text")
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"))
      Dedup.leakageSafeSplit(docs.select(col("doc_id"), col("lang")),
        "doc_id", pairs,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).frame
    }),

    // mixing: UniMax waterfill allocation report (Chung et al. 2023) —
    // per-source token budgets at max 2 epochs under a 52k total: the
    // 9 smallest sources contribute their full 2 epochs, the other 11
    // share the waterline (B − Σ caps of capped) / 11
    "q269_unimax_alloc" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
      Sampling.unimaxAllocate(docs, "source", "n_tokens",
        totalBudget = 52000L, maxEpochs = 2)
    }),

    // mixing: the apply face — one-epoch selection under the
    // waterfilled allocation (B=24k, E=1: the two smallest sources are
    // kept whole, the rest trim to the ~1206-token waterline), same
    // deterministic hash-bucket ordering and crossing-row rule as q74
    "q270_unimax_select" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
      Sampling.unimaxSelect(docs, "doc_id", "source", "n_tokens",
        totalBudget = 24000L, maxEpochs = 1)
        .select(col("doc_id"), col("source"), col("n_tokens"))
    }),

    // sampling: deterministic bootstrap resample (the bagging /
    // data-ablation face) — each doc draws Poisson(1) replicas from
    // its hash bucket compared against integer-quantized CDF cutoffs
    // (no query-time libm); tag "b0" names the replicate set
    "q276_bootstrap_sample" -> ((s, dir) => {
      Sampling.bootstrapReplicas(t(s, dir, "documents"), "doc_id",
          lambda = 1.0, tag = "b0")
        .select(col("doc_id"), col("lang"), col("replica"))
    }),

    // curation: quality-nucleus selection — per source keep the
    // highest-scored docs until 50% of the char mass (crossing row
    // kept); the top-p idea as a corpus trim, two-phase so the dominant
    // source never funnels through one sort task
    "q262_nucleus" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("score", (col("doc_id") % 97).cast("double") / 97.0)
      Sampling.nucleusPerGroup(docs, "doc_id", "source", "n_chars",
        "score", p = 0.5)
        .select(col("doc_id"), col("source"), col("n_chars"),
          round(col("score"), 6).as("score"))
    }),

    // sampling: PRIORITY sampling (Duffield–Lund–Thorup) — exact-size-k
    // weighted sample per language with the unbiased max(w, τ)
    // subset-sum estimator; priorities w/u use only casts and IEEE
    // divisions (the 2^60 divisor is an exponent shift), so both
    // engines compute bit-identical priorities — no libm in the
    // ordering, unlike u^(1/w) schemes
    "q283_priority_sample" -> ((s, dir) => {
      Sampling.prioritySample(t(s, dir, "documents"), "doc_id", "lang",
        "n_chars", k = 50)
    })
  )

  val oracleSql: Map[String, String] = Map(

    // mirrors Sampling.stratifiedSample(en→0.3, de→0.5, default 1.0)
    "q47_stratified_sample" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ${PortableHash.sqlHash60("CAST(doc_id AS VARCHAR)")} % 1000000
         |  < CASE WHEN lang = 'en' THEN 300000
         |         WHEN lang = 'de' THEN 500000
         |         ELSE 1000000 END""".stripMargin,

    // mirrors Shuffling.shuffleIntoShards(numShards=8): identical md5
    // position keys, shard assignment, within-shard rank
    "q56_corpus_shuffle" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |    ${PortableHash.sqlHash60("CAST(doc_id AS VARCHAR)")} AS hv
         |  FROM documents)
         |SELECT doc_id, CAST(hv % 8 AS INTEGER) AS shard,
         |  CAST(row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id)
         |    AS INTEGER) AS pos_in_shard
         |FROM h""".stripMargin,

    // mirrors Sampling.hashSplit(0.8/0.1/0.1): identical md5 bucket
    // (same family as q47/q56) and cumulative bounds (800000, 900000, tail)
    "q66_hash_split" ->
      s"""WITH h AS (
         |  SELECT doc_id, lang,
         |    ${PortableHash.sqlHash60("CAST(doc_id AS VARCHAR)")} % 1000000
         |      AS hv
         |  FROM documents)
         |SELECT doc_id, lang,
         |  CASE WHEN hv < 800000 THEN 'train'
         |       WHEN hv < 900000 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM h""".stripMargin,

    // mirrors Sampling.capPerGroup(source, 10): identical md5-bucket rank
    // within each source (ties by doc_id)
    "q67_source_cap" ->
      s"""SELECT doc_id, source FROM documents
         |QUALIFY row_number() OVER (
         |  PARTITION BY source
         |  ORDER BY ${PortableHash.sqlHash60("CAST(doc_id AS VARCHAR)")}
         |             % 1000000, doc_id) <= 10""".stripMargin,

    // mirrors Sampling.capPerGroupWeighted(source, n_tokens, 800): keep
    // rows while the running token sum BEFORE the row is under budget
    // (identical md5-bucket ordering; integer weights sum exactly in
    // doubles, so the < comparison is engine-exact)
    "q74_token_budget_mix" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
         |      AS INTEGER) AS n_tokens,
         |    ${PortableHash.sqlHash60("CAST(doc_id AS VARCHAR)")} % 1000000
         |      AS bkt
         |  FROM documents)
         |SELECT doc_id, source, n_tokens FROM t
         |QUALIFY SUM(CAST(n_tokens AS DOUBLE)) OVER (
         |    PARTITION BY source ORDER BY bkt, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |  - n_tokens < 800""".stripMargin,

    // mirrors Sampling.weightedSample(doc_id, n_chars, 400): inclusion
    // iff hash bucket < floor(min-capped probability * 1e6). floor (not a
    // bare cast) because double->int CASTs truncate in Spark but round in
    // DuckDB; the arithmetic itself is IEEE-identical
    "q118_weighted_sample" ->
      s"""SELECT doc_id, lang, n_chars FROM documents
         |WHERE ${PortableHash.sqlHash60("CAST(doc_id AS VARCHAR)")}
         |    % 1000000
         |  < LEAST(1000000, CAST(floor(
         |      CAST(n_chars AS DOUBLE) / 400.0 * 1000000) AS BIGINT))"""
        .stripMargin,

    // mirrors q147: q66's split labeling, then cell counts + three
    // re-aggregated totals and the share quotients
    "q147_split_balance" ->
      s"""WITH h AS (
         |  SELECT lang,
         |    CASE WHEN ${PortableHash.sqlHash60("CAST(doc_id AS VARCHAR)")}
         |        % 1000000 < 800000 THEN 'train'
         |      WHEN ${PortableHash.sqlHash60("CAST(doc_id AS VARCHAR)")}
         |        % 1000000 < 900000 THEN 'val'
         |      ELSE 'test' END AS split
         |  FROM documents WHERE lang IS NOT NULL),
         |c AS (SELECT split, lang, CAST(count(*) AS BIGINT) AS n
         |  FROM h GROUP BY 1, 2),
         |s AS (SELECT split, CAST(sum(n) AS BIGINT) AS ns
         |  FROM c GROUP BY 1),
         |t AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nt
         |  FROM c GROUP BY 1),
         |g AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM c)
         |SELECT c.split, c.lang, c.n,
         |  round(CAST(c.n AS DOUBLE) / s.ns, 6) AS share_in_split,
         |  round(CAST(t.nt AS DOUBLE) / g.nn, 6) AS share_overall,
         |  round(CAST(c.n AS DOUBLE) / s.ns
         |    - CAST(t.nt AS DOUBLE) / g.nn, 6) AS deviation
         |FROM c JOIN s USING (split) JOIN t USING (lang)
         |  CROSS JOIN g""".stripMargin,

    // mirrors q122: the minhash chain on RAW documents, q66's split CASE,
    // pairs whose endpoints land in different splits
    "q122_split_leakage" ->
      s"""WITH ${minhashChainSql("documents")},
         |pairs AS (
         |  SELECT id_a, id_b FROM j
         |  WHERE CAST(inter AS DOUBLE)/uni >= 0.5),
         |sp AS (
         |  SELECT doc_id,
         |    CASE WHEN hv < 800000 THEN 'train'
         |         WHEN hv < 900000 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT doc_id,
         |    ${PortableHash.sqlHash60("CAST(doc_id AS VARCHAR)")} % 1000000
         |      AS hv FROM documents))
         |SELECT p.id_a, p.id_b, sa.split AS split_a, sb.split AS split_b
         |FROM pairs p
         |JOIN sp sa ON sa.doc_id = p.id_a
         |JOIN sp sb ON sb.doc_id = p.id_b
         |WHERE sa.split <> sb.split""".stripMargin,

    // mirrors Sampling.mixToBudget(en 0.5, fr 0.25, es 0.25; total 4000):
    // per-lang budgets en 2000 / fr 1000 / es 1000; unnamed langs kept
    // whole (budget NULL); q74's running-sum convention otherwise
    "q90_mixture_reweight" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
         |      AS INTEGER) AS n_tokens,
         |    ${PortableHash.sqlHash60("CAST(doc_id AS VARCHAR)")} % 1000000
         |      AS bkt
         |  FROM documents),
         |b AS (SELECT * FROM (VALUES ('en', 2000.0), ('fr', 1000.0),
         |  ('es', 1000.0)) AS v(lang, budget))
         |SELECT doc_id, lang, n_tokens FROM t LEFT JOIN b USING (lang)
         |QUALIFY budget IS NULL OR
         |  SUM(CAST(n_tokens AS DOUBLE)) OVER (
         |    PARTITION BY lang ORDER BY bkt, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |  - n_tokens < budget""".stripMargin,

    // mirrors q202: identical dense item index (row_number over sorted
    // part keys), md5 slot hash mod |items|, own-positive collision drop
    "q202_negative_samples" ->
      s"""WITH pos AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS user_id,
         |               CAST(l_partkey AS BIGINT) AS item_id
         |             FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |p10 AS (SELECT * FROM pos WHERE user_id % 10 = 0),
         |idx AS (SELECT item, row_number() OVER (ORDER BY item) - 1 AS ix
         |        FROM (SELECT DISTINCT CAST(p_partkey AS BIGINT) AS item
         |              FROM part)),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM idx),
         |draws AS (SELECT user_id, item_id, j,
         |            ${PortableHash.sqlHash60(
      "CAST(user_id AS VARCHAR) || ':' || CAST(item_id AS VARCHAR) " +
        "|| ':' || CAST(j AS VARCHAR)")}
         |              % (SELECT m FROM m) AS ix
         |          FROM p10 CROSS JOIN
         |            (SELECT unnest(generate_series(1, 3)) AS j))
         |SELECT d.user_id, d.item_id, CAST(d.j AS INTEGER) AS j,
         |  idx.item AS neg_item
         |FROM draws d JOIN idx ON d.ix = idx.ix
         |WHERE idx.item <> d.item_id""".stripMargin,

    // mirrors q203: ceil copy count via the identical (mx + n - 1) / n
    // double division in both engines
    "q203_upsample_balanced" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
        |           FROM documents GROUP BY lang),
        |mx AS (SELECT CAST(max(n) AS BIGINT) AS mx FROM c)
        |SELECT d.doc_id, d.lang, CAST(g AS INTEGER) AS replica
        |FROM documents d
        |JOIN c ON d.lang = c.lang
        |CROSS JOIN mx
        |CROSS JOIN unnest(generate_series(1,
        |  CAST(floor(CAST(mx.mx + c.n - 1 AS DOUBLE)
        |             / CAST(c.n AS DOUBLE)) AS BIGINT))) AS t(g)""".stripMargin,

    // mirrors q207: q23's exact-cosine ranking with the label-mismatch
    // filter before the rank window
    "q207_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
        |             label AS ql
        |           FROM embeddings WHERE vec_id % 50 = 0),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS cv, label AS cl
        |      FROM embeddings),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |    list_sum(list_transform(range(1, len(qv)+1),
        |      i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(range(1, len(qv)+1),
        |         i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(range(1, len(cv)+1),
        |         i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))))
        |      AS cosine
        |  FROM q JOIN c ON ql <> cl)
        |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine
        |FROM scored
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |                           ORDER BY cosine DESC, neighbor_id) <= 5""".stripMargin,

    // mirrors q208: identical count/sqrt-weight/probability arithmetic
    // (operand order preserved), md5 hash-bucket selection
    "q208_temperature_sample" ->
      s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
         |           FROM documents GROUP BY lang),
         |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS nt,
         |          sum(sqrt(CAST(n AS DOUBLE))) AS sw FROM c),
         |p AS (SELECT lang,
         |        least(CAST(1.0 AS DOUBLE),
         |          tot.nt * sqrt(CAST(c.n AS DOUBLE)) / tot.sw
         |            / CAST(c.n AS DOUBLE)) AS prob
         |      FROM c CROSS JOIN tot)
         |SELECT d.doc_id, d.lang
         |FROM documents d JOIN p ON d.lang = p.lang
         |WHERE ${PortableHash.sqlHash60("CAST(doc_id AS VARCHAR)")} % 1000000
         |      < CAST(floor(prob * 1000000) AS BIGINT)""".stripMargin,

    // mirrors q210: q61's recursive component labels -> component (or
    // own-id) split key -> q66's hash buckets on that key
    "q210_leakage_safe_split" ->
      s"""WITH RECURSIVE ${minhashChainSql("documents")},
         |pairs AS (
         |  SELECT id_a, id_b FROM j
         |  WHERE CAST(inter AS DOUBLE)/uni >= 0.5),
         |e AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach AS (
         |  SELECT src, dst FROM e
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src
         |  WHERE r.src <> e2.dst),
         |comp AS (
         |  SELECT src AS id, least(src, min(dst)) AS component
         |  FROM reach GROUP BY src),
         |k AS (
         |  SELECT d.doc_id, d.lang,
         |    COALESCE(c.component, d.doc_id) AS skey
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
         |h AS (
         |  SELECT doc_id, lang,
         |    ${PortableHash.sqlHash60("CAST(skey AS VARCHAR)")} % 1000000
         |      AS hv
         |  FROM k)
         |SELECT doc_id, lang,
         |  CASE WHEN hv < 800000 THEN 'train'
         |       WHEN hv < 900000 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM h""".stripMargin,

    // mirrors Sampling.unimaxAllocate(source, n_tokens, B=52000, E=2):
    // ascending-cap prefix test in exact BIGINT (cap·remaining ≤
    // B−prior), capped groups take their cap, the rest share one
    // IEEE-exact waterline division
    "q269_unimax_alloc" ->
      s"""WITH t AS (
         |  SELECT source,
         |    CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
         |      AS INTEGER) AS n_tokens
         |  FROM documents),
         |g AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS gw
         |  FROM t GROUP BY source),
         |r AS (SELECT source, gw, gw * 2 AS cap,
         |    row_number() OVER (ORDER BY gw * 2, source) AS rn,
         |    count(*) OVER () AS n,
         |    COALESCE(CAST(SUM(gw * 2) OVER (ORDER BY gw * 2, source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      AS BIGINT), 0) AS prior
         |  FROM g),
         |f AS (SELECT r.*, cap * (n - rn + 1) <= 52000 - prior AS capped
         |  FROM r),
         |a AS (SELECT
         |    CAST(COALESCE(SUM(cap) FILTER (WHERE capped), 0) AS BIGINT)
         |      AS csum,
         |    CAST(COALESCE(SUM(CASE WHEN capped THEN 0 ELSE 1 END), 0)
         |      AS BIGINT) AS un
         |  FROM f)
         |SELECT source, gw AS group_weight, cap,
         |  round(CASE WHEN capped THEN CAST(cap AS DOUBLE)
         |    ELSE (52000 - csum) / CAST(un AS DOUBLE) END, 6) AS allocated,
         |  round(CASE WHEN gw = 0 THEN 0.0
         |    ELSE (CASE WHEN capped THEN CAST(cap AS DOUBLE)
         |      ELSE (52000 - csum) / CAST(un AS DOUBLE) END)
         |      / CAST(gw AS DOUBLE) END, 6) AS epochs
         |FROM f, a""".stripMargin,

    // mirrors Sampling.unimaxSelect(doc_id, source, n_tokens, B=24000,
    // E=1): the q269 allocation CTE feeding q74's running-sum
    // crossing-row rule, against the UNROUNDED waterline
    "q270_unimax_select" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
         |      AS INTEGER) AS n_tokens,
         |    ${PortableHash.sqlHash60("CAST(doc_id AS VARCHAR)")} % 1000000
         |      AS bkt
         |  FROM documents),
         |g AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS gw
         |  FROM t GROUP BY source),
         |r AS (SELECT source, gw, gw * 1 AS cap,
         |    row_number() OVER (ORDER BY gw * 1, source) AS rn,
         |    count(*) OVER () AS n,
         |    COALESCE(CAST(SUM(gw * 1) OVER (ORDER BY gw * 1, source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      AS BIGINT), 0) AS prior
         |  FROM g),
         |f AS (SELECT r.*, cap * (n - rn + 1) <= 24000 - prior AS capped
         |  FROM r),
         |a AS (SELECT
         |    CAST(COALESCE(SUM(cap) FILTER (WHERE capped), 0) AS BIGINT)
         |      AS csum,
         |    CAST(COALESCE(SUM(CASE WHEN capped THEN 0 ELSE 1 END), 0)
         |      AS BIGINT) AS un
         |  FROM f),
         |alloc AS (SELECT source,
         |    CASE WHEN capped THEN CAST(cap AS DOUBLE)
         |      ELSE (24000 - csum) / CAST(un AS DOUBLE) END AS budget
         |  FROM f, a)
         |SELECT doc_id, source, n_tokens
         |FROM t JOIN alloc USING (source)
         |QUALIFY SUM(CAST(n_tokens AS DOUBLE)) OVER (PARTITION BY source
         |  ORDER BY bkt, doc_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |  - n_tokens < budget""".stripMargin,

    // mirrors Sampling.bootstrapReplicas(lambda=1, tag=b0): the SAME
    // Sampling.poissonCutoffs integers rendered as a CASE chain — the
    // CDF is quantized once in Scala, both engines compare integers
    "q276_bootstrap_sample" -> {
      val cuts = Sampling.poissonCutoffs(1.0, 8)
      val whens = cuts.zipWithIndex.map { case (c, i) =>
        s"WHEN bkt < $c THEN $i" }.mkString(" ")
      s"""WITH d AS (
         |  SELECT doc_id, lang,
         |    ${PortableHash.sqlHash60("CAST(doc_id AS VARCHAR) || ':b0'")}
         |      % 1000000 AS bkt
         |  FROM documents),
         |k AS (SELECT doc_id, lang,
         |  CASE $whens ELSE 8 END AS n FROM d)
         |SELECT doc_id, lang,
         |  CAST(unnest(generate_series(1, n)) AS INTEGER) AS replica
         |FROM k WHERE n >= 1""".stripMargin
    },

    // mirrors Sampling.nucleusPerGroup: score-desc (rounded, id
    // tie-break) running char sum per source, keep while the
    // before-row sum is under half the source total (crossing row kept)
    "q262_nucleus" ->
      """WITH d AS (SELECT doc_id, source, n_chars,
        |    CAST(doc_id % 97 AS DOUBLE) / 97.0 AS score
        |  FROM documents),
        |b AS (SELECT source, sum(n_chars) * 0.5 AS budget
        |  FROM d GROUP BY 1),
        |r AS (SELECT d.doc_id, d.source, d.n_chars, d.score, b.budget,
        |    sum(n_chars) OVER (PARTITION BY d.source
        |      ORDER BY -round(score, 6), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars
        |      AS cumbefore
        |  FROM d JOIN b USING (source))
        |SELECT doc_id, source, n_chars, round(score, 6) AS score
        |FROM r WHERE coalesce(cumbefore, 0) < budget""".stripMargin,

    // mirrors Sampling.prioritySample(lang, n_chars, k=50): priority
    // q = w / ((h60(id)+1) / 2^60); τ = the 51st priority per lang;
    // selected rows keep max(w, τ) as the unbiased estimator weight
    "q283_priority_sample" ->
      s"""WITH w AS (
         |  SELECT lang, doc_id, CAST(n_chars AS DOUBLE) AS wt,
         |    CAST(n_chars AS DOUBLE) /
         |      (CAST(${PortableHash.sqlHash60("CAST(doc_id AS VARCHAR)")}
         |            + 1 AS DOUBLE) / 1152921504606846976.0) AS q
         |  FROM documents),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY lang
         |    ORDER BY q DESC, doc_id) AS rn
         |  FROM w),
         |tt AS (
         |  SELECT lang, max(CASE WHEN rn = 51 THEN q END) AS tau
         |  FROM r GROUP BY lang)
         |SELECT r.lang, r.doc_id, r.wt AS weight,
         |  round(greatest(r.wt, coalesce(tt.tau, 0.0)), 6) AS est_weight
         |FROM r JOIN tt USING (lang) WHERE rn <= 50""".stripMargin
  )
}
