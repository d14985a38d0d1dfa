package graft.gates

import graft.functions.PortableHash
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import OracleHelpers._

/** Gates: exact / near-duplicate detection and clustering. */
object DedupGates extends GateSupport {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // dedup: exact duplicate groups by content digest
    "q19_exact_dedup" -> ((s, dir) => {
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
    }),

    // data QA: metadata conflicts on identical text — every 50th doc is
    // re-landed under lang 'xx' (deterministic fixture, mirrored in the
    // oracle; the synthetic corpus itself has no exact dups), and the
    // audit reports each conflicted digest's per-label doc split
    "q154_metadata_clash" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val relanded = docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 500000L).as("doc_id"), col("text"),
          lit("xx").as("lang"), col("source"), col("n_chars"))
      Dedup.conflictingMetadata(docs.unionByName(relanded), "text", "lang")
    }),

    // dedup: exact n-gram Jaccard pairs via shingle inverted index
    "q20_ngram_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 10 < 3)
      Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleSize = 3, threshold = 0.55)
    }),

    // dedup: MinHash-LSH candidates + exact verify (portable md5 family)
    "q21_minhash_lsh" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cand = Dedup.minhashCandidates(docs, "doc_id", "text")
      Dedup.jaccardVerify(cand, docs, "doc_id", "text")
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }),

    // dedup: SimHash banded candidates (portable md5 family)
    "q22_simhash" -> ((s, dir) => {
      Dedup.simhashCandidates(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 7)
    }),

    // dedup: embedding near-dup pairs — sign-LSH candidates + exact cosine
    // verify (native exprs; no all-pairs product in the plan)
    "q39_embedding_dedup" -> ((s, dir) => {
      Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"), "vec_id",
        "embedding", threshold = 0.4, bits = 8, tables = 4)
    }),

    // corpus curation: end-to-end dedup pipeline (exact → LSH candidates →
    // Jaccard verify → greedy higher-id drop)
    "q48_dedup_corpus" -> ((s, dir) => {
      Dedup.dedupCorpus(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.5)
        .select(col("doc_id"), col("lang"))
    }),

    // curation: near-dup CLUSTER labels — connected components over the
    // verified minhash pair graph (iterative min-label propagation)
    "q61_dedup_components" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardVerify(
          Dedup.minhashCandidates(docs, "doc_id", "text"),
          docs, "doc_id", "text")
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"))
      Dedup.connectedComponents(pairs)
    }),

    // curation: cluster-level corpus dedup — exactly one survivor per
    // connected near-dup component (vs q48's greedy pairwise drop)
    "q64_dedup_clusters" -> ((s, dir) => {
      Dedup.dedupCorpusByComponents(t(s, dir, "documents"), "doc_id",
          "text", threshold = 0.5)
        .frame.select(col("doc_id"), col("lang"))
    }),

    // curation: incremental dedup — a delta batch (every 5th doc) against
    // the already-landed corpus: exact digest anti-join, then cross-side
    // banded-minhash near-dups; within-batch dups deliberately survive
    "q72_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val existing = docs.filter(col("doc_id") % 5 =!= 0)
      val incoming = docs.filter(col("doc_id") % 5 === 0)
      Dedup.dedupIncrement(existing, incoming, "doc_id", "text",
          threshold = 0.5)
        .select(col("doc_id"), col("lang"))
    }),

    // dedup: cross-source exact-duplicate matrix — which acquisition
    // pipelines re-crawl each other. Cross-source dups are synthesized
    // deterministically (every 5th doc re-landed under source
    // src(doc_id%3)); pairs count per unordered source pair
    "q82_cross_source_dups" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val copies = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"),
          concat(lit("src"), (col("doc_id") % 3).cast("string"))
            .as("source"))
      val corpus = docs.select(col("doc_id"), col("text"), col("source"))
        .unionByName(copies)
      Dedup.crossSourceDupMatrix(corpus, "doc_id", "text", "source")
    }),

    // dedup: n-gram containment pairs — the partial-copy regime Jaccard
    // misses (a 12-token quote of a 60-token doc has jaccard ~0.2 but
    // containment 1.0). Quotes are synthesized deterministically (first
    // 12 tokens of every 30th subset doc re-landed under id+200000)
    "q86_containment" -> ((s, dir) => {
      val docs0 = t(s, dir, "documents").filter(col("doc_id") % 10 < 3)
      val quotes = docs0.filter(col("doc_id") % 30 === 1)
        .select((col("doc_id") + 200000L).as("doc_id"),
          concat_ws(" ", slice(Dedup.tokens(col("text")), 1, 12)).as("text"))
      val corpus = docs0.select(col("doc_id"), col("text"))
        .unionByName(quotes)
      Dedup.ngramContainmentPairs(corpus, "doc_id", "text",
        shingleSize = 3, threshold = 0.6)
    }),

    // the full TEXT → VECTOR → ANN-dedup pipeline in one gate: feature-
    // hash docs to 64-dim count vectors (native expression), sign-LSH
    // bucket candidates, exact-cosine verify at 0.95, one survivor per
    // connected component — corpus dedup with no model and no
    // all-pairs product anywhere
    "q108_text_vector_dedup" -> ((s, dir) => {
      // spread before the tokenize+feature-hash map (one-file scan would
      // serialize it into a single task), then MATERIALIZE: the vectors
      // feed three consumers (bucket signatures, the two cosine-verify
      // re-attach joins, the component keep) — unmaterialized, each
      // consumer re-runs the hash chain (same rows either way; eager
      // checkpoint blocks release with the plan)
      val vecs = graft.core.Pin.checkpoint(graft.core.Spread(
          t(s, dir, "documents").select(col("doc_id"), col("text")))
        .select(col("doc_id").as("vec_id"),
          Dedup.tokens(col("text")).as("__tk"))
        .select(col("vec_id"),
          graft.functions.FeatureHashExpr.featureHash(col("__tk"), 64)
            .as("embedding")), eager = true).frame
      // bits = 16 / tables = 2, not q65's 8/4: small-vocab BoW vectors
      // are ALL correlated, so coarse buckets collapse much of the corpus
      // into candidate-heavy cells (measured: 8/4 tables->8.1 s, 16/4 ->
      // 1.0M candidates for 833 true pairs, 6.3 s). At the 0.95
      // near-identical bar a vector pair that close collides in a table
      // with prob ~1, so two tables keep recall while halving candidates
      val pairs = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding",
          threshold = 0.95, bits = 16, tables = 2)
        .select(col("id_a"), col("id_b"))
      Dedup.keepPerComponent(vecs, "vec_id", pairs)
        .frame.select(col("vec_id").as("doc_id"))
    }),

    // curation: quality-aware cluster dedup — same pair graph as q64,
    // but each near-dup cluster keeps its LONGEST member (n_chars desc,
    // id tie) instead of the min id: the survivor policy that retains
    // the best copy and drops degraded variants
    "q117_best_survivor" -> ((s, dir) => {
      val docs0 = Dedup.exactDedup(t(s, dir, "documents"), "doc_id",
        "text")
      val cand = Dedup.minhashCandidates(docs0, "doc_id", "text",
        shingleSize = 3, k = 32, bands = 8)
      val near = Dedup.jaccardVerify(cand, docs0, "doc_id", "text",
          shingleSize = 3)
        .filter(col("jaccard") >= 0.5).select(col("id_a"), col("id_b"))
      val kept = Dedup.keepBestPerComponent(docs0, "doc_id", near,
        "n_chars")
      val out = kept.frame.select(col("doc_id"), col("lang"),
        col("n_chars"))
      out
    }),

    // curation telemetry: the cluster-size histogram of q64's near-dup
    // pair graph — how much duplication exists and whether it is a long
    // tail of pairs or a few giant templates
    "q120_dedup_stats" -> ((s, dir) => {
      val docs0 = Dedup.exactDedup(t(s, dir, "documents"), "doc_id",
        "text")
      val cand = Dedup.minhashCandidates(docs0, "doc_id", "text",
        shingleSize = 3, k = 32, bands = 8)
      val near = Dedup.jaccardVerify(cand, docs0, "doc_id", "text",
          shingleSize = 3)
        .filter(col("jaccard") >= 0.5).select(col("id_a"), col("id_b"))
      Dedup.clusterStats(near).frame
    }),

    // embedding dedup, SemDeDup regime: within-k-means-cluster
    // candidates (trained centroids, one Lloyd iteration), exact cosine
    "q211_semdedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cent = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
        k = 8, maxIters = 1)
      Dedup.semDedupPairs(emb, "vec_id", "embedding", cent,
        threshold = 0.4)
    }),

    // sketch: b-bit minhash estimates (b=8) on the q21 candidate pairs —
    // the 8x-smaller persisted-signature regime with the collision
    // baseline corrected out
    "q264_bbit_minhash" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.bbitEstimatePairs(
        Dedup.minhashCandidates(docs, "doc_id", "text"),
        docs, "doc_id", "text")
    }),

    // instrument: LSH candidate quality — minhash (k=32, bands=8)
    // candidates evaluated against the exact >= 0.55 Jaccard pairs on
    // the same subset: recall = missed near-dups, precision = wasted
    // verify work
    "q263_candidate_recall" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 10 < 3)
      val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleSize = 3, threshold = 0.55)
        .select(col("id_a"), col("id_b"))
      Dedup.pairSetEval(Dedup.minhashCandidates(docs, "doc_id", "text"),
        truth)
    }),

    // URL-level dedup: canonicalization collapses case/www/default-port/
    // tracking-param/fragment surface variants onto one key. The synthetic
    // corpus has no URLs, so the gate synthesizes deterministic messy
    // variants from table columns (both engines build the identical
    // fixture) — doc_id%3 picks utm-prefix / utm-suffix+gclid / fragment
    // noise, all of which must collapse
    "q255_url_canonical" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val urls = docs.select(col("doc_id"), concat(
        lit("HTTPS://WWW."), col("source"), lit(".example.com:443/"),
        col("lang"), lit("/item"), (col("doc_id") % 10).cast("string"),
        when(col("doc_id") % 3 === 0,
          concat(lit("?utm_source=x&id="), (col("doc_id") % 7).cast("string")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("?id="), (col("doc_id") % 7).cast("string"),
            lit("&utm_campaign=y&gclid=z")))
        .otherwise(lit("/#frag"))).as("url"))
      TextAnalysis.canonicalUrlReport(urls, "doc_id", "url")
    }),

    // curation: fuzzy dedup with an EDIT-DISTANCE verifier — minhash
    // candidates re-checked by exact Levenshtein (the short-text regime
    // where shingle Jaccard is too coarse); O(len^2) per pair is paid
    // only on the candidate sliver
    "q239_editdist_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.editDistanceVerify(
        Dedup.minhashCandidates(docs, "doc_id", "text"),
        docs, "doc_id", "text", maxDist = 30)
    })
  )

  val oracleSql: Map[String, String] = Map(

    "q19_exact_dedup" ->
      """SELECT md5(text) AS content_hash, count(*) AS n_dups,
        | min(doc_id) AS keep_id
        |FROM documents GROUP BY md5(text)""".stripMargin,

    // mirrors q154: the same every-50th-doc 'xx' re-landing fixture,
    // then (digest, lang) cells joined to digests with >1 value
    "q154_metadata_clash" ->
      """WITH base AS (
        |  SELECT text, lang FROM documents
        |  UNION ALL
        |  SELECT text, 'xx' AS lang FROM documents WHERE doc_id % 50 = 0),
        |c AS (
        |  SELECT md5(text) AS digest, lang,
        |    CAST(count(*) AS BIGINT) AS n_docs
        |  FROM base WHERE text IS NOT NULL AND lang IS NOT NULL
        |  GROUP BY 1, 2),
        |k AS (SELECT digest, CAST(count(*) AS BIGINT) AS n_values
        |  FROM c GROUP BY 1)
        |SELECT c.digest, c.lang, c.n_docs, k.n_values
        |FROM c JOIN k USING (digest) WHERE k.n_values > 1""".stripMargin,

    "q20_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
        |  FROM documents WHERE doc_id % 10 < 3),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(0, greatest(len(tk)-3, 0)+1),
        |    i -> array_to_string(tk[i+1:i+3], ' '))) AS shl
        |  FROM toks),
        |inv AS (SELECT doc_id, len(shl) AS n, unnest(shl) AS s FROM sh),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b,
        |    count(*) AS inter
        |  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1,2,3,4)
        |SELECT id_a, id_b,
        |  round(CAST(inter AS DOUBLE)/(n_a+n_b-inter),6) AS jaccard
        |FROM pairs
        |WHERE CAST(inter AS DOUBLE)/(n_a+n_b-inter) >= 0.55""".stripMargin,

    // mirrors Dedup.minhashCandidates (k=32, bands=8, r=4) + jaccardVerify:
    // identical md5-derived seed family → identical candidate pairs
    "q21_minhash_lsh" ->
      s"""WITH ${minhashChainSql("documents")}
         |SELECT id_a, id_b, round(CAST(inter AS DOUBLE)/uni, 6) AS jaccard
         |FROM j WHERE CAST(inter AS DOUBLE)/uni >= 0.5""".stripMargin,

    // mirrors Dedup.simhashDF + simhashCandidates(maxHamming=7): 60-bit
    // md5-derived fingerprint, pigeonhole banding, hamming verify
    "q22_simhash" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk
         |  FROM documents),
         |hs AS (
         |  SELECT doc_id, len(tk) AS n,
         |    list_transform(tk, t -> ${PortableHash.sqlHash60("t")}) AS hl
         |  FROM toks),
         |fp AS (SELECT doc_id,
         |  $simhashSql AS simhash
         |  FROM hs),
         |banded AS (
         |  SELECT doc_id, simhash, band,
         |    (simhash >> shft) & mask AS chunk
         |  FROM fp, (VALUES ${simhashBandsSql(7)}) AS bands(band, shft, mask)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.simhash AS fa, b.simhash AS fb
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b,
         |  CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming
         |FROM cand WHERE bit_count(xor(fa, fb)) <= 7""".stripMargin,

    // mirrors Dedup.embeddingNearDupPairs' LSH-bucketed path (bits=8,
    // tables=4): identical buckets → identical candidate pairs → exact
    // cosine filter (round 1's all-pairs oracle gated an all-pairs plan;
    // both sides are bucketed now)
    "q39_embedding_dedup" ->
      s"""WITH ${lshSigsSql(tables = 4, bits = 8, dims = 64)},
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM sigs a JOIN sigs b
         |    ON a.t = b.t AND a.sig = b.sig AND a.vec_id < b.vec_id),
         |scored AS (
         |  SELECT id_a, id_b, ${cosSql("va.embedding", "vb.embedding")} AS cosine
         |  FROM cand
         |  JOIN v va ON va.vec_id = id_a
         |  JOIN v vb ON vb.vec_id = id_b)
         |SELECT id_a, id_b, round(cosine, 6) AS cosine FROM scored
         |WHERE cosine >= 0.4""".stripMargin,

    // mirrors Dedup.dedupCorpus: exact keeper per md5 digest, then the
    // shared MinHash chain over the survivors, greedy higher-id drop
    "q48_dedup_corpus" ->
      s"""WITH docs0 AS (
         |  SELECT doc_id, text, lang FROM documents
         |  QUALIFY row_number() OVER (PARTITION BY md5(text)
         |                             ORDER BY doc_id) = 1),
         |${minhashChainSql("docs0")}
         |SELECT doc_id, lang FROM docs0 d
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM j
         |  WHERE CAST(inter AS DOUBLE)/uni >= 0.5 AND j.id_b = d.doc_id)""".stripMargin,

    // mirrors Dedup.connectedComponents over the same verified minhash
    // pair graph: component = min id transitively reachable (recursive
    // closure — fine at oracle scale; Spark runs label propagation)
    "q61_dedup_components" ->
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
         |  WHERE r.src <> e2.dst)
         |SELECT src AS id, least(src, min(dst)) AS component
         |FROM reach GROUP BY src""".stripMargin,

    // mirrors Dedup.dedupCorpusByComponents: exact keeper per md5 digest,
    // the shared MinHash chain over the survivors, then min-id components
    // over the thresholded pair graph (recursive closure — oracle scale);
    // survivors are the docs that ARE their own component label
    "q64_dedup_clusters" ->
      s"""WITH RECURSIVE docs0 AS (
         |  SELECT doc_id, text, lang FROM documents
         |  QUALIFY row_number() OVER (PARTITION BY md5(text)
         |                             ORDER BY doc_id) = 1),
         |${minhashChainSql("docs0")},
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
         |  FROM reach GROUP BY src)
         |SELECT d.doc_id, d.lang FROM docs0 d
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM comp c
         |  WHERE c.id = d.doc_id AND c.component <> d.doc_id)""".stripMargin,

    // mirrors Dedup.dedupIncrement: exact digests pruned first, then the
    // shared minhash chain over existing ∪ pruned-incoming; only pairs
    // whose OTHER side is landed disqualify an incoming doc
    "q72_incremental_dedup" ->
      s"""WITH existing AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
         |inc AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
         |inp AS (
         |  SELECT i.doc_id, i.text FROM inc i
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM existing e WHERE md5(e.text) = md5(i.text))),
         |docs0 AS (
         |  SELECT doc_id, text FROM existing
         |  UNION ALL SELECT doc_id, text FROM inp),
         |${minhashChainSql("docs0")},
         |pairs AS (
         |  SELECT id_a, id_b FROM j
         |  WHERE CAST(inter AS DOUBLE)/uni >= 0.5),
         |bad AS (
         |  SELECT id_b AS doc_id FROM pairs
         |  WHERE id_a IN (SELECT doc_id FROM existing)
         |  UNION
         |  SELECT id_a AS doc_id FROM pairs
         |  WHERE id_b IN (SELECT doc_id FROM existing))
         |SELECT d.doc_id, d.lang FROM documents d
         |WHERE d.doc_id IN (SELECT doc_id FROM inp)
         |  AND d.doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin,

    // mirrors Dedup.crossSourceDupMatrix over documents ∪ the synthesized
    // re-sourced copies: per-(digest, source) counts first, then the pair
    // product per unordered source pair
    "q82_cross_source_dups" ->
      """WITH base AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text,
        |    'src' || CAST(doc_id % 3 AS VARCHAR) AS source
        |  FROM documents WHERE doc_id % 5 = 0),
        |c AS (
        |  SELECT md5(text) AS dig, source, count(*) AS n
        |  FROM base GROUP BY 1, 2)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  CAST(sum(a.n * b.n) AS BIGINT) AS n_dup_pairs
        |FROM c a JOIN c b ON a.dig = b.dig AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,

    // mirrors Dedup.ngramContainmentPairs(3, 0.6) over the subset ∪ the
    // synthesized 12-token quotes: containment = inter / min(|A|, |B|)
    "q86_containment" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 10 < 3
        |  UNION ALL
        |  SELECT doc_id + 200000 AS doc_id,
        |    array_to_string(
        |      string_split_regex(trim(lower(text)), '\s+')[1:12], ' ')
        |      AS text
        |  FROM documents WHERE doc_id % 10 < 3 AND doc_id % 30 = 1),
        |toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
        |  FROM base),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(0, greatest(len(tk)-3, 0)+1),
        |    i -> array_to_string(tk[i+1:i+3], ' '))) AS shl
        |  FROM toks),
        |inv AS (SELECT doc_id, len(shl) AS n, unnest(shl) AS s FROM sh),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a,
        |    b.n AS n_b, count(*) AS inter
        |  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4)
        |SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
        |  round(CAST(inter AS DOUBLE) / least(n_a, n_b), 6) AS containment
        |FROM pairs
        |WHERE CAST(inter AS DOUBLE) / least(n_a, n_b) >= 0.6""".stripMargin,

    // mirrors q108: feature-hash vectors (q107's buckets as a dense
    // 64-dim list), then q65's LSH/cosine/transitive-closure chain over
    // them — same planes, same candidate set, same survivor rule
    "q108_text_vector_dedup" ->
      s"""WITH RECURSIVE tk AS (
         |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk
         |  FROM documents),
         |${lshSigsSqlOver(
        s"""SELECT doc_id AS vec_id,
           |    list_transform(range(0, 64), dd -> CAST(
           |      len(list_filter(tk, tt ->
           |        CAST(${PortableHash.sqlHash60("tt")} % 64 AS INTEGER)
           |          = dd)) AS DOUBLE)) AS embedding
           |  FROM tk""".stripMargin, tables = 2, bits = 16, dims = 64)},
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM sigs a JOIN sigs b
         |    ON a.t = b.t AND a.sig = b.sig AND a.vec_id < b.vec_id),
         |scored AS (
         |  SELECT id_a, id_b, ${cosSql("va.embedding", "vb.embedding")}
         |    AS cosine
         |  FROM cand
         |  JOIN v va ON va.vec_id = id_a
         |  JOIN v vb ON vb.vec_id = id_b),
         |pairs AS (SELECT id_a, id_b FROM scored WHERE cosine >= 0.95),
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
         |  FROM reach GROUP BY src)
         |SELECT vv.vec_id AS doc_id FROM v vv
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM comp c
         |  WHERE c.id = vv.vec_id AND c.component <> vv.vec_id)""".stripMargin,

    // mirrors q117: q64's pair graph and closure, survivor = argmax
    // (n_chars, min id) within each component; unpaired docs survive
    "q117_best_survivor" ->
      s"""WITH RECURSIVE docs0 AS (
         |  SELECT doc_id, text, lang, n_chars FROM documents
         |  QUALIFY row_number() OVER (PARTITION BY md5(text)
         |                             ORDER BY doc_id) = 1),
         |${minhashChainSql("docs0")},
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
         |best AS (
         |  SELECT id FROM (
         |    SELECT c.id,
         |      row_number() OVER (PARTITION BY c.component
         |        ORDER BY d.n_chars DESC, c.id) AS rk
         |    FROM comp c JOIN docs0 d ON d.doc_id = c.id)
         |  WHERE rk = 1)
         |SELECT d.doc_id, d.lang, d.n_chars FROM docs0 d
         |WHERE NOT EXISTS (SELECT 1 FROM comp c WHERE c.id = d.doc_id)
         |   OR EXISTS (SELECT 1 FROM best b WHERE b.id = d.doc_id)"""
        .stripMargin,

    // mirrors q120: q64's pair graph and closure, then sizes per
    // component and the histogram; docs_removed = sum(size) - count
    "q120_dedup_stats" ->
      s"""WITH RECURSIVE docs0 AS (
         |  SELECT doc_id, text, lang FROM documents
         |  QUALIFY row_number() OVER (PARTITION BY md5(text)
         |                             ORDER BY doc_id) = 1),
         |${minhashChainSql("docs0")},
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
         |sizes AS (
         |  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM comp GROUP BY 1)
         |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(sum(cluster_size) - count(*) AS BIGINT) AS docs_removed
         |FROM sizes GROUP BY 1""".stripMargin,

    // mirrors q211: q209's trained-centroid CTEs, q42-style assignment,
    // within-cluster pair join, exact cosine threshold
    "q211_semdedup" ->
      s"""WITH emb AS (SELECT vec_id, embedding FROM embeddings),
         |cent0 AS (SELECT vec_id AS cid, embedding AS ce FROM emb
         |          ORDER BY ${PortableHash.sqlHash60("CAST(vec_id AS VARCHAR)")}, vec_id
         |          LIMIT 8),
         |assign0 AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosSql("e.embedding", "c.ce")} DESC, c.cid) AS rk
         |    FROM emb e CROSS JOIN cent0 c) WHERE rk = 1),
         |qz AS (SELECT a.cid, list_transform(e.embedding,
         |        x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS qv
         |      FROM assign0 a JOIN emb e USING (vec_id)),
         |ex AS (SELECT cid, CAST(g - 1 AS INTEGER) AS dim, qv[g] AS x FROM (
         |        SELECT cid, qv, unnest(generate_series(1, len(qv))) AS g
         |        FROM qz)),
         |sums AS (SELECT cid, dim, CAST(sum(x) AS BIGINT) AS s,
         |           CAST(count(*) AS BIGINT) AS n
         |         FROM ex GROUP BY cid, dim),
         |centd AS (SELECT cid, ce, CAST(g - 1 AS INTEGER) AS dim FROM (
         |            SELECT cid, ce, unnest(generate_series(1, len(ce))) AS g
         |            FROM cent0)),
         |cent AS (
         |  SELECT cd.cid, list(
         |      CASE WHEN s.n IS NULL THEN cd.ce[cd.dim + 1]
         |           ELSE CAST(CAST(s.s AS DOUBLE)
         |             / (CAST(s.n AS DOUBLE) * 1024.0) AS REAL) END
         |      ORDER BY cd.dim) AS ce
         |  FROM centd cd LEFT JOIN sums s
         |    ON s.cid = cd.cid AND s.dim = cd.dim
         |  GROUP BY cd.cid),
         |assign AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosSql("e.embedding", "c.ce")} DESC, c.cid) AS rk
         |    FROM emb e CROSS JOIN cent c) WHERE rk = 1),
         |av AS (SELECT a.vec_id, a.cid, e.embedding
         |       FROM assign a JOIN emb e USING (vec_id))
         |SELECT x.vec_id AS id_a, y.vec_id AS id_b,
         |  round(${cosSql("x.embedding", "y.embedding")}, 6) AS cosine
         |FROM av x JOIN av y
         |  ON x.cid = y.cid AND x.vec_id < y.vec_id
         |WHERE ${cosSql("x.embedding", "y.embedding")} >= 0.4""".stripMargin,

    // mirrors q264: the q21 chain's candidates + signatures; per pair
    // m = matching low-8-bit fraction, est = (m - 1/256)/(1 - 1/256)
    // clamped at 0
    "q264_bbit_minhash" ->
      s"""WITH ${minhashChainSql("documents")},
         |p AS (SELECT c.id_a, c.id_b, sa.sg AS ga, sb.sg AS gb
         |  FROM cand c
         |  JOIN sig sa ON sa.doc_id = c.id_a
         |  JOIN sig sb ON sb.doc_id = c.id_b),
         |m AS (SELECT id_a, id_b,
         |  CAST(len(list_filter(range(1, 33),
         |    i -> (ga[i] % 256) = (gb[i] % 256))) AS DOUBLE) / 32 AS mf
         |  FROM p)
         |SELECT id_a, id_b,
         |  round(greatest((mf - 1.0/256) / (1 - 1.0/256), 0), 6)
         |    AS bbit_jaccard
         |FROM m""".stripMargin,

    // mirrors q263: the q21 minhash chain's raw candidates (cand CTE)
    // against the exact inverted-index pairs derived from the SAME
    // shingle sets; INTERSECT for the overlap
    "q263_candidate_recall" ->
      s"""WITH ${minhashChainSql(
            "(SELECT * FROM documents WHERE doc_id % 10 < 3)")},
         |inv2 AS (SELECT doc_id, len(shl) AS n, unnest(shl) AS s FROM sh),
         |tp AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM inv2 a JOIN inv2 b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, a.n, b.n
         |  HAVING CAST(count(*) AS DOUBLE)
         |    / (a.n + b.n - count(*)) >= 0.55),
         |gp AS (SELECT id_a, id_b FROM cand)
         |SELECT CAST(ng AS BIGINT) AS n_got, CAST(nt AS BIGINT) AS n_truth,
         |  CAST(nb AS BIGINT) AS n_both,
         |  round(CASE WHEN ng > 0
         |    THEN CAST(nb AS DOUBLE) / ng ELSE 0 END, 6) AS precision,
         |  round(CASE WHEN nt > 0
         |    THEN CAST(nb AS DOUBLE) / nt ELSE 0 END, 6) AS recall
         |FROM (SELECT count(*) AS ng FROM gp),
         |  (SELECT count(*) AS nt FROM tp),
         |  (SELECT count(*) AS nb FROM
         |    (SELECT * FROM gp INTERSECT SELECT * FROM tp))""".stripMargin,

    // mirrors TextAnalysis.canonicalUrl over the same synthesized messy
    // variants: fragment -> scheme/host lower -> www -> default port ->
    // tracking params + separator tidy -> trailing slash
    "q255_url_canonical" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'HTTPS://WWW.' || source || '.example.com:443/' || lang
        |      || '/item' || CAST(doc_id % 10 AS VARCHAR)
        |      || CASE WHEN doc_id % 3 = 0
        |           THEN '?utm_source=x&id=' || CAST(doc_id % 7 AS VARCHAR)
        |         WHEN doc_id % 3 = 1
        |           THEN '?id=' || CAST(doc_id % 7 AS VARCHAR)
        |             || '&utm_campaign=y&gclid=z'
        |         ELSE '/#frag' END AS url
        |  FROM documents),
        |st AS (SELECT doc_id, url,
        |  regexp_replace(url, '#.*$', '', 'g') AS nofrag FROM u),
        |parts AS (SELECT doc_id, url,
        |  lower(regexp_extract(nofrag, '^([A-Za-z]+)://', 1)) AS scheme,
        |  regexp_replace(lower(regexp_extract(nofrag,
        |    '^[A-Za-z]+://([^/?]+)', 1)), '^www\.', '', 'g') AS nowww,
        |  regexp_extract(nofrag, '^[A-Za-z]+://[^/?]+(.*)$', 1) AS pathq
        |  FROM st),
        |canon AS (SELECT doc_id, url,
        |  CASE WHEN scheme = '' THEN NULL ELSE
        |    scheme || '://' ||
        |    (CASE WHEN scheme = 'http'
        |        THEN regexp_replace(nowww, ':80$', '')
        |      WHEN scheme = 'https'
        |        THEN regexp_replace(nowww, ':443$', '')
        |      ELSE nowww END) ||
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(pathq,
        |        '([?&])(utm_[A-Za-z]+|gclid|fbclid)=[^&]*', '\1', 'g'),
        |      '&&+', '&', 'g'), '\?&', '?', 'g'), '[?&]+$', '', 'g'),
        |      '/+$', '', 'g')
        |  END AS canonical_url FROM parts)
        |SELECT canonical_url, count(*) AS n_urls,
        |  count(DISTINCT url) AS n_variants, min(doc_id) AS first_id
        |FROM canon GROUP BY 1""".stripMargin,

    // mirrors q239: q21's candidate chain, then exact Levenshtein on
    // the pair texts (integer distance — no rounding anywhere)
    "q239_editdist_dedup" ->
      s"""WITH ${minhashChainSql("documents")}
         |SELECT c.id_a, c.id_b,
         |  CAST(levenshtein(da.text, db.text) AS INTEGER)
         |    AS edit_distance
         |FROM cand c
         |JOIN documents da ON da.doc_id = c.id_a
         |JOIN documents db ON db.doc_id = c.id_b
         |WHERE levenshtein(da.text, db.text) <= 30""".stripMargin
  )
}
