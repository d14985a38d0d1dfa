#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

Writes one workload's inputs under OUT and a manifest (OUT/manifest.json)
with row counts, bytes, file counts, the planted near-duplicate and
contamination sets, and a sha256 per file. The same seed always gives the
same manifest hash:

    python3 perfbench/gen.py --workload corpus_curation --seed 7 --out /tmp/in

Text follows the documents table of the sf0.1 test data (TESTDATA.md's
scale-0.1 set: documents.parquet, 5,000 docs), measured with
fixture_stats.py: its 30-word
vocabulary at uniform frequency, lengths uniform in 10-100 tokens, near
copies made by appending the token "dup" to another document, and its
language and source mix. The figures are constants here, so no data outside
the checkout is read; README.md lists them and what was chosen instead.
"""
import argparse
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("acon_jobs", "corpus_curation")

# measured on the sf0.1 documents fixture (fixture_stats.py)
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
DOC_TOKENS = (10, 100)            # uniform, inclusive
NEAR_DUP_SHARE = 0.05             # docs that are another doc + " dup"
EXACT_DUP_SHARE = 0.0016          # docs that repeat an earlier doc
LANGS = (("en", 0.412), ("zh", 0.151), ("es", 0.149), ("fr", 0.148), ("de", 0.140))
SOURCES = 20                      # src0..src19, uniform

# chosen, not measured: the fixture carries no contamination labels
CONTAMINATED_SHARE = 0.015

# corpus_curation sizing
CORPUS_DOCS = 10000
CORPUS_FILES = 16
INCREMENT_FILES = 5
INCREMENT_DOCS = 100


class Text:
    """Uniform token sampler over the fixture vocabulary."""

    def __init__(self, rng):
        self.rng = rng
        self.vocab = np.array(VOCAB)

    def tokens(self, n):
        return list(self.vocab[self.rng.integers(0, len(self.vocab), n)])

    def doc(self):
        lo, hi = DOC_TOKENS
        return self.tokens(int(self.rng.integers(lo, hi + 1)))


def near_copy(text):
    """The fixture's near duplicate: the text with one token appended."""
    return text + " dup"


def docs_table(ids, texts, rng):
    names = [l for l, _ in LANGS]
    weights = np.array([w for _, w in LANGS])
    langs = [names[i] for i in rng.choice(len(names), len(ids), p=weights / weights.sum())]
    sources = ["src%d" % i for i in rng.integers(0, SOURCES, len(ids))]
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_parquet_parts(table, d, parts, prefix="part"):
    os.makedirs(d, exist_ok=True)
    n = table.num_rows
    for i in range(parts):
        lo, hi = n * i // parts, n * (i + 1) // parts
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(d, "%s-%05d.parquet" % (prefix, i)))


def write_lines(path, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def random_date(rng):
    return "%04d%02d%02d" % (int(rng.integers(2023, 2025)),
                             int(rng.integers(1, 13)), int(rng.integers(1, 29)))


def curation_docs(rng, text, n_landed, n_incoming, n_bench, first_id):
    """Landed + incoming docs with planted near-dups and contamination.

    Returns (landed, incoming, bench_passages, planted) where planted
    records which incoming docs are near copies of landed ones and which
    docs carry a benchmark n-gram slice.
    """
    bench = [" ".join(text.tokens(24)) for _ in range(n_bench)]
    landed_ids = list(range(first_id, first_id + n_landed))
    landed = [" ".join(text.doc()) for _ in landed_ids]
    near, exact, contaminated = [], [], []
    # near and exact copies of earlier landed docs, at the fixture's shares
    for i in range(50, n_landed):
        r = rng.random()
        if r < NEAR_DUP_SHARE:
            j = int(rng.integers(0, i))
            landed[i] = near_copy(landed[j])
            near.append([landed_ids[i], landed_ids[j]])
        elif r < NEAR_DUP_SHARE + EXACT_DUP_SHARE:
            j = int(rng.integers(0, i))
            landed[i] = landed[j]
            exact.append([landed_ids[i], landed_ids[j]])
    inc_ids = list(range(first_id + n_landed, first_id + n_landed + n_incoming))
    incoming = []
    inc_near = []
    for i in inc_ids:
        if rng.random() < NEAR_DUP_SHARE:
            j = int(rng.integers(0, n_landed))
            incoming.append(near_copy(landed[j]))
            inc_near.append([i, landed_ids[j]])
        else:
            incoming.append(" ".join(text.doc()))
    # a share of all docs carries a 14-token slice of a benchmark passage
    for pool, ids in ((landed, landed_ids), (incoming, inc_ids)):
        for k in range(len(pool)):
            if rng.random() < CONTAMINATED_SHARE:
                b = bench[int(rng.integers(0, n_bench))].split(" ")
                s = int(rng.integers(0, len(b) - 14))
                toks = pool[k].split(" ")
                at = int(rng.integers(0, len(toks)))
                pool[k] = " ".join(toks[:at] + b[s:s + 14] + toks[at:])
                contaminated.append(ids[k])
    planted = {"near_dup_pairs": near, "exact_dup_pairs": exact,
               "incoming_near_dup_pairs": inc_near,
               "contaminated_ids": sorted(contaminated)}
    return (docs_table(landed_ids, landed, rng),
            docs_table(inc_ids, incoming, rng), bench, planted)


def gen_acon(rng, out):
    text = Text(rng)
    planted = {}
    # FullLoad from pipe-delimited CSV: 1200 rows over 8 files, 24 months
    sales = [(i, random_date(rng), text.tokens(1)[0], int(rng.integers(1, 1000)))
             for i in range(1, 1201)]
    for p in range(8):
        write_lines(os.path.join(out, "sales_csv", "part-%05d.csv" % p),
                    ["%d|%s|%s|%d" % r for r in sales[p * 150:(p + 1) * 150]])
    # FullLoad from JSON lines: 600 rows over 4 files
    js = [{"id": i, "date": random_date(rng), "name": text.tokens(1)[0],
           "amount": int(rng.integers(1, 1000))} for i in range(5001, 5601)]
    for p in range(4):
        write_lines(os.path.join(out, "sales_json", "part-%05d.json" % p),
                    [json.dumps(r, sort_keys=True) for r in js[p * 150:(p + 1) * 150]])
    # AppendLoad: partition values come from the file names
    nid = 10001
    for m in range(1, 7):
        rows = []
        for _ in range(100):
            rows.append("%d|%s|%d" % (nid, text.tokens(1)[0], int(rng.integers(1, 1000))))
            nid += 1
        write_lines(os.path.join(out, "append_src", "sales_2024_%02d.csv" % m), rows)
    # DeltaLoad against the FullLoad output: updates keep their partition
    by_id = {r[0]: r for r in sales}
    upd = rng.choice(np.arange(1, 1201), 150, replace=False)
    delta = []
    for k, i in enumerate(upd):
        i = int(i)
        _, d, _, _ = by_id[i]
        mode = "D" if k < 25 else "U"
        delta.append((i, d, text.tokens(1)[0], int(rng.integers(1, 1000)), mode, 2))
        if 25 <= k < 45:  # an older version of the same key loses
            delta.append((i, d, text.tokens(1)[0], int(rng.integers(1, 1000)), "U", 1))
    for i in range(20001, 20041):
        delta.append((i, random_date(rng), text.tokens(1)[0], int(rng.integers(1, 1000)), "N", 1))
    dt = pa.table({
        "id": pa.array([r[0] for r in delta], pa.int32()),
        "date": pa.array([r[1] for r in delta]),
        "name": pa.array([r[2] for r in delta]),
        "amount": pa.array([r[3] for r in delta], pa.int32()),
        "year": pa.array([int(r[1][:4]) for r in delta], pa.int16()),
        "month": pa.array([int(r[1][4:6]) for r in delta], pa.int16()),
        "recordmode": pa.array([r[4] for r in delta]),
        "ts": pa.array([r[5] for r in delta], pa.int64()),
    })
    write_parquet_parts(dt, os.path.join(out, "delta_src"), 2)
    # DeltaMergeLoad: an init load, then a merge of updates/deletes/inserts
    def dml_table(rows):
        return pa.table({
            "id": pa.array([r[0] for r in rows], pa.int32()),
            "date": pa.array([r[1] for r in rows]),
            "name": pa.array([r[2] for r in rows]),
            "amount": pa.array([r[3] for r in rows], pa.int32()),
            "recordmode": pa.array([r[4] for r in rows]),
            "ts": pa.array([r[5] for r in rows], pa.int64()),
        })
    dm1 = [(i, random_date(rng), text.tokens(1)[0], int(rng.integers(1, 1000)), "N", 1)
           for i in range(1, 501)]
    dm1_dates = {r[0]: r[1] for r in dm1}
    dm2 = []
    for k, i in enumerate(rng.choice(np.arange(1, 501), 130, replace=False)):
        i = int(i)
        dm2.append((i, dm1_dates[i], text.tokens(1)[0], int(rng.integers(1, 1000)),
                    "D" if k < 20 else "U", 2))
    for i in range(3001, 3031):
        dm2.append((i, random_date(rng), text.tokens(1)[0], int(rng.integers(1, 1000)), "N", 2))
    write_parquet_parts(dml_table(dm1), os.path.join(out, "dml_init"), 3)
    # the DeltaMergeLoad target as its initial load lands it (recordmode
    # dropped, partitioned by year/month of date), so a run merges into it
    parts = {}
    for r in dm1:
        parts.setdefault((int(r[1][:4]), int(r[1][4:6])), []).append(r)
    for (y, m), rows in sorted(parts.items()):
        d = os.path.join(out, "dml_target", "year=%d" % y, "month=%d" % m)
        os.makedirs(d)
        pq.write_table(pa.table({
            "id": pa.array([r[0] for r in rows], pa.int32()),
            "date": pa.array([r[1] for r in rows]),
            "name": pa.array([r[2] for r in rows]),
            "amount": pa.array([r[3] for r in rows], pa.int32()),
            "ts": pa.array([r[5] for r in rows], pa.int64())}),
            os.path.join(d, "part-00000.parquet"))
    write_parquet_parts(dml_table(dm2), os.path.join(out, "dml_delta"), 2)
    # Transpose: long metrics per store
    stores = np.repeat(np.arange(1, 151), 6)
    metrics = ["m%d" % (i % 6 + 1) for i in range(len(stores))]
    lt = pa.table({"store": pa.array(stores, pa.int32()),
                   "metric": pa.array(metrics),
                   "value": pa.array(rng.random(len(stores)) * 100.0)})
    write_parquet_parts(lt, os.path.join(out, "long"), 3)
    # NestedFlattener: nested JSON lines
    nested = [{"id": i, "score": round(float(rng.random()), 6),
               "user": {"name": text.tokens(1)[0],
                        "geo": {"city": text.tokens(1)[0],
                                "zip": "%05d" % int(rng.integers(0, 99999))}}}
              for i in range(1, 451)]
    for p in range(3):
        write_lines(os.path.join(out, "nested", "part-%05d.json" % p),
                    [json.dumps(r, sort_keys=True) for r in nested[p * 150:(p + 1) * 150]])
    # FixedSizeStringExtractor: fixed-width records
    lines = ["%06d%04d%-6s" % (i, int(rng.integers(2000, 2025)), text.tokens(1)[0][:6])
             for i in range(1, 601)]
    write_parquet_parts(pa.table({"line": pa.array(lines)}), os.path.join(out, "fixed"), 2)
    # a versioned table: base snapshot, then two keyed merges (updates
    # skewed toward recent keys, new keys, deletes)
    n0 = 1000
    write_parquet_parts(pa.table({
        "k": pa.array(np.arange(1, n0 + 1), pa.int64()),
        "g": pa.array(np.arange(1, n0 + 1) % 16, pa.int32()),
        "v": pa.array(rng.integers(0, 1000, n0), pa.int64()),
        "s": pa.array(text.tokens(n0))}), os.path.join(out, "vt_base"), 4)
    live, next_k = list(range(1, n0 + 1)), n0 + 1
    for step in (1, 2):
        recent = live[-len(live) // 4:]
        ups = set()
        while len(ups) < 35:
            pool = recent if rng.random() < 0.8 else live
            ups.add(pool[int(rng.integers(0, len(pool)))])
        ups = sorted(ups) + list(range(next_k, next_k + 15))
        next_k += 15
        dels = set()
        while len(dels) < 8:
            k = live[int(rng.integers(0, len(live)))]
            if k not in ups:
                dels.add(k)
        write_parquet_parts(pa.table({
            "k": pa.array(ups, pa.int64()),
            "g": pa.array([k % 16 for k in ups], pa.int32()),
            "v": pa.array(rng.integers(0, 1000, len(ups)), pa.int64()),
            "s": pa.array(text.tokens(len(ups)))}), os.path.join(out, "vt_up%d" % step), 1)
        write_parquet_parts(pa.table({"k": pa.array(sorted(dels), pa.int64())}),
                            os.path.join(out, "vt_del%d" % step), 1)
        live = [k for k in live if k not in dels] + ups[35:]
    # the q76-shaped curation chain: landed / incoming / benchmark
    landed, incoming, bench, cur = curation_docs(rng, text, 400, 160, 20, 1)
    write_parquet_parts(landed, os.path.join(out, "landed"), 6)
    write_parquet_parts(incoming, os.path.join(out, "incoming"), 4)
    write_parquet_parts(pa.table({"qtext": pa.array(bench)}), os.path.join(out, "bench"), 1)
    planted.update(cur)
    return planted


def gen_corpus(rng, out):
    text = Text(rng)
    n_inc = INCREMENT_FILES * INCREMENT_DOCS
    landed, incoming, bench, planted = curation_docs(
        rng, text, CORPUS_DOCS, n_inc, 150, 1)
    write_parquet_parts(landed, os.path.join(out, "landed"), CORPUS_FILES)
    write_parquet_parts(pa.table({"qtext": pa.array(bench)}), os.path.join(out, "bench"), 1)
    inc = incoming.select(["doc_id", "text", "lang"])
    write_parquet_parts(inc, os.path.join(out, "increments"), INCREMENT_FILES, prefix="inc")
    return planted


def file_facts(out):
    files, rows, total = {}, {}, 0
    for dirpath, _, names in os.walk(out):
        for n in sorted(names):
            p = os.path.join(dirpath, n)
            rel = os.path.relpath(p, out)
            if rel == "manifest.json":
                continue
            with open(p, "rb") as f:
                data = f.read()
            files[rel] = {"bytes": len(data), "sha256": hashlib.sha256(data).hexdigest()}
            total += len(data)
            top = rel.split(os.sep)[0]
            if n.endswith(".parquet"):
                r = pq.ParquetFile(p).metadata.num_rows
            elif n.endswith((".csv", ".json")) and top != rel:
                r = data.count(b"\n")
            else:
                r = 0
            rows[top] = rows.get(top, 0) + r
    return files, rows, total


def generate(workload, seed, out):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    planted = {"acon_jobs": gen_acon, "corpus_curation": gen_corpus}[workload](rng, out)
    files, rows, total = file_facts(out)
    body = {"workload": workload, "seed": seed, "files": files,
            "file_count": len(files), "bytes": total, "rows": rows,
            "planted": planted}
    body["manifest_hash"] = hashlib.sha256(
        json.dumps(body, sort_keys=True).encode()).hexdigest()
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(body, f, sort_keys=True)
    return body


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    m = generate(a.workload, a.seed, a.out)
    print(json.dumps({"manifest_hash": m["manifest_hash"], "files": m["file_count"],
                      "bytes": m["bytes"], "rows": m["rows"]}))


if __name__ == "__main__":
    main(sys.argv[1:])
