#!/usr/bin/env python3
"""Measure the traffic figures gen.py copies from a documents table.

    python3 perfbench/fixture_stats.py PATH/documents.parquet

Prints one JSON object: document count, token-length quartiles, vocabulary
size and the most and least frequent tokens, exact-duplicate docs (beyond
the first copy), near-duplicate docs (5-token-shingle Jaccard >= 0.5, not
exact), docs carrying the token "dup", and the language and source mix.
gen.py's constants were taken from the documents table of the sf0.1 test
data (TESTDATA.md) with this script.
"""
import collections
import itertools
import json
import statistics
import sys

import pyarrow.parquet as pq


def shingles(toks, k=5):
    return {" ".join(toks[i:i + k]) for i in range(max(1, len(toks) - k + 1))}


def near_dups(texts, toks, threshold=0.5, max_df=50):
    """Docs with a non-identical earlier doc at Jaccard >= threshold."""
    sets = [shingles(t) for t in toks]
    index = collections.defaultdict(list)
    for i, s in enumerate(sets):
        for g in s:
            index[g].append(i)
    pairs = set()
    for docs in index.values():
        if len(docs) <= max_df:
            pairs.update(itertools.combinations(docs, 2))
    near = set()
    for a, b in pairs:
        if texts[a] != texts[b]:
            j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
            if j >= threshold:
                near.add(b)
    return len(near)


def main(path):
    rows = pq.read_table(path, columns=["text", "lang", "source"]).to_pylist()
    texts = [r["text"] for r in rows]
    toks = [t.split(" ") for t in texts]
    lens = [len(t) for t in toks]
    freq = collections.Counter(w for t in toks for w in t).most_common()
    n = len(rows)
    print(json.dumps({
        "docs": n,
        "tokens": {"min": min(lens), "quartiles": statistics.quantiles(lens, n=4),
                   "max": max(lens), "mean": round(statistics.mean(lens), 2)},
        "vocabulary": len(freq), "most_frequent": freq[:3], "least_frequent": freq[-3:],
        "exact_dup_docs": sum(c - 1 for c in collections.Counter(texts).values()),
        "near_dup_docs": near_dups(texts, toks),
        "dup_marker_docs": sum(1 for t in toks if "dup" in t),
        "lang": {k: round(v / n, 3) for k, v in
                 collections.Counter(r["lang"] for r in rows).most_common()},
        "sources": len({r["source"] for r in rows}),
    }))


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
