#!/usr/bin/env python3
"""Steadiness (A/A) and compare tooling for the graft benchmark.

A/A: run one workload on several seeds and report, per end-to-end metric,
the median, the quartiles and the spread (Q3 - Q1) / median. A spread above
the metric's bound, above a third of it, or above a tenth is flagged;
setup_s is checked like every other metric. Every run measures
BENCHMARK.json's run_seconds.

    python3 perfbench/steady.py aa --workload acon_jobs --seeds 1-10 --out DIR
    python3 perfbench/steady.py report DIR

Compare: a per-workload, per-metric verdict between a parent (A) and a
change (B), from alternating pairs of runs (choosing-metrics §8): improved
when B wins at least 9/10 of the pairs and the medians differ by more than
A's own quartile spread; worse when B's median is worse than A's by more
than the metric's bound; unchanged when it is within the bound and A's
spread is too; unresolved otherwise.

    python3 perfbench/steady.py pairs --a CHECKOUT_A --b CHECKOUT_B \\
        --workload acon_jobs --seeds 1-10 --out DIR
    python3 perfbench/steady.py compare DIR/a DIR/b

Every run is saved as DIR/<workload>-s<seed>.json: the result line
run.py printed last, plus its wall-clock order.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in spec.split(",")]


def bench(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(root, workload, seed, seconds, out_dir):
    """One run from checkout `root`; the result line is saved and returned."""
    t0 = time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.exit("run failed (exit %d): %s" % (p.returncode, p.stderr[-2000:]))
    res = json.loads(lines[-1])
    res["started"] = t0
    res["run_s"] = time.time() - t0
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "%s-s%d.json" % (workload, seed)), "w") as f:
        json.dump(res, f)
    print("%s seed %d: %.0f s, correct=%s" % (workload, seed, res["run_s"], res["correct"]),
          file=sys.stderr)
    return res


def load(d):
    """workload → runs in the order they were made."""
    runs = {}
    for n in sorted(os.listdir(d)):
        if n.endswith(".json"):
            with open(os.path.join(d, n)) as f:
                r = json.load(f)
            runs.setdefault(n.rsplit("-s", 1)[0], []).append(r)
    for w in runs:
        runs[w].sort(key=lambda r: r.get("started", 0))
    return runs


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def report(d, root):
    b = bench(root)
    worst = 0.0
    for w, runs in sorted(load(d).items()):
        print("%s: %d runs, all correct: %s, mean run %.0f s" % (
            w, len(runs), all(r["correct"] for r in runs),
            statistics.mean(r.get("run_s", 0) for r in runs)))
        for m in b["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            if len(vals) < 2:
                continue
            med, q1, q3, spread = summary(vals)
            flag = ""
            if spread > m["bound"]:
                flag = "  OVER BOUND"
            elif spread > m["bound"] / 3:
                flag = "  over bound/3"
            elif spread > 0.1:
                flag = "  over 0.1"
            worst = max(worst, spread / m["bound"])
            print("  %-15s median %12.4f  q1 %12.4f  q3 %12.4f  spread %.3f (bound %.2f)%s" % (
                m["name"], med, q1, q3, spread, m["bound"], flag))
    print("worst spread / bound: %.2f" % worst)


def verdict(a, b, m):
    lower = m["better"] == "lower"
    med_a, q1_a, q3_a, spread_a = summary(a)
    med_b = statistics.median(b)
    wins = sum(1 for x, y in zip(a, b) if (y < x if lower else y > x))
    worse_by = ((med_b - med_a) if lower else (med_a - med_b)) / med_a
    if wins >= 0.9 * len(a) and abs(med_b - med_a) > (q3_a - q1_a):
        return "improved", wins, worse_by
    if worse_by > m["bound"]:
        return "worse", wins, worse_by
    if spread_a <= m["bound"]:
        return "unchanged", wins, worse_by
    if all((y < x if lower else y > x) for x in a for y in b):
        return "improved", wins, worse_by
    return "unresolved", wins, worse_by


def compare(da, db, root):
    b = bench(root)
    ra, rb = load(da), load(db)
    for w in sorted(set(ra) & set(rb)):
        n = min(len(ra[w]), len(rb[w]))
        print("%s: %d pairs" % (w, n))
        for m in b["end_to_end"]:
            a = [r["metrics"][m["name"]]["value"] for r in ra[w][:n]]
            c = [r["metrics"][m["name"]]["value"] for r in rb[w][:n]]
            v, wins, worse_by = verdict(a, c, m)
            print("  %-15s %-10s B wins %d/%d, B worse by %+.3f (bound %.2f)" % (
                m["name"], v, wins, n, worse_by, m["bound"]))


def main(argv):
    ap = argparse.ArgumentParser(description="graft benchmark steadiness and compare")
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("aa")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--out", required=True)
    p = sub.add_parser("report")
    p.add_argument("dir")
    p = sub.add_parser("pairs")
    p.add_argument("--a", required=True)
    p.add_argument("--b", required=True)
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--out", required=True)
    p = sub.add_parser("compare")
    p.add_argument("a")
    p.add_argument("b")
    a = ap.parse_args(argv)
    root = os.path.dirname(HERE)
    if a.cmd in ("aa", "pairs"):
        secs = bench(root)["run_seconds"]
    if a.cmd == "aa":
        for s in seeds(a.seeds):
            run_once(root, a.workload, s, secs, a.out)
        report(a.out, root)
    elif a.cmd == "report":
        report(a.dir, root)
    elif a.cmd == "pairs":
        # alternate which side runs first, pair by pair
        for i, s in enumerate(seeds(a.seeds)):
            order = [("a", a.a), ("b", a.b)] if i % 2 == 0 else [("b", a.b), ("a", a.a)]
            for side, checkout in order:
                run_once(os.path.abspath(checkout), a.workload, s, secs,
                         os.path.join(a.out, side))
        compare(os.path.join(a.out, "a"), os.path.join(a.out, "b"), root)
    else:
        compare(a.a, a.b, root)


if __name__ == "__main__":
    main(sys.argv[1:])
