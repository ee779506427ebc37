"""Runs alternating parent/change pairs of the benchmark and judges them.

    python3 tools/bench_pairs.py --parent ../parent-tree --change . \\
        --name oneScan --workloads kmeans_csv --seeds 41-50

Each pair runs `python3 perfbench/run.py --workload W --seed N --seconds S
--trace 0` once in the parent source tree and once in the change source
tree (each tree builds into its own .bench_build/). The first side of a
pair alternates: odd seeds run the parent first, even seeds the change.
Every run is appended to BENCH_PAIRS_<name>.json (written after each
run; runs already in the file are skipped, so an interrupted batch
resumes). For each workload and end-to-end metric of BENCHMARK.json it
prints both sides' median and quartiles, the change's win count and a
verdict:

  failed-more the change's share of failed operations is above the
              parent's (an errored run counts as one failed operation)
  gain        the change wins at least 9/10 of all pairs run and the
              medians differ by more than the parent's interquartile range
  regression  the change's median is worse than the parent's by more than
              the metric's bound
  unresolved  a side's interquartile range exceeds the bound and not every
              change run beats every parent run
  within      none of the above: no gain shown, no regression

A pair whose change run errored counts as a loss; medians and quartiles
are over each side's runs that produced a result.

`--report` only prints the summary of an existing file.
"""
import argparse
import json
import math
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def quartiles(xs):
    xs = sorted(xs)

    def q(p):
        i = (len(xs) - 1) * p
        lo, hi = math.floor(i), math.ceil(i)
        return xs[lo] + (xs[hi] - xs[lo]) * (i - lo)
    return q(0.25), q(0.5), q(0.75)


def run_one(tree, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        return {"correct": False, "attempted": 1, "failed": 1,
                "error": "exit %d, no result line" % p.returncode}
    row = {k: res[k] for k in ("correct", "attempted", "failed")}
    for name, m in res["metrics"].items():
        row[name] = m["value"]
    return row


def verdict(pairs, better, bound, failed_more):
    """pairs: (parent, change) value per pair run, None where that run
    errored. Returns wins, pairs run, both sides' quartiles (None when a
    side has no result), the change's relative median change (+ = worse)
    and the verdict."""
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in pairs if p is not None and c is not None and sign * (c - p) < 0)
    par = [p for p, _ in pairs if p is not None]
    chg = [c for _, c in pairs if c is not None]
    pq = quartiles(par) if par else None
    cq = quartiles(chg) if chg else None
    worse = sign * (cq[1] - pq[1]) / pq[1] if pq and cq else None
    if failed_more:
        return wins, len(pairs), pq, cq, worse, "failed-more"
    if worse is None:
        return wins, len(pairs), pq, cq, worse, "unresolved"
    (pq1, pm, pq3), (cq1, cm, cq3) = pq, cq
    all_better = all(sign * (c - p) < 0 for c in chg for p in par)
    if wins * 10 >= 9 * len(pairs) and sign * (cm - pm) < 0 and abs(cm - pm) > pq3 - pq1:
        v = "gain"
    elif worse > bound:
        v = "regression"
    elif max((pq3 - pq1) / pm, (cq3 - cq1) / cm) > bound and not all_better:
        v = "unresolved"
    else:
        v = "within"
    return wins, len(pairs), pq, cq, worse, v


def report(runs, bench):
    def fmt(q):
        return "%10.4g [%.4g, %.4g]" % (q[1], q[0], q[2]) if q else "%10s [-, -]" % "-"
    for w in dict.fromkeys(r["workload"] for r in runs):
        by = {(r["side"], r["seed"]): r for r in runs if r["workload"] == w}
        seeds = sorted(s for side, s in by if side == "parent" and ("change", s) in by)
        att = {side: sum(by[(side, s)]["attempted"] for s in seeds) for side in ("parent", "change")}
        fail = {side: sum(by[(side, s)]["failed"] for s in seeds) for side in ("parent", "change")}
        correct = all(by[(side, s)]["correct"] for s in seeds for side in ("parent", "change"))
        failed_more = fail["change"] * att["parent"] > fail["parent"] * att["change"]
        print("%s: %d pairs (seeds %s), failed %d/%d parent, %d/%d change, all correct: %s"
              % (w, len(seeds), ",".join(map(str, seeds)), fail["parent"], att["parent"],
                 fail["change"], att["change"], correct))
        for m in bench["end_to_end"]:
            name = m["name"]
            pairs = [tuple(by[(side, s)].get(name) for side in ("parent", "change"))
                     for s in seeds]
            if not pairs:
                continue
            wins, n, pq, cq, worse, v = verdict(pairs, m["better"], m["bound"], failed_more)
            change = "%+6.1f%%" % (100 * worse) if worse is not None else "%7s" % "-"
            print("  %-13s parent %s  change %s  wins %2d/%-2d  change %s (+ = worse, bound %.0f%%)  %s"
                  % (name, fmt(pq), fmt(cq), wins, n, change, 100 * m["bound"], v))


def main():
    a = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    a.add_argument("--parent", help="source tree of the parent commit")
    a.add_argument("--change", default=ROOT, help="source tree of the change")
    a.add_argument("--name", required=True, help="writes BENCH_PAIRS_<name>.json")
    a.add_argument("--workloads", default="kmeans_csv,dedup_corpus,ann_embed")
    a.add_argument("--seeds", default="1-10", help="e.g. 41-50 or 1,3,7-9")
    a.add_argument("--what", default="", help="free text stored in the file")
    a.add_argument("--report", action="store_true", help="only summarize the file")
    a.add_argument("--out", default=ROOT, help="directory of the JSON file")
    args = a.parse_args()
    if not args.report and not args.parent:
        a.error("--parent is required unless --report")
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    path = os.path.join(args.out, "BENCH_PAIRS_%s.json" % args.name)
    doc = {"what": args.what, "runs": []}
    if os.path.exists(path):
        with open(path) as f:
            doc = json.load(f)
    doc["what"] = args.what or doc["what"] or (
        "alternating parent/change pairs of `python3 perfbench/run.py --workload W "
        "--seed N --seconds %d --trace 0`, odd seeds parent first" % bench["run_seconds"])
    if not args.report:
        trees = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
        done = {(r["side"], r["workload"], r["seed"]) for r in doc["runs"]}
        for w in args.workloads.split(","):
            for seed in seeds_of(args.seeds):
                order = ["parent", "change"] if seed % 2 else ["change", "parent"]
                for side in order:
                    if (side, w, seed) in done:
                        continue
                    row = {"side": side, "workload": w, "seed": seed}
                    row.update(run_one(trees[side], w, seed, bench["run_seconds"]))
                    doc["runs"].append(row)
                    with open(path, "w") as f:
                        json.dump(doc, f, indent=1)
                    print("%-6s %-12s seed %3d job_s %s" % (side, w, seed, row.get("job_s")),
                          flush=True)
    report(doc["runs"], bench)


if __name__ == "__main__":
    main()
