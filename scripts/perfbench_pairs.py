#!/usr/bin/env python3
"""Paired benchmark comparison of two graft checkouts.

    python3 scripts/perfbench_pairs.py --parent ../graft-base --change . \
        --pairs 10 --seed0 1001

Runs `python3 perfbench/run.py --workload W --seed S --seconds N --trace 0`
in each checkout, one pair per seed, alternating which side runs first
(pair 0 runs the parent first). N is `run_seconds` of the change's
BENCHMARK.json, and every workload it declares is run. Both sides of a
pair use the same seed. For every workload and every end-to-end metric
that BENCHMARK.json declares, it prints:

  - each side's median and quartiles, over the pairs where both sides ran;
  - the pairs the change won, out of every pair run (ties and pairs where
    either side failed count as losses);
  - `gain`: the change won at least 9/10 of the pairs run and the medians
    differ by more than the parent's interquartile range;
  - `bound`: whether the change stays inside the metric's BENCHMARK.json
    bound — `ok` when its median is no worse than the parent's by more
    than the bound, `WORSE` when it is, and `unresolved` when either
    side's interquartile range is wider than the bound times its median
    (unless every change run beats every parent run).

Failed operations are summed per side, and the median of each per-kind
read latency (`read_ms.*`, from the stderr diagnostics) is printed too.
Exit status is 1 when any run fails or any metric reads WORSE.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write("run failed in %s (exit %d):\n%s\n" % (checkout, p.returncode, p.stderr[-2000:]))
        return None
    diag = {}
    for line in p.stderr.splitlines():
        if line.startswith("graftbench diagnostics: "):
            diag = json.loads(line[len("graftbench diagnostics: "):])
    return {"metrics": {k: v["value"] for k, v in result["metrics"].items()},
            "failed": result.get("failed", 0), "attempted": result.get("attempted", 0),
            "diag": diag}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def judge(parent, change, better, bound, pairs_run):
    """(wins, gain, bound verdict, worse-by ratio) for the paired samples of
    one metric from the usable pairs; `pairs_run` counts broken pairs too."""
    def beats(c, p):
        return c < p if better == "lower" else c > p
    wins = sum(1 for p, c in zip(parent, change) if beats(c, p))
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    gain = wins >= 0.9 * pairs_run and beats(cmed, pmed) and abs(cmed - pmed) > (pq3 - pq1)
    worse = (cmed - pmed) if better == "lower" else (pmed - cmed)
    ratio = worse / abs(pmed) if pmed else (0.0 if worse <= 0 else float("inf"))
    spread = max((pq3 - pq1) / abs(pmed) if pmed else 0.0,
                 (cq3 - cq1) / abs(cmed) if cmed else 0.0)
    dominated = all(beats(c, p) for c in change for p in parent)
    if ratio <= 0 and dominated:
        verdict = "ok"
    elif spread > bound and not dominated:
        verdict = "unresolved"
    else:
        verdict = "ok" if ratio <= bound else "WORSE"
    return wins, gain, verdict, ratio


def fmt(x):
    return "%.4g" % x


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1001, help="seed of pair 0; pair i uses seed0 + i")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    workloads = [w["name"] for w in spec["workloads"]]
    metrics = spec["end_to_end"]

    runs = {w: {"parent": [], "change": []} for w in workloads}
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = [("parent", a.parent), ("change", a.change)]
        if i % 2 == 1:
            order.reverse()
        for w in workloads:
            for side, checkout in order:
                r = run_once(checkout, w, seed, seconds)
                runs[w][side].append(r)
                got = "FAILED" if r is None else "failed=%d" % r["failed"]
                sys.stderr.write("pair %d seed %d %s %s: %s\n" % (i, seed, w, side, got))

    bad = False
    for w in workloads:
        ok = [(p, c) for p, c in zip(runs[w]["parent"], runs[w]["change"]) if p and c]
        broken = a.pairs - len(ok)
        failed = {s: sum(r["failed"] for r in runs[w][s] if r) for s in ("parent", "change")}
        print("== %s: %d usable pairs (%d broken); failed ops parent %d, change %d"
              % (w, len(ok), broken, failed["parent"], failed["change"]))
        bad |= broken > 0 or failed["change"] > 0
        if not ok:
            continue
        print("%-26s %-30s %-30s %5s %5s %-10s %s" % (
            "metric", "parent med [q1, q3]", "change med [q1, q3]", "wins", "gain", "bound", "worse by"))
        for m in metrics:
            name = m["name"]
            ps = [p["metrics"][name] for p, _ in ok if name in p["metrics"]]
            cs = [c["metrics"][name] for _, c in ok if name in c["metrics"]]
            if len(ps) != len(ok) or len(cs) != len(ok):
                print("%-26s missing in some runs" % name)
                continue
            wins, gain, verdict, ratio = judge(ps, cs, m["better"], m["bound"], a.pairs)
            bad |= verdict == "WORSE"
            pq, cq = quartiles(ps), quartiles(cs)
            print("%-26s %-30s %-30s %2d/%-2d %5s %-10s %+.1f%% (bound %.0f%%)" % (
                name,
                "%s [%s, %s]" % (fmt(pq[1]), fmt(pq[0]), fmt(pq[2])),
                "%s [%s, %s]" % (fmt(cq[1]), fmt(cq[0]), fmt(cq[2])),
                wins, a.pairs, "yes" if gain else "no", verdict, 100 * ratio, 100 * m["bound"]))
        kinds = sorted({k for p, c in ok for k in list(p["diag"]) + list(c["diag"])
                        if k.startswith("read_ms.")})
        for k in kinds:
            ps = [p["diag"][k] for p, _ in ok if k in p["diag"]]
            cs = [c["diag"][k] for _, c in ok if k in c["diag"]]
            if ps and cs:
                print("  %-24s parent %s  change %s (medians, ms)" % (
                    k, fmt(statistics.median(ps)), fmt(statistics.median(cs))))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
