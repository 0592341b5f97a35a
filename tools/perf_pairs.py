#!/usr/bin/env python3
"""Paired benchmark runs of two checkouts, alternating which runs first.

Usage: python3 tools/perf_pairs.py <parent checkout> <change checkout> <workload> <first seed> <N>

Pair i runs `python3 perfbench/run.py --workload <workload> --seed
<first seed + i> --seconds <run_seconds> --trace 0` once in each
checkout, from that checkout's root, the parent first on even i and the
change first on odd i, so drift on the host falls on both sides alike.
`run_seconds` and the end-to-end metrics (name and direction) come from
the change's BENCHMARK.json. Each checkout builds and caches its own
engine under its `.bench_build/`.

Each run's result line is printed as it arrives. At the end, for each
end-to-end metric: both sides' medians and quartiles, the number of
pairs the change won, the parent's IQR, and whether the median
difference exceeds it. A run whose result is not `correct`, has
`failed > 0`, or printed no result line is flagged, and its pair is
left out of the statistics.
"""

import json
import os
import statistics
import subprocess
import sys


def quartiles(xs):
    """(q1, median, q3); `statistics.quantiles`' default (exclusive)
    method, the wider of its two on small samples."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def problems(res):
    """Why one run's result is flagged, or '' when it is clean."""
    if res is None:
        return "no result line"
    why = []
    if not res.get("correct"):
        why.append("correct=false")
    if res.get("failed", 0) > 0:
        why.append(f"failed={res['failed']}")
    return ", ".join(why)


def summarise(pairs, end_to_end):
    """One row per metric over the clean pairs: pairs is a list of
    (parent result, change result); end_to_end the BENCHMARK.json list."""
    clean = [(p, c) for p, c in pairs if not problems(p) and not problems(c)]
    rows = []
    for m in end_to_end:
        name, lower = m["name"], m["better"] == "lower"
        par = [p["metrics"][name]["value"] for p, _ in clean]
        chg = [c["metrics"][name]["value"] for _, c in clean]
        if not par:
            continue
        wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
        pq, cq = quartiles(par), quartiles(chg)
        iqr = pq[2] - pq[0]
        gain = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
        rows.append({"metric": name, "n": len(par), "parent": pq, "change": cq,
                     "wins": wins, "parent_iqr": iqr, "gain": gain,
                     "beyond_iqr": gain > iqr})
    return rows


def run(checkout, workload, seed, seconds):
    """One perfbench run; its parsed result line, or None."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-2000:])
        return None
    try:
        return json.loads(p.stdout.strip().splitlines()[-1])
    except (IndexError, json.JSONDecodeError):
        return None


def main():
    if len(sys.argv) != 6:
        sys.exit(__doc__.split("\n\n")[1])
    parent, change = os.path.abspath(sys.argv[1]), os.path.abspath(sys.argv[2])
    workload, first, n = sys.argv[3], int(sys.argv[4]), int(sys.argv[5])
    with open(os.path.join(change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"]]
    pairs, flagged = [], []
    for i in range(n):
        seed = first + i
        order = [("parent", parent), ("change", change)]
        if i % 2:
            order.reverse()
        res = {}
        for side, root in order:
            res[side] = r = run(root, workload, seed, bench["run_seconds"])
            why = problems(r)
            if why:
                flagged.append(f"pair {i} seed {seed} {side}: {why}")
            vals = " ".join(f"{k}={r['metrics'][k]['value']:.3f}" for k in names) if r else "-"
            print(f"pair {i} seed {seed} {side}: {vals}" + (f"  FLAGGED: {why}" if why else ""),
                  flush=True)
        pairs.append((res["parent"], res["change"]))
    print()
    print(f"{workload}, {n} pairs from seed {first} (parent first on even pairs)")
    for r in summarise(pairs, bench["end_to_end"]):
        (p1, p2, p3), (c1, c2, c3) = r["parent"], r["change"]
        print(f"{r['metric']}: parent {p2:.3f} [{p1:.3f}, {p3:.3f}]  "
              f"change {c2:.3f} [{c1:.3f}, {c3:.3f}]  "
              f"change better in {r['wins']}/{r['n']}  parent IQR {r['parent_iqr']:.3f}  "
              f"median gain {r['gain']:+.3f} ({'beyond' if r['beyond_iqr'] else 'within'} IQR)")
    for f in flagged:
        print(f"FLAGGED {f}")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
