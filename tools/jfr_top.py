#!/usr/bin/env python3
"""Where a perfbench run's timed passes spent their Java samples.

Usage: python3 tools/jfr_top.py <recording.jfr> <harness.json> [--top N] [--under PREFIX]

Make the recording with the harness build already cached (so the
flight recorder attaches to the harness JVM, not to sbt):

    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=/tmp/serve.jfr,settings=profile \\
        python3 perfbench/run.py --workload serve --seed 13 --seconds 8

harness.json is left at .bench_build/perfbench/<workload>-<seed>/harness.json.
The script runs `jfr print --json --stack-depth 80 --events
jdk.ExecutionSample` on the recording and keeps the samples taken
inside the timed passes: from main_start_ms + session_s + fixtures_s +
warm_s through the sum of the pass walls. It prints the inclusive
count of every frame (samples whose stack holds it, once per sample)
and the count per thread pool (the thread name with its numbers
folded). --under keeps only samples with a frame starting with PREFIX,
e.g. `--under graft.` for the engine's own call paths.
"""

import argparse
import json
import re
import subprocess
from collections import Counter
from datetime import datetime


def epoch_ms(iso):
    """JFR's ISO timestamp (nanosecond digits, Z or offset) in epoch ms."""
    m = re.match(r"(.*T\d\d:\d\d:\d\d)(\.\d+)?(Z|[+-]\d\d:\d\d)$", iso)
    frac = (m.group(2) or ".0")[:7]
    zone = "+00:00" if m.group(3) == "Z" else m.group(3)
    return datetime.fromisoformat(m.group(1) + frac + zone).timestamp() * 1000.0


def samples(recording):
    """(epoch ms, thread name, frame names) per execution sample. The
    JSON is decoded one event at a time, so only the text and the
    reduced samples are held."""
    text = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", "80", "--events",
         "jdk.ExecutionSample", recording],
        check=True, capture_output=True, text=True).stdout
    dec = json.JSONDecoder()
    pos = text.index("[", text.index('"events"')) + 1
    while True:
        while text[pos] in " \t\r\n,":
            pos += 1
        if text[pos] == "]":
            return
        ev, pos = dec.raw_decode(text, pos)
        v = ev["values"]
        thread = (v.get("sampledThread") or {}).get("javaName") or "?"
        frames = [f"{f['method']['type']['name'].replace('/', '.')}.{f['method']['name']}"
                  for f in (v.get("stackTrace") or {}).get("frames", [])
                  if "$$Lambda" not in f["method"]["type"]["name"]]
        yield epoch_ms(v["startTime"]), thread, frames


def pool(thread):
    return re.sub(r"\d+", "N", thread.split(" for ")[0])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording")
    ap.add_argument("harness")
    ap.add_argument("--top", type=int, default=40)
    ap.add_argument("--under", default="")
    a = ap.parse_args()
    with open(a.harness) as f:
        res = json.load(f)
    start = res["main_start_ms"] + 1000.0 * (res["session_s"] + res["fixtures_s"] + res["warm_s"])
    end = start + 1000.0 * sum(p["wall_s"] for p in res["passes"])
    frames, pools, n = Counter(), Counter(), 0
    for t, thread, stack in samples(a.recording):
        if not start <= t <= end or not any(s.startswith(a.under) for s in stack):
            continue
        n += 1
        pools[pool(thread)] += 1
        frames.update(set(stack))
    print(f"timed passes: {(end - start) / 1000:.2f} s, {n} samples"
          + (f" with a frame under {a.under}" if a.under else ""))
    print(f"\n{'samples':>8} {'share':>6}  inclusive frame")
    for name, c in frames.most_common(a.top):
        print(f"{c:>8} {c / max(1, n):>6.1%}  {name}")
    print(f"\n{'samples':>8} {'share':>6}  thread pool")
    for name, c in pools.most_common():
        print(f"{c:>8} {c / max(1, n):>6.1%}  {name}")


if __name__ == "__main__":
    main()
