#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload batch_sweep --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the engine and the harness
from source (cached under .bench_build/ by a hash of the sources),
generates the workload's inputs from the seed, runs the harness JVM
(warm pass, then timed passes for --seconds), checks the outputs
against DuckDB, and prints one JSON line: end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. A traced run also writes
.bench_build/perfbench/trace-<workload>-<seed>.json with spans,
per-layer metrics and the tracing overhead. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("sec_pipeline", "batch_sweep", "stream_cdc", "serve")
RUN_LIMIT_S = 170  # every run ends within 180 s; the first one may build
BUILD_LIMIT_S = 840
GEN_REPEATS = 3


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


# --------------------------------------------------------------------
# build

def _source_hash(root):
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties",
             "perfbench/harness/build.sbt", "perfbench/harness/project/build.properties"]
    for base in ("src/main", "perfbench/harness/src"):
        for d, _, names in os.walk(os.path.join(root, base)):
            files += [os.path.relpath(os.path.join(d, n), root) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(os.path.join(root, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, state):
    """sbt-compile the engine and the harness once per source state and
    return the harness JVM's options and classpath."""
    stamp, launch = f"{state}/build.stamp", f"{state}/launch.txt"
    digest = _source_hash(root)
    if os.path.exists(stamp) and os.path.exists(launch) and open(stamp).read() == digest:
        return open(launch).read().splitlines()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t = time.time()
    with open(f"{state}/build.log", "w") as log:
        rc = _run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                   "launchFile"], cwd=f"{root}/perfbench/harness", env=env, stdout=log,
                  limit=BUILD_LIMIT_S)
    if rc != 0:
        sys.stderr.write(open(f"{state}/build.log").read()[-4000:])
        fail(f"build failed (exit {rc})")
    print(f"[perfbench] built in {time.time() - t:.0f} s", file=sys.stderr)
    shutil.copy(f"{root}/perfbench/harness/target/launch.txt", launch)
    with open(stamp, "w") as f:
        f.write(digest)
    return open(launch).read().splitlines()


def _run(cmd, cwd, env, stdout, limit):
    """Run a child in its own process group; kill the group on timeout
    and wait until it has ended."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        return p.wait(timeout=max(1, limit))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {limit:.0f} s and was killed")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# --------------------------------------------------------------------
# inputs

def _tree_hash(d):
    h = hashlib.sha256()
    for base, _, names in sorted(os.walk(d)):
        for n in sorted(names):
            with open(os.path.join(base, n), "rb") as f:
                h.update(n.encode() + f.read())
    return h.hexdigest()


def generate(workload, seed, inputs):
    """Write the workload's inputs. Returns facts the checks need."""
    facts = {}
    if workload in ("batch_sweep", "stream_cdc"):
        gen.tables(f"{inputs}/tables", seed)
    elif workload == "sec_pipeline":
        facts["rows"] = gen.sec_quarters(f"{inputs}/sec", seed)
    else:
        gen.sec_quarters(f"{inputs}/serve/sec", seed, quarters=gen.SEC_QUARTERS[-1:],
                         subs=gen.SERVE_SUBS, facts=gen.SERVE_FACTS)
        facts["upsert"] = gen.upsert_feed(f"{inputs}/serve/upsert", seed)
        with open(f"{inputs}/serve/requests.json", "w") as f:
            json.dump(gen.serve_requests(seed), f)
    return facts


def generate_timed(workload, seed, inputs):
    """Generate GEN_REPEATS times; the copies must be identical (the
    generator is deterministic). Returns (median seconds, facts)."""
    times, digest, facts = [], None, None
    for _ in range(GEN_REPEATS):
        shutil.rmtree(inputs, ignore_errors=True)
        t = time.perf_counter()
        facts = generate(workload, seed, inputs)
        times.append(time.perf_counter() - t)
        d = _tree_hash(inputs)
        if digest not in (None, d):
            fail("input generation is not deterministic")
        digest = d
    return statistics.median(times), facts


def steal_ticks():
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return cpu[7] if len(cpu) > 7 else 0, sum(cpu)


# --------------------------------------------------------------------
# metrics

def _pct(xs, p):
    return stats.percentile(xs, p) if xs else 0.0


def end_to_end(res, setup_s):
    passes = [p for p in res["passes"] if not p["traced"]]
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(p["wall_s"] for p in passes), "s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in passes), "s"),
    }


def workload_figures(workload, res, facts, failed, attempted):
    """Workload-specific figures (0 where a workload has no such thing)."""
    ops = [o for o in res["ops"] if not o["traced"]]
    walls = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    wall = statistics.median(walls)
    ms = [o["ms"] for o in ops]
    tail = stats.tail_percentile(len(ms))
    look = [o["ms"] for o in ops if o["cls"] == "lookup"]
    stmt = [o["ms"] for o in ops if o["cls"] == "stmt"]
    per_pass = len(ops) / len(walls)
    ex = res["extra"]
    out = {
        "op_samples": (len(ms), "count"),
        # the highest percentile with at least ten samples beyond it
        "op_tail_pct": (tail or 0.0, "%"),
        "op_tail_ms": (_pct(ms, tail) if tail else 0.0, "ms"),
        "op_p50_ms": (_pct(ms, 50), "ms"),
        "op_p90_ms": (_pct(ms, 90), "ms"),
        "op_p99_ms": (_pct(ms, 99), "ms"),
        "req_per_s": (per_pass / wall if workload == "serve" else 0.0, "1/s"),
        "rows_per_s": (0.0, "1/s"),
        "lookup_p50_ms": (_pct(look, 50), "ms"),
        "lookup_p99_ms": (_pct(look, 99), "ms"),
        "stmt_p50_ms": (_pct(stmt, 50), "ms"),
        "stmt_p99_ms": (_pct(stmt, 99), "ms"),
        "stored_bytes_ratio": (0.0, "ratio"),
        "failed_frac": (failed / attempted, "ratio"),
    }
    if workload == "sec_pipeline":
        rows = sum(facts["rows"].values())
        out["rows_per_s"] = (rows / wall, "1/s")
        out["stored_bytes_ratio"] = (ex["stored_bytes"] / facts["tsv_bytes"], "ratio")
    elif workload == "stream_cdc":
        drains = [o for o in res["ops"] if o["traced"]]
        if drains:
            out["stored_bytes_ratio"] = (
                sum(ex["scratch_bytes_written"]) / max(1, len(drains)) / ex["input_bytes"],
                "ratio")
        traced = [p["wall_s"] for p in res["passes"] if p["traced"]]
        if traced:  # rows committed per second, from the traced passes' progress events
            rows = sum(b.get("inputRows", 0) for b in res["batches"]) / len(traced)
            out["rows_per_s"] = (rows / statistics.median(traced), "1/s")
    return out


def _in_window(items, lo, hi):
    """Values of (time, value) pairs whose time falls in [lo, hi]."""
    return [x for t, x in items if lo <= t <= hi]


def per_layer(workload, res, untraced_wall, steal, figures):
    """Per-layer metrics of the traced passes, per pass where a count."""
    walls = [p["wall_s"] for p in res["passes"] if p["traced"]]
    n = len(walls)
    c0 = res["pass_counters"][-1] if res["pass_counters"] else {}
    per = lambda k: c0.get(k, 0) / n  # noqa: E731
    ops = [o for o in res["ops"] if o["traced"]]
    spans = res["spans"]
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    span_ms = lambda name: sum(s["ms"] for s in by_name.get(name, [])) / n  # noqa: E731
    jobs = res["jobs"]
    builds = [(s["start_ms"], s["start_ms"] + s["ms"]) for s in by_name.get("operators.build", [])]
    eager = sum(1 for t, _ in jobs for lo, hi in builds if lo <= t <= hi)
    plan_ms = sum(ms for _, ms in res["plans"]) / n
    wall_ms = statistics.mean(walls) * 1000.0
    # Streaming figures come from the timed drains, per pass; a workload
    # whose only drains build its fixtures (serve) reports those, per run.
    batches, bn = res["batches"], n
    if not batches:
        batches, bn = res["setup_batches"], 1
    trig = [b.get("triggerExecution", 0) for b in batches]
    comp = lambda k: sum(b.get(k, 0) for b in batches) / bn  # noqa: E731
    unseen = sum(d["unseen_ms"] for d in unseen_per_drain(res)) / bn
    ex = res["extra"]
    m = {
        "operators.build_ms": (span_ms("operators.build"), "ms"),
        "operators.eager_jobs": (eager / n, "count"),
        "plans.plan_ms": (plan_ms, "ms"),
        "plans.plan_share": (plan_ms / wall_ms, "ratio"),
        "spark.jobs": (per("spark.jobs"), "count"),
        "spark.stages": (per("spark.stages"), "count"),
        "spark.tasks": (per("spark.tasks"), "count"),
        "spark.jobs_per_op": (per("spark.jobs") / max(1, len(ops) / n), "count"),
        "spark.scheduler_delay_ms": (per("spark.scheduler_delay_ms"), "ms"),
        "spark.task_run_ms": (per("spark.task_run_ms"), "ms"),
        "spark.task_cpu_ms": (per("spark.task_cpu_ns") / 1e6, "ms"),
        "spark.core_util": (per("spark.task_run_ms") / (wall_ms * res["cores"]), "ratio"),
        "spark.shuffle_read_bytes": (per("spark.shuffle_read_bytes"), "bytes"),
        "spark.shuffle_write_bytes": (per("spark.shuffle_write_bytes"), "bytes"),
        "spark.spill_bytes": (per("spark.spill_bytes"), "bytes"),
        "spark.gc_ms": (per("spark.gc_ms"), "ms"),
        "spark.codegen_ms": (res["codegen_setup_ms"], "ms"),
        "sources.input_bytes": (per("sources.input_bytes"), "bytes"),
        "sources.input_rows": (per("sources.input_rows"), "count"),
        "sources.ingest_ms": (span_ms("sources.ingest"), "ms"),
        "operators.sec_facts_ms": (span_ms("operators.sec_facts"), "ms"),
        "operators.sec_docs_ms": (span_ms("operators.sec_docs"), "ms"),
        "quality.check_ms": (span_ms("quality.check"), "ms"),
        "streaming.batches": (len(batches) / bn, "count"),
        "streaming.batch_p50_ms": (_pct(trig, 50), "ms"),
        "streaming.add_batch_ms": (comp("addBatch"), "ms"),
        "streaming.query_planning_ms": (comp("queryPlanning"), "ms"),
        "streaming.wal_commit_ms": (comp("walCommit"), "ms"),
        "streaming.commit_offsets_ms": (comp("commitOffsets"), "ms"),
        "streaming.latest_offset_ms": (comp("latestOffset"), "ms"),
        "streaming.get_batch_ms": (comp("getBatch"), "ms"),
        "streaming.state_commit_ms": (comp("stateCommitMs"), "ms"),
        "streaming.state_rows": (max([b.get("stateRows", 0) for b in batches] or [0]), "count"),
        "streaming.state_mem_bytes": (max([b.get("stateMemBytes", 0) for b in batches] or [0]),
                                      "bytes"),
        "streaming.unseen_ms": (unseen, "ms"),
    }
    # storage
    if workload == "serve":
        m.update({"storage.bytes_on_disk": (ex["table_bytes"], "bytes"),
                  "storage.files_live": (ex["files_live"], "count"),
                  "storage.snapshots_live": (ex["snapshots_live"], "count"),
                  "storage.files_written": (ex["table_files"], "count")})
    elif workload == "sec_pipeline":
        m.update({"storage.bytes_on_disk": (ex["stored_bytes"], "bytes"),
                  "storage.files_live": (ex["stored_files"], "count"),
                  "storage.snapshots_live": (0, "count"),
                  "storage.files_written": (ex["stored_files"], "count")})
    else:
        m.update({"storage.bytes_on_disk": (sum(ex["scratch_bytes_written"]) / n, "bytes"),
                  "storage.files_live": (0, "count"),
                  "storage.snapshots_live": (0, "count"),
                  "storage.files_written": (sum(ex["scratch_files_written"]) / n, "count")})
    # serving
    for route in ("table-lookup", "get-financial-data", "execute-custom-query",
                  "table-snapshot", "check-availability", "get-table-info"):
        r = [o["ms"] for o in ops if o["name"] == route]
        m[f"serving.{route}.p50_ms"] = (_pct(r, 50), "ms")
        m[f"serving.{route}.p99_ms"] = (_pct(r, 99), "ms")
    api_jobs = sum(1 for _, g in jobs if g.startswith("graft-api-"))
    m["serving.jobs_per_req"] = (api_jobs / len(ops) if workload == "serve" else 0.0, "count")
    m["serving.lookup_files_opened_ratio"] = (
        ex.get("lookup_files_opened", 0) / max(1, ex.get("lookup_files_total", 0)), "ratio")
    for k in ("2xx", "4xx", "5xx", "504"):
        m[f"serving.status_{k}"] = (ex.get(f"status_{k}", 0), "count")
    m.update({
        "jvm.gc_ms": (res["jvm_gc_ms"], "ms"),
        "jvm.jit_cpu_ms": (statistics.mean(p["jit_cpu_s"] for p in res["passes"]
                                           if p["traced"]) * 1000.0, "ms"),
        "jvm.heap_peak_mb": (res["heap_peak_mb"], "MB"),
        "jvm.rss_peak_mb": (res["rss_peak_mb"], "MB"),
        "host.steal_frac": (steal, "ratio"),
        "trace.overhead_s": (statistics.median(walls) - untraced_wall, "s"),
    })
    m.update(figures)
    return m


# --------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    # a terminated run still stops (and waits for) the processes it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    for f in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(root, f)):
            fail(f"run from the repository root: {f} is missing")
    state = f"{root}/.bench_build/perfbench"
    os.makedirs(state, exist_ok=True)
    launch = build(root, state)

    work = f"{state}/{a.workload}-{a.seed}"
    shutil.rmtree(work, ignore_errors=True)
    inputs = f"{work}/inputs"
    gen_s, facts = generate_timed(a.workload, a.seed, inputs)
    if a.workload == "sec_pipeline":
        facts["tsv_bytes"] = sum(
            i.file_size for z in sorted(os.listdir(f"{inputs}/sec")) if z.endswith(".zip")
            for i in zipfile.ZipFile(f"{inputs}/sec/{z}").infolist())
    for d in ("tmp", "local", "warehouse", "run"):
        os.makedirs(f"{work}/{d}", exist_ok=True)

    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = f"{work}/local"
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.sql.warehouse.dir={work}/warehouse"] + launch + [
        "perfbench.Harness", "--workload", a.workload, "--inputs", inputs,
        "--work", f"{work}/run", "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--out", f"{work}/harness.json"]
    s0, t0 = steal_ticks()
    launched = time.time()
    with open(f"{work}/harness.log", "w") as log:
        rc = _run(cmd, cwd=f"{work}/run", env=env, stdout=log,
                  limit=RUN_LIMIT_S - (time.time() - start))
    s1, t1 = steal_ticks()
    steal = (s1 - s0) / max(1, t1 - t0)
    if rc != 0 or not os.path.exists(f"{work}/harness.json"):
        sys.stderr.write(open(f"{work}/harness.log").read()[-4000:])
        fail(f"harness exited with {rc}")
    with open(f"{work}/harness.json") as f:
        res = json.load(f)

    # correctness (untimed); errors are keyed by the op name they fail
    if a.workload in ("batch_sweep", "stream_cdc"):
        errors = oracle.check_queries(f"{inputs}/tables", f"{work}/run/check")
    elif a.workload == "sec_pipeline":
        errors = {f"facts_{k}": v for k, v in oracle.check_sec_facts(
            f"{inputs}/sec", f"{work}/run/check/facts", f"{work}/oracle").items()}
    else:  # every lookup read the served table
        errors = {"table-lookup": oracle.check_upsert_table(
            res["extra"]["snapshot_dir"].replace("file:", ""), facts["upsert"])}
    errors = {k: v for k, v in errors.items() if v}
    for k, v in errors.items():
        print(f"[perfbench] wrong answer: {k}: {v}", file=sys.stderr)
    for name in res["warm_failed"]:
        errors.setdefault(name, "failed in the warm pass")

    timed = [o for o in res["ops"] if o["traced"] == bool(a.trace)]
    attempted = len(timed)
    failed = sum(1 for o in timed if not o["ok"] or o["name"] in errors)
    for o in timed:
        if not o["ok"]:
            print(f"[perfbench] op failed: {o['name']}: {o['err']}", file=sys.stderr)
    correct = not errors and failed == 0

    jvm_start_s = res["main_start_ms"] / 1000.0 - launched
    setup_s = gen_s + jvm_start_s + res["session_s"] + res["fixtures_s"] + res["warm_s"]
    e2e = end_to_end(res, setup_s)
    figures = workload_figures(a.workload, res, facts, failed, max(1, attempted))
    print(f"[perfbench] {a.workload} seed={a.seed} host.steal_frac={steal:.4f} "
          f"setup: gen={gen_s:.2f}s jvm={jvm_start_s:.2f}s session={res['session_s']:.2f}s "
          f"fixtures={res['fixtures_s']:.2f}s warm={res['warm_s']:.2f}s "
          f"passes={[round(p['wall_s'], 3) for p in res['passes']]} "
          f"cpu={[round(p['cpu_s'], 3) for p in res['passes']]} "
          f"jit_cpu={[round(p['jit_cpu_s'], 3) for p in res['passes']]}", file=sys.stderr)
    if a.trace:
        metrics = per_layer(a.workload, res, e2e["wall_s"][0], steal, figures)
        untraced = [p for p in res["passes"] if not p["traced"]]
        trace_file = f"{state}/trace-{a.workload}-{a.seed}.json"
        with open(trace_file, "w") as f:
            json.dump({
                "workload": a.workload, "seed": a.seed,
                "end_to_end_untraced": {k: v[0] for k, v in e2e.items()},
                "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                "tracing_overhead_s": metrics["trace.overhead_s"][0],
                "untraced_passes": untraced,
                "pass_counters": res["pass_counters"],
                "counter_spread": counter_spread(res["pass_counters"]),
                "spans": res["spans"],
                "self_ms": self_times(res["spans"]),
                "unseen_ms_per_drain": unseen_per_drain(res),
                "errors": errors,
            }, f)
        print(f"[perfbench] trace written to {os.path.relpath(trace_file, root)}",
              file=sys.stderr)
    else:
        metrics = e2e
    with open(f"{state}/result-{a.workload}-{a.seed}-trace{a.trace}.json", "w") as f:
        json.dump({"metrics": metrics, "figures": figures, "errors": errors,
                   "steal_frac": steal}, f)
    print(stats.result_line(correct, attempted, failed, metrics))


def counter_spread(cumulative):
    """Per listener counter: its per-pass values (from the cumulative
    snapshots) and (max - min) / median over the traced passes — 0 for
    counts that repeat exactly."""
    out, prev = {}, {}
    for snap in cumulative:
        for k in snap:
            out.setdefault(k, []).append(snap[k] - prev.get(k, 0))
        prev = snap
    return {k: {"per_pass": v, "spread": (max(v) - min(v)) / statistics.median(v)
                if statistics.median(v) else 0.0} for k, v in out.items()}


def self_times(spans):
    """Per span name: total duration minus the time its children cover."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + s["ms"]
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + s["ms"] - child.get(s["id"], 0.0)
    return out


def unseen_per_drain(res):
    """Per drain: wall minus the sum of its micro-batch trigger times
    (the time no streaming progress event accounts for)."""
    trig = [(b["t"], b.get("triggerExecution", 0))
            for b in res["batches"] + res["setup_batches"]]
    names = {o["id"]: o["name"] for o in res["ops"]}
    return [{"drain": names.get(s["op"], s["name"]), "wall_ms": s["ms"],
             "unseen_ms": s["ms"] - sum(_in_window(trig, s["start_ms"], s["start_ms"] + s["ms"]))}
            for s in res["spans"] if s["name"] in ("op.drain", "streaming.drain")]


if __name__ == "__main__":
    main()
