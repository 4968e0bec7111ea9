#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine: one query mix per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the harness (`build.py`), generates the fixtures
(`gen_fixtures.py`, fixed data seed), then runs the harness in its own JVM
against a `local[cpus]` session: set-up, timed passes in a seed-determined
order, heap after GC, and a result dump that is checked against the DuckDB
oracles (`oracle.py`). The mixes and why each was chosen are in
`workloads.json`.

The last stdout line is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics of BENCHMARK.json with
`--trace 0`, the per-layer metrics with `--trace 1`. The line before it,
`{"perfbench": ...}`, carries every metric with its unit and sample count,
plus the failure ratio and the wrong-result count.

Everything the run writes stays under the build dir (`.bench_build/perfbench`
or `$CARGO_TARGET_DIR/perfbench`): classes, fixtures, a fresh working dir
per run that is also Spark's local dir, `java.io.tmpdir` and warehouse,
and the record of the run (plus its spans when traced).
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import oracle  # noqa: E402

CPUS = 4
HEAP = "2g"
SCALE = 0.01
RUN_LIMIT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# Per-layer counters summed over each timed pass (see harness/Accounting.scala).
COUNTERS = [
    "queries.build_jobs", "exec.action_jobs",
    "plans.executions", "plans.analysis_s", "plans.optimization_s", "plans.planning_s",
    "scheduler.jobs", "scheduler.stages", "scheduler.skipped_stages", "scheduler.tasks",
    "scheduler.failed_tasks",
    "exec.task_s", "exec.cpu_s", "exec.gc_s", "exec.deser_s",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s", "spill.bytes",
    "storage.rdd_blocks_written", "storage.rdd_mb_written",
    "scan.bytes_read", "scan.records_read",
    "output.bytes_written", "output.records_written",
    "stream.batches", "stream.batch_s", "stream.planning_s", "stream.wal_commit_s",
    "stream.state_commit_s", "stream.state_rows",
]
SPAN_NAMES = ["pass", "query", "queries.build", "exec.action", "spark.job",
              "bench.teardown", "host.cal"]


def load_manifest():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def ensure_fixtures():
    """Generate the fixtures once per build dir; reused by every run."""
    out = os.path.join(build.build_dir(), "fixtures", f"sf{SCALE}")
    if os.path.isfile(os.path.join(out, "_DONE")):
        return out
    import gen_fixtures
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    gen_fixtures.generate(tmp, SCALE)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def host_steal_s():
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return float("nan")


def run_harness(classes, fixtures, work, spans, queries, args, min_samples, deadline):
    for d in ("tmp", "local", "dump"):
        os.makedirs(os.path.join(work, d))
    out = os.path.join(work, "result.json")
    cmd = ["java"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # A fixed heap: with -Xmx alone G1 shrinks the heap after every
    # teardown's full GC and regrows it inside the next timed query.
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + build.spark_classpath(),
            "graft.perfbench.Harness",
            "--fixtures", fixtures, "--queries", ",".join(queries),
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cpus", str(CPUS),
            "--min-samples", str(min_samples),
            "--out", out, "--dump", os.path.join(work, "dump")]
    if args.trace:
        cmd += ["--spans", spans]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except BaseException as e:
            # Time limit, SIGTERM or Ctrl-C: never leave the JVM behind.
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            if isinstance(e, subprocess.TimeoutExpired):
                raise RuntimeError("harness exceeded the run time limit") from e
            raise
    if proc.returncode != 0 or not os.path.isfile(out):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness exited with {proc.returncode}:\n{tail}")
    with open(out) as f:
        result = json.load(f)
    span_list = []
    if args.trace:
        with open(spans) as f:
            span_list = [json.loads(line) for line in f if line.strip()]
    return result, span_list


def tail_percentile_rank(n, percentile):
    """Samples beyond the percentile's position among n sorted samples."""
    return n - math.ceil(n * percentile / 100.0)


def percentile(xs, p):
    """Linear interpolation between closest ranks (numpy's default)."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def self_times(spans):
    """Self time per span name: duration minus the union of its children."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {n: 0.0 for n in SPAN_NAMES}
    for s in spans:
        covered, reach = 0.0, s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], reach), min(c["end"], s["end"])
            if b > a:
                covered += b - a
                reach = b
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered) / 1e3
    return out


def summarise(result, spans, wl, wrong):
    samples = [s for s in result["samples"] if s["pass"] >= 0]
    passes = [p for p in result["passes"] if p["pass"] >= 0]
    n_pass = len(passes)
    ok = [s for s in samples if s["ok"]]
    lat = [s["latency_s"] for s in ok]
    attempted, failed = len(samples), len(samples) - len(ok)
    busy_s = sum(s["latency_s"] for s in samples)
    p_tail = wl["tail_percentile"]
    e2e = {
        "queries_per_s": {"value": len(ok) / busy_s, "unit": "1/s", "n": n_pass,
                          "over": "queries completed / query time of the timed passes"},
        "latency_p50_s": {"value": statistics.median(lat), "unit": "s", "n": len(lat)},
        "latency_tail_s": {"value": percentile(lat, p_tail), "unit": "s", "n": len(lat),
                           "percentile": p_tail,
                           "beyond": tail_percentile_rank(len(lat), p_tail)},
        "setup_s": {"value": result["setup"]["setup_s"], "unit": "s", "n": 1},
        "heap_after_gc_mb": {"value": result["heap_after_gc_mb"], "unit": "MB", "n": 1},
        "fail_ratio": {"value": failed / attempted, "unit": "ratio", "n": attempted},
        "wrong_results": {"value": len(wrong), "unit": "count", "n": len(wl["queries"])},
    }
    layer = {}
    if result["trace"]:
        per_pass = lambda key: sum(s[key] for s in samples) / n_pass
        for c in COUNTERS:
            layer[c] = sum(s["counters"].get(c, 0.0) for s in samples) / n_pass
        layer["queries.build_s"] = per_pass("build_s")
        layer["exec.action_s"] = per_pass("action_s")
        layer["scheduler.idle_s"] = per_pass("idle_s")
        layer["scheduler.core_util"] = (
            sum(s["counters"].get("scheduler.task_wall_s", 0.0) for s in samples)
            / (busy_s * result["cpus"]))
        layer["engine.Artifacts.pinned_rdds"] = passes[-1]["pinned_rdds"]
        layer["engine.Artifacts.rebuilds"] = max(p["rebuilds"] for p in passes)
        layer["Tables.load_s"] = result["setup"]["load_s"]
        layer["bench.teardown_s"] = per_pass("teardown_s")
        layer["host.cal_s"] = statistics.median(p["cal_s"] for p in passes)
        layer["trace.queries_per_s"] = e2e["queries_per_s"]["value"]
        by_id = {s["id"]: s for s in spans}

        def root(s):
            while s["parent"] in by_id:
                s = by_id[s["parent"]]
            return s
        timed_spans = [s for s in spans if root(s)["name"] == "pass"]
        for name, v in self_times(timed_spans).items():
            layer[f"self.{name}_s"] = v / n_pass
    return e2e, layer, attempted, failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    started = time.monotonic()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    manifest = load_manifest()
    if args.workload not in manifest["workloads"]:
        sys.exit(f"[perfbench] unknown workload {args.workload!r}; "
                 f"known: {', '.join(manifest['workloads'])}")
    wl = manifest["workloads"][args.workload]
    t_build = time.monotonic()
    try:
        classes = build.build()
    except build.BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
    fixtures = ensure_fixtures()
    # The run limit leaves out the one-off build and fixture generation.
    deadline = started + RUN_LIMIT_S + (time.monotonic() - t_build)

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(build.build_dir(), "work", f"{tag}-{os.getpid()}")
    records = os.path.join(build.build_dir(), "results")
    os.makedirs(records, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    min_samples = math.ceil(10 / (1 - wl["tail_percentile"] / 100.0))
    steal0 = host_steal_s()
    try:
        result, spans = run_harness(classes, fixtures, work,
                                    os.path.join(records, f"{tag}.spans.jsonl"),
                                    wl["queries"], args, min_samples, deadline)
        steal = host_steal_s() - steal0
        wrong = oracle.check(os.path.join(work, "dump"), fixtures, wl["queries"])
        e2e, layer, attempted, failed = summarise(result, spans, wl, wrong)
    except RuntimeError as e:
        sys.exit(f"[perfbench] {args.workload}: {e}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for name, why in {**wrong, **result["dump_errors"]}.items():
        print(f"[perfbench] wrong result {name}: {why}", file=sys.stderr)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "cpus": CPUS, "scale": SCALE, "queries": len(wl["queries"]),
              "timed_passes": len([p for p in result["passes"] if p["pass"] >= 0]),
              "end_to_end": e2e,
              "per_layer": {k: {"value": v, "unit": units[k]} for k, v in layer.items()},
              "setup": result["setup"], "timed_s": result["timed_s"],
              "dump_s": result["dump_s"], "run_s": time.monotonic() - started,
              "host_steal_s": steal, "wrong": wrong}
    with open(os.path.join(records, f"{tag}.json"), "w") as f:
        json.dump({"detail": detail, "raw": result}, f)
    print(json.dumps({"perfbench": detail}))

    chosen = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layer if args.trace else {k: v["value"] for k, v in e2e.items()}
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in chosen}
    correct = not wrong and not result["dump_errors"]
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
