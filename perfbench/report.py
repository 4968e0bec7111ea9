#!/usr/bin/env python3
"""Markdown summary of benchmark run records.

    python3 perfbench/report.py RECORD.json [RECORD.json ...]

RECORDs are the files `run.py` writes to `<build dir>/perfbench/results/`.
Per workload it prints the end-to-end metrics of the untraced run, the
layers of the traced run ranked by self time, the per-layer split, the
per-query job/idle/CPU split, and the tracing overhead (traced against
untraced `queries_per_s`).
"""
import json
import statistics
import sys

SPLIT = [
    "scheduler.jobs", "queries.build_jobs", "exec.action_jobs", "scheduler.stages",
    "scheduler.skipped_stages", "scheduler.tasks", "scheduler.idle_s", "scheduler.core_util",
    "queries.build_s", "exec.action_s", "plans.executions", "plans.analysis_s",
    "plans.optimization_s", "plans.planning_s", "exec.task_s", "exec.cpu_s", "exec.gc_s",
    "exec.deser_s", "shuffle.write_bytes", "shuffle.read_bytes", "storage.rdd_blocks_written",
    "storage.rdd_mb_written", "engine.Artifacts.pinned_rdds", "engine.Artifacts.rebuilds",
    "output.bytes_written", "stream.batches", "stream.batch_s", "stream.state_commit_s",
    "stream.state_rows", "bench.teardown_s", "host.cal_s",
]


def fmt(v):
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main(paths):
    runs, raws = {}, {}
    for p in paths:
        with open(p) as f:
            rec = json.load(f)
        d = rec["detail"]
        runs.setdefault(d["workload"], {})[d["trace"]] = d
        if d["trace"]:
            raws[d["workload"]] = rec["raw"]
    for wl, by_trace in sorted(runs.items()):
        print(f"## {wl}\n")
        plain, traced = by_trace.get(0), by_trace.get(1)
        if plain:
            print(f"Untraced run, seed {plain['seed']}, {plain['timed_passes']} timed passes "
                  f"of {plain['queries']} queries:\n")
            print("| metric | value | unit | samples |\n|---|---|---|---|")
            for name, m in plain["end_to_end"].items():
                extra = f" (p{m['percentile']}, {m['beyond']} beyond)" if "percentile" in m else ""
                print(f"| `{name}` | {fmt(m['value'])}{extra} | {m['unit']} | {m['n']} |")
            print()
        if traced:
            layer = {k: m["value"] for k, m in traced["per_layer"].items()}
            selfs = sorted(((k[len("self."):-2], v) for k, v in layer.items()
                            if k.startswith("self.")), key=lambda kv: -kv[1])
            total = sum(v for _, v in selfs)
            print(f"Traced run, seed {traced['seed']}: self time per timed pass by span\n")
            print("| span | self s / pass | share |\n|---|---|---|")
            for name, v in selfs:
                print(f"| `{name}` | {v:.3f} | {v / total:.0%} |")
            print("\nPer-layer split (per timed pass):\n")
            print("| metric | value |\n|---|---|")
            for k in SPLIT:
                print(f"| `{k}` | {fmt(layer[k])} |")
            print("\nPer query (median over timed passes):\n")
            print("| query | latency s | jobs | idle s | task s | cpu s | deser s |")
            print("|---|---|---|---|---|---|---|")
            by_query = {}
            for smp in raws[wl]["samples"]:
                if smp["pass"] >= 0:
                    by_query.setdefault(smp["name"], []).append(smp)
            for name, ss in sorted(by_query.items()):
                med = lambda f: statistics.median(f(x) for x in ss)
                c = lambda k: med(lambda x: x["counters"].get(k, 0.0))
                print(f"| `{name}` | {med(lambda x: x['latency_s']):.3f} "
                      f"| {c('scheduler.jobs'):g} | {med(lambda x: x['idle_s']):.3f} "
                      f"| {c('exec.task_s'):.3f} | {c('exec.cpu_s'):.3f} "
                      f"| {c('exec.deser_s'):.3f} |")
            if plain:
                base = plain["end_to_end"]["queries_per_s"]["value"]
                over = 1 - layer["trace.queries_per_s"] / base
                print(f"\nTracing overhead: traced `queries_per_s` "
                      f"{layer['trace.queries_per_s']:.4g} against untraced {base:.4g} "
                      f"({over:+.1%} of the untraced rate, one run each).")
            print()


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    main(sys.argv[1:])
