"""Benchmark entry point.

    python3 perfbench/run.py --workload interactive_sql --seed 1 --seconds 20 --trace 0

Generates the inputs from the seed, sets the workload up three times
(median = setup_s), runs one untimed warm pass, measures for
`--seconds`, checks every output and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the first half of the
window runs untraced and the second half traced, and the metrics are
the per-layer ones plus the tracing overhead. `--smoke` shrinks the
inputs to sf0.001 for the benchmark's own tests.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

WORKLOADS = ("interactive_sql", "curation_batch")
SF, SMOKE_SF = 0.01, 0.001


def _workload(name: str):
    if name == "interactive_sql":
        from interactive import InteractiveSQL

        return InteractiveSQL
    from curation import CurationBatch

    return CurationBatch


def _e2e(wl, seconds: float, setup_s: float, rec) -> dict:
    t0 = time.perf_counter()
    wl.run(rec, seconds)
    wall = time.perf_counter() - t0
    wl.verify(rec)
    out = rec.e2e(wall, wl.items_per_pass)
    out["setup_s"] = setup_s
    out["peak_rss_mb"] = harness.peak_rss_mb()
    return out


def _traced(wl, spark, seconds: float, args, recs: list) -> dict:
    from curation import OPERATORS
    from tracing import Tracer, layer_metrics

    base = harness.Recorder()
    recs.append(base)
    wl.run(base, seconds / 2)
    wl.verify(base)
    key = "op_p50_ms" if wl.name == "interactive_sql" else "pass_s"
    untraced = base.e2e(1.0, wl.items_per_pass)[key]

    tr = Tracer(spark)
    for cl in getattr(wl, "clients", ()):
        cl.bytes_in = 0
    rec = harness.Recorder()
    recs.append(rec)
    tr.install()
    wl.tracer = tr
    t0 = time.time()
    try:
        wl.run(rec, seconds / 2)
    finally:
        t1 = time.time()
        tr.uninstall()
        wl.tracer = None
    wl.verify(rec)
    traced = rec.e2e(1.0, wl.items_per_pass)[key]
    wire = wl.name == "interactive_sql"
    metrics = layer_metrics(
        tr, t0, t1, len(rec.passes), harness.nproc(),
        operators=OPERATORS,
        wire_ms=sum(o.dur for o in rec.ops) * 1e3 if wire else 0.0,
        result_bytes=sum(cl.bytes_in for cl in getattr(wl, "clients", ())),
    )
    metrics["trace.overhead_frac"] = traced / untraced - 1
    out_dir = os.path.join(harness.ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
    with open(path, "w") as f:
        json.dump(tr.dump(), f)
    _report(args.workload, tr, len(rec.passes), metrics, key, untraced, traced, path)
    return metrics


def _report(workload: str, tr, passes: int, m: dict, key: str, untraced: float, traced: float, path: str) -> None:
    print(f"# traced run of {workload}, per pass; spans and counters in {path}")
    print(f"#   {'span':40s} {'count':>7s} {'total ms':>10s} {'self ms':>10s}")
    for name, (n, total, own) in sorted(tr.span_table().items()):
        print(f"#   {name:40s} {n / passes:7.1f} {total * 1e3 / passes:10.1f} {own * 1e3 / passes:10.1f}")
    for k, v in m.items():
        print(f"#   {k:40s} {v:14.3f}")
    print(f"#   tracing overhead on {key}: {untraced:.3f} untraced -> {traced:.3f} traced "
          f"({m['trace.overhead_frac']:+.1%})")
    print(f"#   scheduler.unaccounted_ms is {m['scheduler.unaccounted_frac']:.1%} of wall")


def run(args, work: str) -> dict:
    import datagen

    marks = [("start", time.perf_counter())]
    data_dir = os.path.join(work, "data")
    sizes = datagen.generate(data_dir, args.seed, SMOKE_SF if args.smoke else SF)
    wl = _workload(args.workload)(data_dir, work, args.seed, sizes)
    marks.append(("inputs", time.perf_counter()))
    setup_s, setup_times, spark = harness.timed_setups(wl)
    marks.append(("set-ups", time.perf_counter()))
    print("# env " + json.dumps(harness.environment_record()))
    print("# setup_s samples " + json.dumps([round(t, 3) for t in setup_times]))
    recs = [harness.Recorder()]
    try:
        wl.run(recs[0], None)  # warm pass, untimed
        wl.verify(recs[0])
        marks.append(("warm pass", time.perf_counter()))
        if args.trace:
            metrics = _traced(wl, spark, args.seconds, args, recs)
        else:
            recs.append(harness.Recorder())
            metrics = _e2e(wl, args.seconds, setup_s, recs[-1])
        marks.append(("measured", time.perf_counter()))
    finally:
        wl.teardown()
        harness.stop_jvm(spark)
    marks.append(("teardown", time.perf_counter()))
    print("# phase seconds " + json.dumps({n: round(t - marks[i][1], 2) for i, (n, t) in enumerate(marks[1:])}))
    attempted = sum(len(r.ops) for r in recs)
    failures = [f for r in recs for f in r.failures]
    for f in failures[:20]:
        print(f"# FAILED {f}")
    measured = recs[-1]
    print(f"# {len(measured.ops)} ops in {len(measured.passes)} passes measured; "
          f"{attempted} attempted, {len(failures)} failed")
    if args.trace:
        metrics["failed_frac"] = len(failures) / attempted
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": harness.UNITS.get(k, _unit(k))} for k, v in metrics.items()},
    }


def _unit(name: str) -> str:
    suffix = name.replace(".", "_").rsplit("_", 1)[-1]
    return {"ms": "ms", "bytes": "B", "frac": "ratio", "util": "ratio"}.get(suffix, "count")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="sf0.001 inputs")
    args = p.parse_args(argv)
    missing = [
        rel for rel in ("fuse_query_spark/engine.py", "tools/check_oracle.py")
        if not os.path.isfile(os.path.join(harness.ROOT, rel))
    ]
    if missing:
        print(f"perfbench: engine sources missing from {harness.ROOT}: {', '.join(missing)}", file=sys.stderr)
        return 2
    work = os.path.join(harness.ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        harness.pin_environment(work)
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
