#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Workloads: extract_map_only,
checkpoint_resume, headline_suite (see workloads.py and README.md).  The
last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run records Spark's event log and the metrics are the per-layer ones,
including the tracing overhead against untraced runs of the same sources.
Each run appends one record to ``.perfbench/history.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import BENCH_DIR, ROOT, WORK, export_worker_env, fresh_dir, missing_program_files  # noqa: E402

E2E = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "cold_s": "s",
    "warm_s": "s",
}
DETAIL_UNITS = {
    "turns_per_s": "1/s",
    "single_core_turns_per_s": "1/s",
    "scaling_eff": "ratio",
    "warm_passes": "count",
    "wall_s": "s",
    "resume_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "peak_jvm_rss_mb": "MB",
    "peak_python_rss_mb": "MB",
}


def per_layer_names() -> list[str]:
    import bench

    names = [
        "session.start_s", "corpus.gen_s", "kernel.turns_per_s", "kernel.busy_s",
        "pipeline.py_start_s", "pipeline.py_init_s", "pipeline.py_run_s",
        "pipeline.kernel_task_s", "pipeline.py_parts_ratio",
        "pipeline.arrow_in_bytes", "pipeline.arrow_out_bytes", "pipeline.gc_s",
        "pipeline.tasks", "pipeline.task_skew", "pipeline.scan_s",
        "pipeline.codegen_s", "pipeline.shuffle_bytes", "pipeline.shuffle_write_s",
        "pipeline.scaling_eff",
        "checkpoint.first_s", "checkpoint.resume_s", "checkpoint.jobs",
        "checkpoint.input_scans", "checkpoint.sink_bytes", "checkpoint.useful_ratio",
        "lineage.manifest_s",
    ]
    for leaf in bench.HEADLINE:
        names += [f"leaf.{leaf}.{m}" for m in
                  ("warm_s", "cold_s", "scan_s", "py_init_s", "shuffle_bytes")]
    return names + ["trace.overhead_ratio", "checks.failed_ratio"]


def layer_unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("tasks", "jobs", "input_scans")):
        return "count"
    return "ratio"


def _in_units(units: list[str]):
    """Job-group predicate: the group is one of *units* or a sub-group
    (``<unit>:<part>``) of one."""
    return lambda g: any(g == u or g.startswith(u + ":") for u in units)


def fold_layers(run, fold) -> None:
    """Per-layer numbers of the timed units (cold + warm) from the event
    log, as means per unit; kernel-stage figures are medians per unit."""
    units = run.units
    n = len(units)
    total = fold.layers(_in_units(units))
    for key in ("py_start_s", "py_init_s", "py_run_s", "arrow_in_bytes",
                "arrow_out_bytes", "gc_s", "scan_s", "codegen_s",
                "shuffle_bytes", "shuffle_write_s"):
        run.layer[f"pipeline.{key}"] = total[key] / n
    stages = [fold.kernel_stage(_in_units([u])) for u in units]
    run.layer["pipeline.tasks"] = statistics.median(s["tasks"] for s in stages)
    run.layer["pipeline.task_skew"] = statistics.median(s["skew"] for s in stages)
    run.layer["pipeline.kernel_task_s"] = statistics.median(s["task_s"] for s in stages)
    task_s = sum(s["task_s"] for s in stages)
    parts = sum(s["py_start_s"] + s["py_init_s"] + s["py_run_s"] for s in stages)
    run.layer["pipeline.py_parts_ratio"] = parts / task_s if task_s else 0.0

    cycles = run.checkpoint_units
    if cycles:
        in_cycles = _in_units(cycles)
        ck = fold.layers(in_cycles)
        run.layer["checkpoint.jobs"] = ck["jobs"] / len(cycles)
        run.layer["checkpoint.sink_bytes"] = ck["sink_bytes"] / len(cycles)
        run.layer["checkpoint.input_scans"] = (
            fold.scans_of(run.input_path, in_cycles) / len(cycles)
        )
        through_kernel = fold.python_rows(in_cycles, "_extract_iter")
        run.layer["checkpoint.useful_ratio"] = (
            run.committed_turns / through_kernel if through_kernel else 0.0
        )
    if run.workload == "headline_suite":
        import bench

        warm = [u for u in units if u != "cold"]
        for leaf in bench.HEADLINE:
            w = fold.layers(lambda g, leaf=leaf: g.split(":")[0] in warm
                            and g.endswith(":" + leaf))
            c = fold.layers(lambda g, leaf=leaf: g == "cold:" + leaf)
            run.layer[f"leaf.{leaf}.scan_s"] = w["scan_s"] / len(warm)
            run.layer[f"leaf.{leaf}.shuffle_bytes"] = w["shuffle_bytes"] / len(warm)
            run.layer[f"leaf.{leaf}.py_init_s"] = c["py_init_s"]


def untraced_child(args) -> float:
    """warm_s of an untraced run of the same workload and seed, in a
    fresh process, for the tracing overhead when history has none."""
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload",
         args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
         "--trace", "0"],
        capture_output=True, text=True, timeout=170, cwd=ROOT,
    )
    out.check_returncode()
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]["warm_s"]["value"]


def _drop_stale_tmp() -> None:
    """Remove scratch left by runs that were killed (their pid is gone)."""
    root = os.path.join(WORK, "tmp")
    for name in os.listdir(root) if os.path.isdir(root) else ():
        pid = name.removeprefix("run-")
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = missing_program_files()
    if missing:
        print(f"perfbench: not a checkout of the program; missing {missing}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    import history
    import stats
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    baseline = None
    if args.trace:
        baseline = history.untraced_median(args.workload, "warm_s")
        if baseline is None:
            baseline = untraced_child(args)

    _drop_stale_tmp()
    tmp = fresh_dir(os.path.join(WORK, "tmp", f"run-{os.getpid()}"))
    export_worker_env(tmp)
    run = Run(args.workload, args.seed, args.seconds, tmp,
              os.path.join(tmp, "eventlog") if args.trace else None)
    try:
        WORKLOADS[args.workload](run)
    finally:
        run.stop()
    if args.trace:
        import eventlog

        for name in per_layer_names():
            run.layer.setdefault(name, 0.0)
        fold_layers(run, eventlog.fold_dir(run.event_log_dir))
        run.layer["trace.overhead_ratio"] = run.e2e["warm_s"] / baseline - 1
        run.layer["checks.failed_ratio"] = run.failed / max(run.attempted, 1)
    shutil.rmtree(tmp, ignore_errors=True)

    correct = run.failed == 0
    warm_units = stats.summary(run.warm_walls)
    history.append({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "correct": correct, "attempted": run.attempted,
        "failed": run.failed, "failures": run.failures, "cores": run.cores,
        "metrics": run.e2e, "detail": run.detail, "warm_units": warm_units,
        "layers": run.layer, "spans": run.spans.records,
    })

    for what in run.failures:
        print(f"check failed: {what}", file=sys.stderr)
    print(f"{args.workload} warm units (s): "
          + " ".join(f"{k}={v:.6g}" for k, v in warm_units.items()))
    for name, value in run.detail.items():
        print(f"{args.workload} {name} {value:.6g} {DETAIL_UNITS.get(name, '')}")
    if args.trace:
        names = per_layer_names()
        metrics = {n: {"value": run.layer[n], "unit": layer_unit(n)} for n in names}
    else:
        metrics = {n: {"value": run.e2e[n], "unit": u} for n, u in E2E.items()}
    for name, m in metrics.items():
        print(f"{args.workload} {name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
