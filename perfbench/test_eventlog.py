"""Self-test of the event-log fold: runs a tiny map-only extraction with
Spark's event log on, then checks the fold against a direct recount of the
raw log and that the kernel stage's worker timings nest in its task time.

    python3 perfbench/test_eventlog.py      # or: python3 -m pytest perfbench
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import eventlog  # noqa: E402
from common import WORK, export_worker_env, start_session, stop_session  # noqa: E402
from corpus import ensure_corpus  # noqa: E402


def _tiny_run(tmp: str) -> tuple[str, str]:
    """Event-log dir and corpus path of a two-core run with one unit."""
    from extractor.pipeline import extract_transcripts

    export_worker_env(tmp)
    log_dir = os.path.join(tmp, "eventlog")
    path, _ = ensure_corpus(seed=7, target_turns=400, files=2)
    spark = start_session(2, tmp, log_dir)
    try:
        spark.sparkContext.setJobGroup("unit", "unit")
        out = extract_transcripts(spark.read.parquet(path), sort_output=False)
        out.write.format("noop").mode("overwrite").save()
    finally:
        stop_session(spark)
    return log_dir, path


def test_fold_reconciles_with_raw_log():
    import pyarrow.parquet as pq

    os.makedirs(WORK, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=WORK)
    try:
        log_dir, path = _tiny_run(tmp)
        events = list(eventlog.read_events(log_dir))
        fold = eventlog.Fold(events)
        unit = lambda g: g == "unit"  # noqa: E731

        # independent recount straight from the raw events
        stages = {
            sid for e in events if e["Event"] == "SparkListenerJobStart"
            and e["Properties"].get("spark.jobGroup.id") == "unit"
            for sid in e["Stage IDs"]
        }
        ends = [e for e in events
                if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in stages]
        layers = fold.layers(unit)
        assert layers["tasks"] == len(ends) > 0
        raw_task_s = sum(e["Task Metrics"]["Executor Run Time"] for e in ends) / 1e3
        assert abs(layers["task_s"] - raw_task_s) < 1e-9

        kernel = fold.kernel_stage(unit)
        kernel_ends = [e for e in ends if any(
            a.get("Name") == "time to run Python workers"
            for a in e["Task Info"]["Accumulables"])]
        assert kernel["tasks"] == len(kernel_ends)
        assert abs(kernel["task_s"] - sum(
            e["Task Metrics"]["Executor Run Time"] for e in kernel_ends) / 1e3) < 1e-9
        # worker start and run nest inside the kernel stage's task time;
        # init is measured worker-side and is reported beside it
        assert 0 < kernel["py_run_s"] <= kernel["task_s"]
        assert 0 <= kernel["py_start_s"] <= kernel["task_s"]
        assert kernel["py_init_s"] > 0 and kernel["skew"] >= 1.0

        assert layers["arrow_in_bytes"] > 0 and layers["arrow_out_bytes"] > 0
        assert layers["scan_s"] >= 0 and layers["codegen_s"] >= 0
        assert layers["shuffle_bytes"] == 0  # map-only into noop: no exchange
        assert fold.scans_of(os.path.basename(path), unit) == 1
        rows = sum(pq.ParquetFile(f).metadata.num_rows
                   for f in glob.glob(os.path.join(path, "*.parquet")))
        assert fold.python_rows(unit, "_extract_iter") == rows
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    test_fold_reconciles_with_raw_log()
    print("event-log fold self-test passed")
