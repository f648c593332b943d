"""Run history: one JSON line per benchmark run, keyed by the git SHA of
the checkout (when it is a git repository) and by a digest of the program
sources (always), appended to ``.perfbench/history.jsonl``."""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import subprocess
import time

from common import ROOT, WORK

PATH = os.path.join(WORK, "history.jsonl")
_SOURCES = ("extractor", "__spark_entry__.py", "bench.py", "perfbench")


def git_sha() -> str | None:
    """HEAD of the checkout, if the checkout itself is a git work tree."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2:
        return None
    top, sha = lines
    return sha if os.path.realpath(top) == os.path.realpath(ROOT) else None


def source_digest() -> str:
    """sha1 over the program's and the benchmark's Python sources."""
    h = hashlib.sha1()
    files = []
    for entry in _SOURCES:
        path = os.path.join(ROOT, entry)
        if os.path.isfile(path):
            files.append(path)
        for d, _, names in os.walk(path):
            files.extend(os.path.join(d, n) for n in names if n.endswith(".py"))
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def append(record: dict) -> None:
    os.makedirs(WORK, exist_ok=True)
    record = {"git_sha": git_sha(), "source": source_digest(),
              "time": time.time(), **record}
    with open(PATH, "a") as f:
        f.write(json.dumps(record, sort_keys=True) + "\n")


def records() -> list[dict]:
    try:
        with open(PATH) as f:
            return [json.loads(line) for line in f if line.strip()]
    except OSError:
        return []


def untraced_median(workload: str, metric: str) -> float | None:
    """Median of *metric* over earlier untraced, correct runs of
    *workload* on the same sources, or None if there are none."""
    src = source_digest()
    vals = [
        r["metrics"][metric]
        for r in records()
        if r.get("source") == src and r.get("workload") == workload
        and not r.get("trace") and r.get("correct")
        and metric in r.get("metrics", {})
    ]
    return statistics.median(vals) if vals else None
