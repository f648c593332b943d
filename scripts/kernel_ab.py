"""In-process A/B of the extraction kernel between two checkouts.

    python scripts/kernel_ab.py A_DIR B_DIR [--reps N] [--seed S]

Each side runs in its own fresh subprocess with its checkout first on
``sys.path``: it builds a seeded transcripts corpus of ``TURNS`` turns with
that checkout's ``generate_conversation`` (outside timing), runs
``convert_batch`` over it in Arrow-sized batches, and reports the process
CPU seconds the kernel took and ``output_digest`` of every batch.  Sides alternate (A B, B A, A B, ...) so
host drift lands on both, and each side's figure is the minimum over its
reps: on a shared box the kernel's wall time swings by more than the changes
worth measuring, and the minimum CPU time is the least disturbed figure.

Prints one JSON line; exits 1 when the two sides' output digests differ.
Uses only the standard library plus pandas/pyarrow (no Spark).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

COLUMNS = (
    "extracted_text", "spans", "tables_count", "math_count",
    "images_count", "output_length", "error", "images",
)
TURNS = 80_000  # about the benchmark's map-only corpus
MEAN_TURNS = 10  # the benchmark corpus's mean conversation length
BATCH_ROWS = 8192  # spark.sql.execution.arrow.maxRecordsPerBatch


def output_digest(frames) -> str:
    """sha256 over (name, dtype, JSON values) of the eight output columns
    of each ``convert_batch`` frame in *frames*, in order.  Also the
    definition behind the pinned digests in
    ``tests/test_kernel_corpus_digest.py``."""
    digest = hashlib.sha256()
    for df in frames:
        assert tuple(df.columns) == COLUMNS
        for name in COLUMNS:
            col = df[name]
            digest.update(f"{name}:{col.dtype}:".encode())
            digest.update(
                json.dumps(col.tolist(), sort_keys=True, ensure_ascii=False).encode()
            )
    return digest.hexdigest()


def _child(checkout: str, seed: int) -> None:
    sys.path.insert(0, os.path.abspath(checkout))
    import pyarrow as pa

    from extractor.kernel import convert_batch
    from extractor.transcripts import generate_conversation

    texts: list = []
    conv = 0
    while len(texts) < TURNS:
        texts.extend(row[3] for row in generate_conversation(seed, conv, MEAN_TURNS))
        conv += 1
    # the series a mapInPandas batch hands the kernel comes from Arrow
    arrow = pa.array(texts, pa.string())
    batches = [
        arrow.slice(i, BATCH_ROWS).to_pandas()
        for i in range(0, len(arrow), BATCH_ROWS)
    ]
    outs = []
    cpu = 0.0
    for batch in batches:
        t0 = time.process_time()
        outs.append(convert_batch(batch))
        cpu += time.process_time() - t0
    print(json.dumps({"cpu_s": cpu, "rows": len(texts), "digest": output_digest(outs)}))


def _run_side(checkout: str, seed: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--child", checkout,
         "--seed", str(seed)],
        cwd=checkout, capture_output=True, text=True, check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("a_dir", nargs="?")
    ap.add_argument("b_dir", nargs="?")
    ap.add_argument("--reps", type=int, default=4)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--child", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.child:
        _child(args.child, args.seed)
        return 0
    if not (args.a_dir and args.b_dir):
        ap.error("A_DIR and B_DIR are required")
    if args.reps < 1:
        ap.error("--reps must be at least 1")
    runs: dict[str, list] = {"a": [], "b": []}
    for rep in range(args.reps):
        order = ("a", "b") if rep % 2 == 0 else ("b", "a")
        for side in order:
            checkout = args.a_dir if side == "a" else args.b_dir
            runs[side].append(_run_side(checkout, args.seed))
    a_cpu = min(r["cpu_s"] for r in runs["a"])
    b_cpu = min(r["cpu_s"] for r in runs["b"])
    digests = {r["digest"] for side in runs.values() for r in side}
    print(json.dumps({
        "a": os.path.abspath(args.a_dir),
        "b": os.path.abspath(args.b_dir),
        "seed": args.seed,
        "rows": runs["a"][0]["rows"],
        "reps": args.reps,
        "a_cpu_s": round(a_cpu, 4),
        "b_cpu_s": round(b_cpu, 4),
        "b_over_a": round(b_cpu / a_cpu, 4),
        "a_runs_s": [round(r["cpu_s"], 4) for r in runs["a"]],
        "b_runs_s": [round(r["cpu_s"], 4) for r in runs["b"]],
        "digests_equal": len(digests) == 1,
    }))
    return 0 if len(digests) == 1 else 1


if __name__ == "__main__":
    sys.exit(main())
