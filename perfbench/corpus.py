"""Seeded transcripts corpora for the extraction workloads.

Rows are exactly those ``extractor.transcripts.transcripts_df(seed=...)``
produces (it expands each conversation with ``generate_conversation``);
they are built here in the benchmark process, without Spark, so that
building them starts no Python worker before the cold pass.  Each
(seed, turns) corpus is written once to a parquet cache and reused.
"""

from __future__ import annotations

import os
import shutil
import time

from common import CACHE

MEAN_TURNS = 10


def convs_for_turns(seed: int, target_turns: int) -> int:
    """Smallest conversation count whose Zipf-skewed lengths reach
    *target_turns*: keeps corpus size steady across seeds."""
    from extractor.transcripts import conv_length

    total = n = 0
    while total < target_turns:
        total += conv_length(seed, n, MEAN_TURNS)
        n += 1
    return n


def ensure_corpus(seed: int, target_turns: int, files: int) -> tuple[str, float]:
    """Parquet path of the corpus, and the seconds spent building it now
    (0.0 when it came from the cache)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from extractor.transcripts import generate_conversation

    n_convs = convs_for_turns(seed, target_turns)
    path = os.path.join(CACHE, f"transcripts_s{seed}_c{n_convs}_f{files}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path, 0.0
    t0 = time.monotonic()
    staging = path + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us", tz="UTC")),
        ]
    )
    for part in range(files):
        rows = []
        for conv in range(part * n_convs // files, (part + 1) * n_convs // files):
            rows.extend(generate_conversation(seed, conv, MEAN_TURNS))
        cols = list(zip(*rows)) if rows else [[] for _ in schema]
        table = pa.table(
            {f.name: pa.array(c, f.type) for f, c in zip(schema, cols)}, schema=schema
        )
        pq.write_table(table, os.path.join(staging, f"part-{part:05d}.parquet"))
    open(os.path.join(staging, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(staging, path)
    return path, time.monotonic() - t0
