"""The three benchmark workloads.

Each runs in a fresh driver process, as a closed loop: one *unit* of work
at a time, the next starting when the previous one finished.  The first
unit after set-up is the cold unit (no Python worker exists yet); warm units
then repeat for the run's measuring window.

- ``extract_map_only``: one unit = ``extract_transcripts(map_only)`` over a
  cached seeded corpus into a count/sum aggregate.
- ``checkpoint_resume``: one unit = ``run_with_checkpoint(hash_conv)`` with
  an injected bucket failure, the resume call, and ``lineage_manifest`` over
  the written output.
- ``headline_suite``: one unit = the twelve ``bench.HEADLINE`` leaves of
  ``__spark_entry__.queries()`` into the noop sink, on the frozen bench's
  tables (``bench.SF_DIR``).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from common import (
    RssSampler,
    Spans,
    cores,
    descendants,
    fresh_dir,
    jvm_warmup,
    start_session,
    stop_session,
)
from corpus import ensure_corpus

MAP_ONLY_TURNS = 80_000
CHECKPOINT_TURNS = 6_000
N_BUCKETS = 2
GROUPS_PER_ROUND = 2  # one bucket per commit group
FAILED_BUCKETS = frozenset({1})
SAMPLE_MODULUS = 97  # the map-only check keeps ~1/97 of conversations
LEAF_CHECK_STRIDE = 3  # each run checks every third headline leaf


class FailBuckets:
    """Deterministic ``failure_hook``: raises for a fixed bucket set on
    every call.  Module-level so executors unpickle it by reference."""

    def __init__(self, buckets):
        self.buckets = frozenset(buckets)

    def __call__(self, bucket: int) -> None:
        if bucket in self.buckets:
            raise RuntimeError(f"injected failure bucket={bucket}")


class Run:
    """State of one benchmark run: arguments, spans, checks, results."""

    def __init__(self, workload: str, seed: int, seconds: float, tmp: str,
                 event_log_dir: str | None):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tmp = tmp
        self.event_log_dir = event_log_dir
        self.cores = cores()
        self.spans = Spans()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.detail: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.units: list[str] = []  # job groups of the timed units, in order
        self.warm_walls: list[float] = []
        # checkpoint cycles: their job-group tags, the corpus their scans
        # read, and the turns they committed
        self.checkpoint_units: list[str] = []
        self.input_path = ""
        self.committed_turns = 0
        self.spark = None
        self.rss = RssSampler()

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)

    def start(self) -> None:
        """Session start + JVM-only warm-up: the run's set-up time."""
        self.rss.start()
        with self.spans.span("session.start") as s:
            self.spark = start_session(self.cores, self.tmp, self.event_log_dir)
        with self.spans.span("session.warmup") as w:
            jvm_warmup(self.spark)
        self.layer["session.start_s"] = s.seconds
        self.e2e["setup_s"] = s.seconds + w.seconds

    def end_timing(self) -> None:
        """Stop the memory sampler: the checks that follow are not user
        work."""
        self.rss.stop()
        self.e2e["peak_rss_mb"] = self.rss.peak_mb()
        self.detail["peak_jvm_rss_mb"] = self.rss.peak_mb("jvm")
        self.detail["peak_python_rss_mb"] = self.rss.peak_mb("python")

    def stop(self) -> None:
        if self.spark is not None:
            with self.spans.span("session.stop"):
                stop_session(self.spark)
            self.spark = None

    def group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def loop(self, unit, min_warm: int) -> list[float]:
        """The cold unit, one settling unit, then warm units for
        ``seconds`` (at least *min_warm* of them).  *unit(tag)* runs one
        unit under job group *tag* and returns its wall seconds.

        The JVM keeps getting faster over the first warm units (measured:
        the headline suite's first three warm passes ran ~10.2, 8.8 and
        8.2 s), so the unit after the cold one settles it and is not
        counted."""
        self.units.append("cold")
        with self.spans.span("cold"):
            self.e2e["cold_s"] = unit("cold")
        with self.spans.span("settle"):
            unit("settle")
        walls = self.warm_walls
        deadline = time.monotonic() + self.seconds
        while len(walls) < min_warm or time.monotonic() < deadline:
            tag = f"warm{len(walls)}"
            self.units.append(tag)
            with self.spans.span(tag):
                walls.append(unit(tag))
        self.e2e["warm_s"] = statistics.median(walls)
        return walls


def kernel_rung(run: Run, texts: list) -> None:
    """The kernel alone: in-process ``convert_batch`` on one core over the
    workload's rows, in Arrow-batch-sized slices."""
    import pandas as pd

    from extractor.kernel import convert_batch
    from extractor.session import ARROW_BATCH_ROWS

    with run.spans.span("kernel") as s:
        for i in range(0, len(texts), ARROW_BATCH_ROWS):
            convert_batch(pd.Series(texts[i : i + ARROW_BATCH_ROWS], dtype=object))
    run.layer["kernel.busy_s"] = s.seconds
    run.layer["kernel.turns_per_s"] = len(texts) / s.seconds


def _texts(path: str) -> list:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=["text"]).column("text").to_pylist()


def _pin_tree(cpus: set[int]) -> None:
    """Restrict every thread of this process and its descendants to
    *cpus* (new threads and forks inherit it)."""
    for pid in [os.getpid()] + descendants():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except OSError:  # the thread ended meanwhile
                pass


# ---------------------------------------------------------------------------
def extract_map_only(run: Run) -> None:
    from pyspark.sql import functions as F

    from extractor.kernel import convert_text
    from extractor.pipeline import extract_transcripts

    path, run.layer["corpus.gen_s"] = ensure_corpus(
        run.seed, MAP_ONLY_TURNS, files=2 * run.cores
    )
    run.start()
    df = run.spark.read.parquet(path).repartition(2 * run.cores).cache()
    rows = df.count()
    aggs: list[tuple] = []

    def aggregate(frame):
        out = extract_transcripts(frame, partition_mode="map_only", sort_output=False)
        got = out.agg(F.count("*"), F.sum("output_length"), F.sum("bytes_in")).collect()[0]
        return tuple(got)

    def unit(tag: str) -> float:
        run.group(tag)
        t0 = time.monotonic()
        got = aggregate(df)
        wall = time.monotonic() - t0
        aggs.append(got)
        run.check(got[0] == rows and got == aggs[0],
                  f"{tag}: aggregate {got} vs {aggs[0]} over {rows} rows")
        return wall

    walls = run.loop(unit, min_warm=3)
    run.detail.update(turns_per_s=rows / run.e2e["warm_s"], warm_passes=len(walls))
    if run.event_log_dir:
        # single-core baseline on the same cached corpus: one task, with
        # every thread of the driver process tree pinned to one CPU, as
        # local[1] would have
        all_cpus = os.sched_getaffinity(0)
        run.group("single")
        _pin_tree({min(all_cpus)})
        try:
            with run.spans.span("single") as single:
                got = aggregate(df.coalesce(1))
        finally:
            _pin_tree(all_cpus)
        run.check(got == aggs[0], f"single-core aggregate {got} vs {aggs[0]}")
        thr1 = rows / single.seconds
        run.detail.update(single_core_turns_per_s=thr1,
                          scaling_eff=run.detail["turns_per_s"] / (run.cores * thr1))
    run.end_timing()

    with run.spans.span("checks"):
        # sampled rows equal in-process convert_text on the same rows
        run.group("check")
        keep = F.pmod(F.xxhash64("conv_id"), F.lit(SAMPLE_MODULUS)) == (
            run.seed % SAMPLE_MODULUS
        )
        sample = df.where(keep)
        want = {
            (r["conv_id"], r["turn_idx"]): convert_text(r["text"])
            for r in sample.select("conv_id", "turn_idx", "text").collect()
        }
        got = extract_transcripts(sample, sort_output=False).select(
            "conv_id", "turn_idx", "extracted_text", "error", "output_length"
        ).collect()
        run.check(len(got) == len(want) > 0,
                  f"sample: {len(got)} output rows for {len(want)} input rows")
        for r in got:
            w = want.get((r["conv_id"], r["turn_idx"]))
            run.check(
                w is not None
                and (r["extracted_text"], r["error"], r["output_length"])
                == (w.extracted_text, w.error, w.output_length),
                f"row {r['conv_id']}/{r['turn_idx']} differs from convert_text",
            )
    if run.event_log_dir:
        kernel_rung(run, _texts(path))
        run.layer["pipeline.scaling_eff"] = run.detail["scaling_eff"]
        # the checkpoint layer, traced on one cycle over this seed's
        # checkpoint corpus after the map-only measurement
        ck_path, _ = ensure_corpus(run.seed, CHECKPOINT_TURNS, files=run.cores)
        cycles = CheckpointCycles(run, ck_path)
        with run.spans.span("checkpoint"):
            cycles("ckpt")
        cycles.verify()
        cycles.record_layers()


# ---------------------------------------------------------------------------
def _digest(df) -> tuple:
    """Order-insensitive digest of (conv_id, turn_idx, extracted_text)."""
    from pyspark.sql import functions as F, types as T

    h = F.xxhash64("conv_id", "turn_idx", "extracted_text").cast(T.DecimalType(38, 0))
    return tuple(df.select(F.count("*"), F.sum(h)).collect()[0])


class CheckpointCycles:
    """The ``checkpoint_resume`` unit over one seeded corpus read from
    parquet: ``run_with_checkpoint(hash_conv)`` with an injected bucket
    failure, the resume call, and ``lineage_manifest`` over the output.
    Each call is one cycle under job-group prefix *tag*."""

    def __init__(self, run: Run, path: str):
        self.run = run
        self.df = run.spark.read.parquet(path)
        self.rows = self.df.count()
        self.parts: list[dict] = []
        self.output = None  # newest output dir, kept for the digest check
        run.input_path = path

    def __call__(self, tag: str) -> float:
        from pyspark.sql import functions as F

        from extractor.checkpoint import run_with_checkpoint
        from extractor.pipeline import lineage_manifest

        run, df, rows = self.run, self.df, self.rows
        base = fresh_dir(os.path.join(run.tmp, "checkpoint", tag))
        out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
        kw = dict(n_buckets=N_BUCKETS, groups_per_round=GROUPS_PER_ROUND,
                  max_retries=1, partition_mode="hash_conv")
        run.group(f"{tag}:first")
        t0 = time.monotonic()
        first = run_with_checkpoint(df, out, ckpt, failure_hook=FailBuckets(FAILED_BUCKETS), **kw)
        t1 = time.monotonic()
        run.group(f"{tag}:resume")
        resume = run_with_checkpoint(df, out, ckpt, **kw)
        t2 = time.monotonic()
        run.group(f"{tag}:manifest")
        manifest = lineage_manifest(run.spark.read.parquet(out))
        turns = manifest.agg(F.sum("turns")).collect()[0][0]
        t3 = time.monotonic()
        # the injected failure is expected: the first call must report it
        run.check(first["status"] == "FAILED" and first["buckets_failed"] > 0,
                  f"{tag}: first call {first['status']}, "
                  f"{first['buckets_failed']} failed buckets")
        run.check(resume["status"] == "COMPLETED", f"{tag}: resume {resume['status']}")
        run.check(resume["buckets_already_completed"] == N_BUCKETS - first["buckets_failed"],
                  f"{tag}: resume skipped {resume['buckets_already_completed']} buckets")
        run.check(turns == rows, f"{tag}: manifest counts {turns} of {rows} turns")
        self.parts.append({"tag": tag, "first_s": t1 - t0, "resume_s": t2 - t1,
                           "manifest_s": t3 - t2})
        run.checkpoint_units.append(tag)
        run.committed_turns += rows
        if self.output:
            shutil.rmtree(os.path.dirname(self.output), ignore_errors=True)
        self.output = out
        return t3 - t0

    def verify(self) -> None:
        """The newest output's digest equals the map-only digest."""
        from extractor.pipeline import extract_transcripts

        self.run.group("check:checkpoint")
        ref = _digest(extract_transcripts(self.df, partition_mode="map_only", sort_output=False))
        got = _digest(self.run.spark.read.parquet(self.output))
        self.run.check(got == ref and ref[0] == self.rows,
                       f"output digest {got} differs from map-only digest {ref}")

    def record_layers(self) -> None:
        for key, layer in (("first_s", "checkpoint.first_s"),
                           ("resume_s", "checkpoint.resume_s"),
                           ("manifest_s", "lineage.manifest_s")):
            self.run.layer[layer] = statistics.median(p[key] for p in self.parts)


def checkpoint_resume(run: Run) -> None:
    path, run.layer["corpus.gen_s"] = ensure_corpus(
        run.seed, CHECKPOINT_TURNS, files=run.cores
    )
    run.start()
    cycles = CheckpointCycles(run, path)
    run.loop(cycles, min_warm=1)
    run.end_timing()
    run.detail.update(
        wall_s=run.e2e["warm_s"],
        resume_s=statistics.median(
            p["resume_s"] for p in cycles.parts if p["tag"].startswith("warm")
        ),
        turns_per_s=cycles.rows / run.e2e["warm_s"],
    )
    with run.spans.span("checks"):
        cycles.verify()
    if run.event_log_dir:
        cycles.record_layers()
        kernel_rung(run, _texts(path))


# ---------------------------------------------------------------------------
def headline_suite(run: Run) -> None:
    import bench
    import driver_sim
    import __spark_entry__ as entry

    run.start()
    spark = run.spark
    queries = entry.queries()
    cold: dict[str, float] = {}
    warm: dict[str, list[float]] = {n: [] for n in bench.HEADLINE}

    def unit(tag: str) -> float:
        total = 0.0
        for name in bench.HEADLINE:
            run.group(f"{tag}:{name}")
            t0 = time.monotonic()
            bench._noop(queries[name](spark, bench.SF_DIR))
            wall = time.monotonic() - t0
            if tag == "cold":
                cold[name] = wall
            elif tag != "settle":
                warm[name].append(wall)
            total += wall
        return total

    run.loop(unit, min_warm=2)
    run.end_timing()
    # the warm suite time is the sum of per-leaf medians over warm passes
    leaf_warm = {n: statistics.median(v) for n, v in warm.items()}
    run.e2e["warm_s"] = sum(leaf_warm.values())
    run.detail.update(cold_s=run.e2e["cold_s"], warm_s=run.e2e["warm_s"])
    for n in bench.HEADLINE:
        run.layer[f"leaf.{n}.warm_s"] = leaf_warm[n]
        run.layer[f"leaf.{n}.cold_s"] = cold[n]

    with run.spans.span("checks"):
        # a third of the leaves against their DuckDB oracles, rotating with
        # the seed; a traced run checks every leaf
        stride = 1 if run.event_log_dir else LEAF_CHECK_STRIDE
        con = driver_sim.duckdb_conn(bench.SF_DIR)
        oracles = entry.oracle_sql()
        for i, name in enumerate(bench.HEADLINE):
            if i % stride != run.seed % stride:
                continue
            run.group(f"check:{name}")
            ok, msg = driver_sim.compare_query(
                spark, con, queries[name], oracles[name], bench.SF_DIR
            )
            run.check(ok, f"{name}: {msg}")
        con.close()
    if run.event_log_dir:
        kernel_rung(run, _texts(os.path.join(bench.SF_DIR, "documents.parquet")))


WORKLOADS = {
    "extract_map_only": extract_map_only,
    "checkpoint_resume": checkpoint_resume,
    "headline_suite": headline_suite,
}
