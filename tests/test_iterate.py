"""``iterate`` is the one driver behind every iterative Spark operator: it
owns the round budget, the lineage cuts and the convergence check.  These
tests pin its contract, the exact fixpoint test ``unchanged``, the budget
and plan-seam behaviour the operators inherit from it, and a source check
that keeps every per-round cut inside the driver."""

import ast
import pathlib
import uuid

import pytest
from pyspark.sql import functions as F

from extractor.ops import convops, links
from extractor.ops.iterate import iterate, unchanged

EXTRACTOR = pathlib.Path(__file__).resolve().parent.parent / "extractor"


@pytest.fixture(scope="module")
def start(spark):
    return spark.range(4).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("v")
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize("materialize", [True, False])
def test_fixed_rounds_equal_hand_unrolled(start, materialize):
    def step(df, r):
        return df.select("k", (F.col("v") * 2 + r).alias("v"))

    got, converged = iterate(step, start, 3, materialize=materialize)
    assert not converged
    assert _rows(got) == _rows(step(step(step(start, 1), 2), 3))


def _saturating(calls):
    def step(df, r):
        calls.append(r)
        return df.select("k", F.least(F.col("v") + 1, F.lit(3)).alias("v"))

    return step


def test_until_stops_early_with_converged(start):
    calls = []
    got, converged = iterate(_saturating(calls), start, 10, until=unchanged)
    # v: 1 -> 2 -> 3 -> 3, so round 3 is the first that changes nothing
    assert converged and calls == [1, 2, 3]
    assert _rows(got) == [(k, 3) for k in range(4)]


def test_exhausted_budget_is_not_converged(start):
    calls = []
    got, converged = iterate(_saturating(calls), start, 2, until=unchanged)
    assert not converged and calls == [1, 2]
    assert _rows(got) == [(k, 3) for k in range(4)]


def test_tuple_state(start):
    def step(state, r):
        a, b = state
        return b, a.select("k", (F.col("v") + r).alias("v"))

    (a, b), _ = iterate(step, (start, start), 2)
    assert _rows(a) == [(k, 2) for k in range(4)]
    assert _rows(b) == [(k, 3) for k in range(4)]


def test_negative_rounds_rejected(start):
    with pytest.raises(ValueError, match="rounds"):
        iterate(lambda df, r: df, start, -1)


def test_unchanged_is_exact(spark):
    schema = "u long, v long"
    prev = spark.createDataFrame([(1, 10), (2, 20), (2, 20)], schema)
    assert unchanged(prev, prev.repartition(3).orderBy(F.desc("u")))
    # same row count and the same values per column, labels swapped
    relabel = spark.createDataFrame([(1, 20), (2, 10), (2, 10)], schema)
    assert not unchanged(prev, relabel)
    # same row count and the same distinct rows, different multiplicities
    recount = spark.createDataFrame([(1, 10), (1, 10), (2, 20)], schema)
    assert not unchanged(prev, recount)
    assert not unchanged(prev, prev.limit(2))
    assert not unchanged(prev.limit(2), prev)


@pytest.fixture(scope="module")
def graph(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    turns = spark.createDataFrame(
        [(c, t, "assistant", "x" * (10 + 7 * c % 40))
         for c in range(12) for t in range(1 + c % 3)],
        ["conv_id", "turn_idx", "role", "text"],
    )
    return edges, seeds, turns


@pytest.mark.parametrize("call", [
    pytest.param(lambda e, s, t: links.pagerank(e, iterations=-1),
                 id="pagerank"),
    pytest.param(lambda e, s, t: links.hits(e, iterations=-1), id="hits"),
    pytest.param(lambda e, s, t: links.kcore(e, rounds=-1), id="kcore"),
    pytest.param(lambda e, s, t: links.label_propagation(e, rounds=-1),
                 id="label_propagation"),
    pytest.param(lambda e, s, t: links.bfs_hop_distance(e, s, max_hops=-1),
                 id="bfs_hop_distance"),
    pytest.param(lambda e, s, t: convops.bt_strength(
        t, n_groups=2, per_group=3, rounds=-1), id="bt_strength"),
])
def test_ops_reject_negative_round_budget(graph, call):
    with pytest.raises(ValueError, match="rounds must be >= 0"):
        call(*graph)


@pytest.mark.parametrize("op", ["pagerank", "hits", "kcore"])
def test_lazy_plan_seam_runs_no_job(spark, graph, op):
    """``materialize=False`` must hand back the pure lazy plan: building
    it may not run a single Spark job (no cut, no persist action)."""
    sc = spark.sparkContext
    group = f"plan-seam-{op}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build the lazy plan only")
    try:
        getattr(links, op)(graph[0], materialize=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


_CUTS = {"localCheckpoint", "checkpoint"}


def _cuts_in_loops():
    """``(file, line)`` of every ``.localCheckpoint``/``.checkpoint`` call
    inside a ``for``/``while`` body under ``extractor/``."""
    sites = set()
    for path in sorted(EXTRACTOR.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for loop in ast.walk(tree):
            if not isinstance(loop, (ast.For, ast.AsyncFor, ast.While)):
                continue
            for node in ast.walk(loop):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr in _CUTS):
                    rel = path.relative_to(EXTRACTOR).as_posix()
                    sites.add((rel, node.lineno))
    return sites


def test_per_round_cuts_live_in_iterate():
    stray = {s for s in _cuts_in_loops() if s[0] != "ops/iterate.py"}
    assert not stray, f"run the loop through ops.iterate.iterate: {stray}"
