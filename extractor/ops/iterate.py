"""The one iteration driver: every iterative operator supplies one round as
a ``step``; ``iterate`` owns the budget, lineage cuts and convergence."""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _cut(state, eager: bool):
    if isinstance(state, tuple):
        return tuple(df.localCheckpoint(eager=eager) for df in state)
    return state.localCheckpoint(eager=eager)


def iterate(step, state, rounds: int, *, until=None, materialize: bool = True):
    """Run ``state = step(state, r)`` for r = 1..*rounds* and return
    ``(state, converged)``; *state* is a DataFrame or a tuple of them.

    With *until*, every new state is cut eagerly, since ``until(prev,
    cur)`` reads it next, and the loop stops (``converged=True``) once it
    holds.  Without it, rounds are cut lazily and the result eagerly once,
    so the chain runs as one job tree.  ``materialize=False`` (the
    plan-gate seam) cuts nothing: the result is the pure lazy plan."""
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    for r in range(1, rounds + 1):
        new = step(state, r)
        if until is not None:
            if materialize:
                new = _cut(new, eager=True)
            if until(state, new):
                return new, True
        elif materialize and r < rounds:
            new = _cut(new, eager=False)
        state = new
    if materialize and until is None:
        state = _cut(state, eager=True)
    return state, False


def unchanged(prev: DataFrame, cur: DataFrame) -> bool:
    """Exact fixpoint test: equal row counts and an empty
    ``cur.exceptAll(prev)`` — the same multiset of rows — as one signed
    aggregate: one job, where two counts and an ``exceptAll`` take three."""
    cols = cur.columns
    signed = cur.select(*cols, F.lit(1).alias("_d")).unionAll(
        prev.select(*cols, F.lit(-1).alias("_d"))
    )
    return signed.groupBy(*cols).agg(F.sum("_d").alias("_d")).where(
        F.col("_d") != 0
    ).isEmpty()


def max_normalize(raw: DataFrame, key: str, out: str, scale: int,
                  materialize: bool = True) -> DataFrame:
    """``(key, out)``, ``out = raw * scale DIV greatest(max(raw), 1)``, the
    max a broadcast 1-row aggregate; *raw* is read twice, so it is cut."""
    if materialize:
        raw = raw.localCheckpoint(eager=False)
    m = raw.agg(F.greatest(F.max("raw"), F.lit(1)).alias("m"))
    return raw.crossJoin(F.broadcast(m)).select(
        key, F.expr(f"raw * {scale} DIV m").cast("long").alias(out)
    )
