"""``keyed_hash`` is the engine's one keyed-uniform primitive: the first 8
md5 hex digits of ``salt || key...`` as an integer.  Every bit-exact
split/sample/shard/arm decision depends on it agreeing with its DuckDB
twin ``_dd_md5_bucket``, so both are pinned against a ``hashlib``
reference here, and a source check keeps the hash format spelled out in
one Spark function only."""

import ast
import hashlib
import pathlib
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from __spark_entry__ import _dd_md5_bucket
from extractor.ops.sampling import keyed_hash

EXTRACTOR = pathlib.Path(__file__).resolve().parent.parent / "extractor"

# (id, long key, string key); NULL keys must stay NULL on both engines.
# No column may be named ``i``: that is _dd_md5_bucket's lambda variable.
ROWS = [
    (0, 0, "plain"),
    (1, -1, ""),
    (2, -(2**63), "naïve café — 日本語 ✓"),
    (3, 2**63 - 1, "emoji \U0001f600"),
    (4, 1234567890123, "tab\tand,comma"),
    (5, None, None),
]
MODS = (1, 7, 1000000, 2**32)  # 2**32: the raw 8-hex-digit value


def _ref(salt, key, mod):
    if key is None:
        return None
    digest = hashlib.md5((salt + str(key)).encode("utf-8")).hexdigest()
    return int(digest[:8], 16) % mod


def _duck(expr_by_name):
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id INTEGER, k BIGINT, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", ROWS)
    cols = ", ".join(f"{e} AS {n}" for n, e in expr_by_name.items())
    rows = con.execute(f"SELECT {cols} FROM t ORDER BY id").fetchall()
    con.close()
    return [dict(zip(expr_by_name, r)) for r in rows]


@pytest.fixture(scope="module")
def keyed(spark):
    return spark.createDataFrame(ROWS, "id int, k long, s string")


@pytest.mark.parametrize("mod", MODS)
def test_keyed_hash_matches_reference_and_duckdb(keyed, mod):
    got = keyed.orderBy("id").select(
        (keyed_hash("salt:", "k") % mod).alias("hk"),
        (keyed_hash("salt:", F.col("s")) % mod).alias("hs"),
        (keyed_hash("pair:", "k", F.lit(":"), "id") % mod).alias("hp"),
    ).collect()
    duck = _duck({
        "hk": _dd_md5_bucket("salt:", mod, "k"),
        "hs": _dd_md5_bucket("salt:", mod, "s"),
        "hp": _dd_md5_bucket(
            "pair:", mod, "CAST(k AS VARCHAR) || ':' || CAST(id AS VARCHAR)"
        ),
    })
    for row, d, (id_, k, s) in zip(got, duck, ROWS):
        pair = None if k is None else f"{k}:{id_}"
        want = {"hk": _ref("salt:", k, mod), "hs": _ref("salt:", s, mod),
                "hp": _ref("pair:", pair, mod)}
        assert {c: row[c] for c in want} == want, (id_, row)
        assert {c: d[c] for c in want} == want, (id_, d)


# The md5 -> first-8-hex -> integer chain, after whitespace, quotes and the
# ``F.`` prefix are stripped: ``conv(substring(md5(`` spelled inline, or
# ``conv(substring(<digest>, 1, 8)`` over a digest bound to a name.
_CHAIN = re.compile(r"conv\(substr(?:ing)?\((?:md5\(|\w+,1,8\))", re.I)

# Different constructions that are not the salted keyed bucket:
# minhash reads two 32-bit halves of one digest; CDC and winnowing hash
# unsalted k-grams inside a SQL lambda over character positions.
_ALLOWED = {
    ("sampling", "keyed_hash"),
    ("dedup", "minhash_signatures"),
    ("dedup", "cdc_chunk_stats"),
    ("dedup", "winnowing_fingerprints"),
    ("dedup", "winnowing_containment_pairs"),
}


def _count(src):
    return len(_CHAIN.findall(re.sub(r"\s|[\"']|\bF\.", "", src)))


def _chain_sites():
    """Chain count per innermost enclosing function (or module level)."""
    func = (ast.FunctionDef, ast.AsyncFunctionDef)
    sites = {}
    for path in sorted(EXTRACTOR.rglob("*.py")):
        lines = path.read_text().splitlines()
        tree = ast.parse("\n".join(lines))
        scopes = [("<module>", tree, range(len(lines)))] + [
            (n.name, n, range(n.lineno - 1, n.end_lineno))
            for n in ast.walk(tree) if isinstance(n, func)
        ]
        for name, node, span in scopes:
            own = set(span)
            for inner in ast.walk(node):
                if inner is not node and isinstance(inner, func):
                    own -= set(range(inner.lineno - 1, inner.end_lineno))
            n = _count("\n".join(lines[i] for i in sorted(own)))
            if n:
                sites[(path.stem, name)] = n
    return sites


def test_hash_chain_spelled_once():
    sites = _chain_sites()
    assert sites.get(("sampling", "keyed_hash")) == 1
    stray = {k: v for k, v in sites.items() if k not in _ALLOWED}
    assert not stray, f"use keyed_hash instead of a hand-spelled chain: {stray}"
