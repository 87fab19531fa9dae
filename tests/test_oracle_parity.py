"""Local replica of the driver's correctness gate: run every __spark_entry__
query against its DuckDB oracle and compare row count + values
(order-insensitive, columns sorted by name — mirroring CORRECTNESS_r{N}.json).

Runs at BOTH sf0.001 (fast) and sf0.01 (the driver's correctness sf) so a
representation drift that only shows at the driver's scale is caught locally."""

from __future__ import annotations

import math
import os
import re
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module", params=SF_DIRS, ids=["sf0.001", "sf0.01"])
def sf_dir(request):
    return request.param


@pytest.fixture(scope="module")
def ddb(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}"
    return str(v)


def _rows_to_set(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


ORACLE_NAMES = sorted(entrymod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, ddb, sf_dir, name):
    q = entrymod.queries()[name]
    df = q(spark, sf_dir)
    spark_cols = df.columns
    spark_rows = [tuple(r) for r in df.collect()]
    res = ddb.sql(entrymod.oracle_sql()[name])
    duck_cols = res.columns
    # The driver's value hash is representation-sensitive: DuckDB sum() yields
    # HUGEINT (int128) which hash-mismatches Spark's bigint even when values are
    # equal.  Guard here so the drift is caught locally (CORRECTNESS_r01 lesson).
    bad = [
        (c, str(t)) for c, t in zip(res.columns, res.types)
        if str(t).upper().startswith(("HUGEINT", "UHUGEINT"))
    ]
    assert not bad, f"{name}: oracle returns int128 columns {bad}; CAST(... AS BIGINT) in the SQL"
    duck_rows = res.fetchall()
    assert sorted(c.lower() for c in spark_cols) == sorted(c.lower() for c in duck_cols), (
        f"{name}: columns {spark_cols} vs {duck_cols}"
    )
    a = _rows_to_set(spark_rows, [c.lower() for c in spark_cols])
    b = _rows_to_set(duck_rows, [c.lower() for c in duck_cols])
    assert len(a) == len(b), f"{name}: rows {len(a)} vs {len(b)}"
    if a != b:
        diff_a = [r for r in a if r not in set(b)][:5]
        diff_b = [r for r in b if r not in set(a)][:5]
        raise AssertionError(f"{name}: value mismatch\nspark-only: {diff_a}\nduck-only: {diff_b}")


def test_every_query_has_an_oracle():
    """Since the golden-fixture oracles landed (VERDICT r3 #2) there are NO
    rows-only queries left: every queries() entry must carry an oracle_sql()
    entry, so the driver's correctness gate is rows+schema+hash for 29/29."""
    assert set(entrymod.queries()) == set(entrymod.oracle_sql())


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema) > 0


def test_verified_pairs_shuffles_distinct_shingles_once(spark, plan_nodes):
    """q_verified_pairs reads its distinct-shingle table three times (sizes
    and both join sides); the executed plan must shuffle it once and reuse
    that exchange for the other two reads."""
    df = entrymod.q_verified_pairs(spark, SF_DIRS[0])
    df.collect()
    shingle_key = re.compile(r"hashpartitioning\(conv_id#\d+, shingle#\d+, \d+\)")
    exchanges = reused = 0
    for node in plan_nodes(df._jdf.queryExecution().executedPlan()):
        cls = node.getClass().getSimpleName()
        if cls == "ShuffleExchangeExec":
            exchanges += bool(shingle_key.fullmatch(node.outputPartitioning().toString()))
        elif cls == "ReusedExchangeExec":
            reused += bool(shingle_key.fullmatch(node.child().outputPartitioning().toString()))
    assert (exchanges, reused) == (1, 2)
