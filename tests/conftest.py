from __future__ import annotations

import contextlib
import itertools
import os
import shutil

import pytest
from pyspark.sql import DataFrameWriter

from deduputil_spark.session import get_spark
from deduputil_spark.synth import synthesize


@pytest.fixture(scope="session")
def spark():
    s = get_spark("deduputil-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus():
    """Tiny deterministic corpus (~200 convs incl. planted dups)."""
    return synthesize(n_base_convs=120, seed=42)


@pytest.fixture(scope="session")
def transcripts(spark, corpus):
    df = spark.createDataFrame(corpus.transcripts)
    df = df.withColumn("turn_idx", df["turn_idx"].cast("int"))
    return df.cache()


def _plan_nodes(node):
    """Every node of an executed physical plan, descending through AQE's
    final plan and its query stages (a cached relation's own plan is not
    part of the query and is not visited)."""
    yield node
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(node.executedPlan())
    elif cls.endswith("QueryStageExec"):
        yield from _plan_nodes(node.plan())
    else:
        kids = node.children()
        for i in range(kids.size()):
            yield from _plan_nodes(kids.apply(i))


@pytest.fixture(scope="session")
def plan_nodes():
    """The physical-plan walker, for tests that pin a plan's shape."""
    return _plan_nodes


class _Crash(RuntimeError):
    """The injected failure."""


_CRASH_TARGETS = {"parquet": (DataFrameWriter, "parquet"), "rename": (os, "rename")}


@pytest.fixture
def crash_at(monkeypatch):
    """`with crash_at(target, n): ...` runs the block with the n-th call of
    `target` ("parquet": `DataFrameWriter.parquet`, "rename": `os.rename`)
    failing, and requires the block to die of it.  A failing parquet write
    first removes its target, as `mode("overwrite")` does before writing."""

    @contextlib.contextmanager
    def inject(target, n):
        owner, name = _CRASH_TARGETS[target]
        real = getattr(owner, name)
        calls = itertools.count(1)

        def wrapper(*args, **kwargs):
            if next(calls) == n:
                if target == "parquet":
                    shutil.rmtree(kwargs.get("path") or args[1], ignore_errors=True)
                raise _Crash(f"injected failure at {target} call {n}")
            return real(*args, **kwargs)

        with monkeypatch.context() as m, pytest.raises(_Crash):
            m.setattr(owner, name, wrapper)
            yield

    return inject
