"""Materialization barriers: every eager ``localCheckpoint`` and every
``persist`` goes through ``operators/rebalance.py`` (``checkpoint``,
``persisted``), and neither leaves session state behind on any exit
path."""

import ast
import glob
import os

import pytest

from mape_calculation_and_anonymization_spark.operators.rebalance import (
    checkpoint,
    persisted,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "mape_calculation_and_anonymization_spark")
DESCRIPTION = "spark.job.description"


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_barriers_are_written_once():
    """No ``.localCheckpoint(``, ``.persist(``, ``.cache(`` or
    ``.unpersist(`` call in the package or the entry file outside
    operators/rebalance.py. AST scan; starts no Spark."""
    barrier_file = os.path.join(PKG, "operators", "rebalance.py")
    files = glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)
    files.append(os.path.join(REPO, "__spark_entry__.py"))
    attrs = {"localCheckpoint", "persist", "cache", "unpersist"}
    outside = []
    for path in files:
        if path == barrier_file:
            continue
        with open(path) as fh:
            tree = ast.parse(fh.read())
        outside += [
            f"{os.path.relpath(path, REPO)}:{n.lineno} .{n.func.attr}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr in attrs
        ]
    assert not outside, f"barrier calls outside rebalance.py: {outside}"


@pytest.mark.parametrize("outer", [None, "caller's job"])
def test_checkpoint_runs_under_its_label_and_restores_the_caller(
    spark, monkeypatch, outer
):
    sc = spark.sparkContext
    df = spark.range(5)
    seen = []
    real = type(df).localCheckpoint

    def recording(self, *a, **k):
        seen.append(sc.getLocalProperty(DESCRIPTION))
        return real(self, *a, **k)

    monkeypatch.setattr(type(df), "localCheckpoint", recording)
    sc.setLocalProperty(DESCRIPTION, outer)
    try:
        out = checkpoint(df, "test.op.frame")
        assert seen == ["test.op.frame"]
        assert sc.getLocalProperty(DESCRIPTION) == outer
        assert out.count() == 5
    finally:
        sc.setLocalProperty(DESCRIPTION, None)


@pytest.mark.parametrize("outer", [None, "caller's job"])
def test_checkpoint_restores_the_caller_when_it_raises(spark, monkeypatch, outer):
    sc = spark.sparkContext
    df = spark.range(5)

    def failing(self, *a, **k):
        raise RuntimeError("injected checkpoint failure")

    monkeypatch.setattr(type(df), "localCheckpoint", failing)
    sc.setLocalProperty(DESCRIPTION, outer)
    try:
        with pytest.raises(RuntimeError, match="injected"):
            checkpoint(df, "test.op.frame")
        assert sc.getLocalProperty(DESCRIPTION) == outer
    finally:
        sc.setLocalProperty(DESCRIPTION, None)


def test_persisted_releases_on_return_and_on_raise(spark):
    spark.catalog.clearCache()
    with persisted(spark.range(10)) as df:
        assert df.count() == 10
        assert not _cache_empty(spark)
    assert _cache_empty(spark)
    with pytest.raises(RuntimeError, match="injected"):
        with persisted(spark.range(10)) as df:
            df.count()
            raise RuntimeError("injected")
    assert _cache_empty(spark)
