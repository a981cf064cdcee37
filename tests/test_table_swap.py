"""In-place table rewrites: every one commits through
``sources/sinks.py:replace_dir`` (stage beside the live directory,
swap by two renames, restore on any failure), so a failed rewrite
leaves the original table readable and no staging sibling behind."""

import ast
import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from mape_calculation_and_anonymization_spark.sources import sinks
from mape_calculation_and_anonymization_spark.sources.sinks import (
    compact_parquet,
    replace_dir,
)
from mape_calculation_and_anonymization_spark.streaming import upsert
from mape_calculation_and_anonymization_spark.streaming.upsert import (
    merge_partial_aggregate,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "mape_calculation_and_anonymization_spark")


def test_directory_swaps_are_written_once():
    """No ``os.rename`` or ``shutil.move`` call in operators/, sources/
    or streaming/ outside ``replace_dir``. AST scan; starts no Spark."""
    outside = []
    for sub in ("operators", "sources", "streaming"):
        for path in glob.glob(os.path.join(PKG, sub, "*.py")):
            with open(path) as fh:
                tree = ast.parse(fh.read())
            allowed = set()
            for node in tree.body:
                if isinstance(node, ast.FunctionDef) and node.name == "replace_dir":
                    allowed.update(id(n) for n in ast.walk(node))
            outside += [
                f"{os.path.relpath(path, REPO)}:{n.lineno}"
                for n in ast.walk(tree)
                if isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and isinstance(n.func.value, ast.Name)
                and (n.func.value.id, n.func.attr)
                in {("os", "rename"), ("shutil", "move")}
                and id(n) not in allowed
            ]
    assert outside == []


def _write(d, name, text):
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as fh:
        fh.write(text)


def _read_all(d):
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name)) as fh:
            out[name] = fh.read()
    return out


def test_replace_dir_swaps_and_returns_the_build_result(tmp_path):
    table = str(tmp_path / "t")
    _write(table, "old", "v0")
    assert replace_dir(table, lambda stage: _write(stage, "new", "v1") or 7) == 7
    assert _read_all(table) == {"new": "v1"}
    assert os.listdir(tmp_path) == ["t"]
    # no live directory yet: the stage simply becomes the table
    fresh = str(tmp_path / "fresh")
    replace_dir(fresh, lambda stage: _write(stage, "a", "1"))
    assert _read_all(fresh) == {"a": "1"}


def _raising_build(stage):
    _write(stage, "half", "x")
    raise RuntimeError("injected build failure")


def _failing_second_rename(monkeypatch):
    real = os.rename

    def rename(src, dst):
        if ".__new_" in os.fspath(src):
            raise OSError("injected rename failure")
        return real(src, dst)

    monkeypatch.setattr(os, "rename", rename)


def test_replace_dir_restores_the_table_on_failure(tmp_path, monkeypatch):
    table = str(tmp_path / "t")
    _write(table, "old", "v0")
    with pytest.raises(RuntimeError, match="injected build"):
        replace_dir(table, _raising_build)
    assert _read_all(table) == {"old": "v0"}
    assert os.listdir(tmp_path) == ["t"]

    _failing_second_rename(monkeypatch)
    with pytest.raises(OSError, match="injected rename"):
        replace_dir(table, lambda stage: _write(stage, "new", "v1"))
    assert _read_all(table) == {"old": "v0"}
    assert os.listdir(tmp_path) == ["t"]


def _rows(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def _inject(monkeypatch, module, failure):
    """Make the staged write raise after it wrote (``build``), or the
    rename of the stage onto the table fail (``second_rename``)."""
    if failure == "build":
        real = module.write_parquet_snappy

        def write_then_raise(df, path):
            real(df, path)
            raise RuntimeError("injected build failure")

        monkeypatch.setattr(module, "write_parquet_snappy", write_then_raise)
    else:
        _failing_second_rename(monkeypatch)


@pytest.mark.parametrize("failure", ["build", "second_rename"])
def test_failed_compaction_keeps_the_table(spark, tmp_path, monkeypatch, failure):
    path = str(tmp_path / "frag")
    spark.range(200).withColumn("k", F.col("id") % 7).repartition(8).write.parquet(
        path
    )
    before = _rows(spark, path)
    files = sorted(os.listdir(path))
    _inject(monkeypatch, sinks, failure)
    with pytest.raises((RuntimeError, OSError), match="injected"):
        compact_parquet(spark, path)
    assert sorted(os.listdir(path)) == files
    assert _rows(spark, path) == before
    assert os.listdir(tmp_path) == ["frag"]


@pytest.mark.parametrize("failure", ["build", "second_rename"])
def test_failed_merge_keeps_the_running_aggregate(
    spark, tmp_path, monkeypatch, failure
):
    table = str(tmp_path / "agg")
    batch = spark.createDataFrame(
        [("click", 1.0), ("view", 2.5), ("click", 4.0)], ["event_type", "value"]
    )
    merge_partial_aggregate(batch, table)
    before = _rows(spark, table)
    assert before == [("click", 2, 5.0), ("view", 1, 2.5)]
    _inject(monkeypatch, upsert, failure)
    with pytest.raises((RuntimeError, OSError), match="injected"):
        merge_partial_aggregate(batch, table)
    assert _rows(spark, table) == before
    assert os.listdir(tmp_path) == ["agg"]
    monkeypatch.undo()
    merge_partial_aggregate(batch, table)
    assert _rows(spark, table) == [("click", 4, 10.0), ("view", 2, 5.0)]


def test_delete_keys_name_clash_fails_and_keeps_the_table(
    spark, tmp_path, monkeypatch
):
    """An untouched file whose name is already in the stage raises
    instead of being dropped; the table keeps all its rows."""
    path = str(tmp_path / "t")
    spark.range(100).select(
        "id", (F.col("id") % 10).alias("user_id")
    ).repartition(4, "user_id").write.parquet(path)
    before = _rows(spark, path)
    keys = spark.createDataFrame([(3,)], ["user_id"])
    real = sinks.write_parquet_snappy

    def write_then_clash(df, stage):
        real(df, stage)
        # a readable copy of one untouched part under its own name
        name = next(
            n
            for n in sorted(os.listdir(path))
            if n.startswith("part-") and not os.path.exists(os.path.join(stage, n))
        )
        shutil.copyfile(os.path.join(path, name), os.path.join(stage, name))

    monkeypatch.setattr(sinks, "write_parquet_snappy", write_then_clash)
    with pytest.raises(FileExistsError):
        sinks.delete_keys(spark, path, keys)
    assert _rows(spark, path) == before
    assert os.listdir(tmp_path) == ["t"]
