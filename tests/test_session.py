"""SPARK_GRAFT_CPUS parsing (no Spark session needed)."""

import pytest

from mape_calculation_and_anonymization_spark.session import resolve_cpus


@pytest.mark.parametrize(
    "value, expected", [("", None), ("*", None), ("1", 1), ("32", 32)]
)
def test_resolve_cpus_env(monkeypatch, value, expected):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    assert resolve_cpus() == expected


def test_resolve_cpus_unset_means_all_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert resolve_cpus() is None


def test_resolve_cpus_explicit_argument_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "bogus")
    assert resolve_cpus(8) == 8
    assert resolve_cpus("*") is None


@pytest.mark.parametrize("value", ["0", "-2", "four", "2.5", " 4", "8*"])
def test_resolve_cpus_rejects_invalid(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        resolve_cpus()
