"""``SPARK_GRAFT_CPUS`` is parsed in one place, ``session.cpus``: a
malformed or below-1 value must fail loudly, naming the variable,
instead of raising a bare int() error or being coerced to 1."""

from __future__ import annotations

import pytest

from game_data_etl_pipeline_spark.session import cpus


@pytest.mark.parametrize("raw", ["abc", "4.5", "0", "-2"])
def test_cpus_rejects_malformed_or_below_one(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        cpus()


def test_cpus_reads_valid_value_or_defaults(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert cpus() >= 1
