"""Gate registry contract, checked without a Spark session: a gate is
declared once as a module-level ``q_<gate>`` callable, discovered by
that name, and paired with exactly one DuckDB oracle."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from semargl_spark import queries, queries_events


def _gate(spark, sf_dir):
    return None


def test_queries_and_oracles_name_the_same_285_gates():
    names = entry.queries().keys()
    assert len(names) == 285
    assert names == entry.oracle_sql().keys()


def test_gate_without_oracle_makes_registry_raise(monkeypatch):
    monkeypatch.setattr(queries_events, "q_planted_gate", _gate, raising=False)
    with pytest.raises(RuntimeError, match="planted_gate"):
        queries.registry()
    with pytest.raises(RuntimeError, match="planted_gate"):
        queries.oracles()


def test_oracle_without_gate_makes_registry_raise(monkeypatch):
    monkeypatch.setitem(queries_events.ORACLES, "orphan_gate", "SELECT 1")
    with pytest.raises(RuntimeError, match="orphan_gate"):
        queries.registry()

