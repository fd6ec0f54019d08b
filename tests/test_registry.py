"""Gate registry contract, checked without a Spark session: a gate is
declared once as a module-level ``q_<gate>`` callable, discovered by
that name, and paired with exactly one DuckDB oracle."""

from __future__ import annotations

import hashlib

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


# sha256 over the sorted (name, sql) pairs of oracle_sql(); the oracles
# are the gates' contract, so this changes only with a deliberate
# contract change
ORACLE_SQL_SHA256 = (
    "228f50fbd02bfafd42a4c4d831809946b0a5c7c0458c2109007459ada0d10e05"
)


def test_oracle_sql_digest_is_pinned():
    h = hashlib.sha256()
    for name, sql in sorted(entry.oracle_sql().items()):
        h.update(f"{name}\0{sql}\0".encode())
    assert h.hexdigest() == ORACLE_SQL_SHA256, (
        "oracle SQL changed: an oracle change is a contract change; "
        "record it in CHANGES.md and re-pin ORACLE_SQL_SHA256"
    )
