"""Schema-level contract guard: every registered oracle's column NAMES
must match its Spark query's columns (the driver sorts columns by name
before hashing — an alias drift fails the round even when values are
right). Runs plan-only: no Spark action, DuckDB LIMIT 0 — seconds for
the whole registry, vs minutes for full value validation."""

from __future__ import annotations

import json
import re
from pathlib import Path

import duckdb
import pytest

from taxi_trips_etl_spark.queries import all_oracles, all_queries

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def ddb(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def test_every_oracle_schema_matches_spark(spark, sf_dir, ddb):
    oracles = all_oracles()
    queries = all_queries()
    mismatches = []
    for name, sql in oracles.items():
        try:
            spark_cols = sorted(queries[name](spark, sf_dir).columns)
        except Exception as e:  # building the lazy DF must never fail
            mismatches.append(f"{name}: spark build error: {e}")
            continue
        try:
            oracle_cols = sorted(
                ddb.sql(f"SELECT * FROM ({sql}) LIMIT 0").columns
            )
        except Exception as e:
            mismatches.append(f"{name}: oracle parse error: {e}")
            continue
        if spark_cols != oracle_cols:
            mismatches.append(
                f"{name}: spark={spark_cols} oracle={oracle_cols}"
            )
    assert not mismatches, "\n".join(mismatches)


def test_rotation_bookkeeping_names_exist():
    """A typo in _REVERIFY silently breaks the rotation (the name would
    front nothing) — every name in it must be a registered query."""
    from taxi_trips_etl_spark.queries._registry import _QUERIES, _REVERIFY

    ghosts = sorted(set(_REVERIFY) - set(_QUERIES))
    assert not ghosts, f"_REVERIFY names not registered: {ghosts}"


# --- verification rotation (derived from the committed CORRECTNESS files) --

ROOT = Path(__file__).resolve().parents[1]


def _rotation_key(name: str) -> int:
    from taxi_trips_etl_spark.queries._registry import _LAST_GREEN, _REVERIFY

    return 0 if name in _REVERIFY else _LAST_GREEN.get(name, 0)


def test_last_green_is_highest_hash_green_round():
    from taxi_trips_etl_spark.queries._registry import _LAST_GREEN, _QUERIES

    rounds = {
        int(m.group(1)): json.loads(p.read_text())
        for p in ROOT.glob("CORRECTNESS_r*.json")
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name))
    }
    assert rounds, "no CORRECTNESS_r*.json next to the package"
    wrong = {}
    for name in _QUERIES:
        expected = next(
            (r for r in sorted(rounds, reverse=True)
             if rounds[r].get(name, {}).get("hash_match") is True),
            0,
        )
        if _LAST_GREEN.get(name, 0) != expected:
            wrong[name] = (_LAST_GREEN.get(name, 0), expected)
    assert not wrong, f"name: (derived, expected) {wrong}"


def test_rotation_window_holds_the_stalest_names():
    order = list(all_queries())
    assert order == list(all_oracles())
    window, rest = order[:50], order[50:]
    assert max(map(_rotation_key, window)) <= min(map(_rotation_key, rest))


def test_rotation_ties_break_by_name():
    order = list(all_queries())
    for a, b in zip(order, order[1:]):
        assert _rotation_key(a) <= _rotation_key(b)
        if _rotation_key(a) == _rotation_key(b):
            assert a < b, (a, b)


def test_rotation_without_correctness_files_is_by_name(tmp_path, monkeypatch):
    from taxi_trips_etl_spark.queries import _registry

    monkeypatch.setattr(_registry, "_ROOT", tmp_path)
    monkeypatch.setattr(_registry, "_LAST_GREEN", _registry._last_green_rounds())
    assert _registry._LAST_GREEN == {}
    order = list(all_queries())
    assert {_rotation_key(n) for n in order} == {0}
    assert order == sorted(order)


def test_loader_counts_only_hash_green_rows(tmp_path, monkeypatch):
    from taxi_trips_etl_spark.queries import _registry

    def row(hash_match):
        return {"rows_match": True, "schema_match": True, "hash_match": hash_match}

    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps(
        {"a": row(True), "b": row(True), "c": row(True)}))
    (tmp_path / "CORRECTNESS_r10.json").write_text(json.dumps(
        {"a": row(True), "b": row(None), "c": row(False), "d": row(None)}))
    monkeypatch.setattr(_registry, "_ROOT", tmp_path)
    assert _registry._last_green_rounds() == {"a": 10, "b": 2, "c": 2}
