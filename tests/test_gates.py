"""Every driver gate at sf0.001: each ``queries()`` entry on the session
Spark against its ``oracle_sql()`` on DuckDB — row count, column names
and value hash, through the compare ``tools/check_gate.py`` runs."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from tools.check_gate import compare, oracle_connection

SF_DIR = "/root/testdata/sf0.001"
QUERIES = entry.queries()


@pytest.fixture(scope="module")
def oracles():
    # the tile_merge oracle embeds a remap computed from this variable's
    # dir when oracle_sql() is built
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("SPARK_GRAFT_CORRECTNESS_DIR", SF_DIR)
        return entry.oracle_sql()


@pytest.fixture(scope="module")
def con():
    c = oracle_connection(SF_DIR)
    yield c
    c.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_gate_matches_oracle(spark, con, oracles, name):
    # emb_near_dup leaves whole-stage codegen off for its collect
    whole_stage = spark.conf.get("spark.sql.codegen.wholeStage")
    try:
        r = compare(spark, con, SF_DIR, QUERIES[name], oracles[name])
    finally:
        spark.conf.set("spark.sql.codegen.wholeStage", whole_stage)
    assert r["ok"], r


def test_broken_tile_merge_oracle_raises(monkeypatch):
    """An error in the tile_merge oracle's walk fails ``oracle_sql()``;
    swallowing it would drop the key and leave the gate a rows-only
    check.  Only a missing correctness fixture omits the key."""
    def broken_walk(counts, zoom, node_limit):
        raise RuntimeError("broken walk")

    monkeypatch.setenv("SPARK_GRAFT_CORRECTNESS_DIR", SF_DIR)
    monkeypatch.setattr(entry, "_oracle_zoom_walk", broken_walk)
    with pytest.raises(RuntimeError, match="broken walk"):
        entry.oracle_sql()
    monkeypatch.setenv("SPARK_GRAFT_CORRECTNESS_DIR", "/nonexistent/sf")
    assert "tile_merge" not in entry.oracle_sql()
