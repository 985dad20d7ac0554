"""Data-profiling queries (queries/relational4.py): internal consistency
of the per-column profile. Oracle parity is covered by the driver
protocol (tests/oracle_check.py)."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def test_profile_table_summary_consistency(spark):
    from duckdb_pipeline_spark.queries.relational4 import profile_table_summary

    rows = {r["col_name"]: r for r in profile_table_summary(spark, SF_SMOKE).collect()}
    assert set(rows) == {"doc_id", "text", "lang", "source", "n_chars"}
    n = {r["n_rows"] for r in rows.values()}
    assert len(n) == 1, "every column profiles the same row count"
    doc = rows["doc_id"]
    assert doc["n_nulls"] == 0
    assert doc["n_distinct"] == doc["n_rows"], "doc_id is a key"
    assert rows["lang"]["n_distinct"] <= 30
