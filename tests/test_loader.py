"""Loader-normalization contract (queries/common.py:load): the round-4
environment break — driver-regenerated parquet switching timestamp
physics — must never reach query code again. Pins:

- timezone-less timestamp[us] parquet (TIMESTAMP_NTZ in Spark) loads
  as plain TIMESTAMP with the instant unchanged (session TZ is UTC);
- TIMESTAMP(NANOS) parquet (read as long under nanosAsLong) loads as
  microsecond TIMESTAMP via the same truncation DuckDB applies;
- loads are memoized per (session, sf_dir, table).
"""

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq

from duckdb_pipeline_spark.queries.common import load

UTC = datetime.timezone.utc


def test_ntz_micros_normalized_to_timestamp(spark, tmp_path):
    t = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(
                [
                    datetime.datetime(2024, 10, 1, 5, 1, 2, 345678),
                    datetime.datetime(2024, 10, 1, 6, 0, 0, 1),
                ],
                pa.timestamp("us"),  # no timezone -> Spark TIMESTAMP_NTZ
            ),
        }
    )
    pq.write_table(t, str(tmp_path / "ev.parquet"))
    df = load(spark, str(tmp_path), "ev")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = sorted(r.ts for r in df.collect())
    # session TZ is UTC: the naive wall-clock IS the instant
    assert got[0].replace(tzinfo=None) == datetime.datetime(2024, 10, 1, 5, 1, 2, 345678)
    assert got[1].replace(tzinfo=None) == datetime.datetime(2024, 10, 1, 6, 0, 0, 1)


def test_nanos_as_long_normalized_to_micros(spark, tmp_path):
    ns = [1_727_757_662_345_678_901, 1_727_761_200_000_000_999]
    t = pa.table({"ts": pa.array(ns, pa.timestamp("ns"))})
    pq.write_table(t, str(tmp_path / "ev.parquet"), coerce_timestamps=None, version="2.6")
    # confirm the file really carries NANOS (else this test is vacuous)
    assert "timestamp[ns]" in str(pq.read_schema(str(tmp_path / "ev.parquet")))
    df = load(spark, str(tmp_path), "ev")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = sorted(r.ts for r in df.collect())
    for g, n in zip(got, sorted(ns)):
        micros = n // 1000  # DuckDB's nanos->micros truncation
        assert g.replace(tzinfo=None) == datetime.datetime.fromtimestamp(
            micros / 1e6, tz=UTC
        ).replace(tzinfo=None)


def test_load_memoized_per_session(spark, sf_dir):
    a = load(spark, sf_dir, "region")
    b = load(spark, sf_dir, "region")
    assert a is b
    c = load(spark, sf_dir, "nation")
    assert c is not a


def test_oracle_compare_catches_mismatches():
    """The differential gate's compare() must flag row-count, column,
    and value mismatches — a harness that passes everything would make
    every green row meaningless (meta-test of the gate itself)."""
    import pandas as pd

    from tests.oracle_check import compare

    a = pd.DataFrame({"x": [1, 2], "y": ["p", "q"]})
    assert compare("t", a, a.copy()) == []
    assert compare("t", a, a.head(1))  # row count
    assert compare("t", a, a.rename(columns={"y": "z"}))  # columns
    b = a.copy()
    b.loc[0, "x"] = 99
    assert compare("t", a, b)  # values
    # order-insensitive: permuted rows are NOT a mismatch
    assert compare("t", a, a.iloc[::-1].reset_index(drop=True)) == []


def test_declared_inventory_counts_match_docs():
    """The documented inventory numbers are parsed OUT OF the docs and
    compared to the code (the round-8/r9 drift lesson, three rounds
    running: a literal pin here let README say 222/219 while the code
    exported 225/222). A deliberate miscount in README.md or the
    newest SURVEY.md inventory line now fails the suite."""
    import os
    import re

    from duckdb_pipeline_spark.queries import PRIORITY, collect_all

    qs = collect_all()
    n_decl = len(qs)
    n_oracle = sum(1 for s in qs.values() if s.oracle is not None)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    readme = open(os.path.join(root, "README.md")).read()
    m = re.search(r"(\d+) declared queries \((\d+) with DuckDB oracles\)", readme)
    assert m, "README.md no longer states the inventory counts"
    assert (int(m.group(1)), int(m.group(2))) == (n_decl, n_oracle), (
        f"README.md says {m.group(1)}/{m.group(2)}, code exports "
        f"{n_decl}/{n_oracle} — update the README"
    )

    survey = open(os.path.join(root, "SURVEY.md")).read()
    # the LAST "Inventory after round N" line is the current claim
    ms = re.findall(
        r"Inventory after round \d+: \*\*(\d+) declared queries\*\*\s*\((\d+) with DuckDB",
        survey,
    )
    assert ms, "SURVEY.md no longer states an inventory line"
    assert (int(ms[-1][0]), int(ms[-1][1])) == (n_decl, n_oracle), (
        f"SURVEY.md newest inventory line says {ms[-1]}, code exports "
        f"{n_decl}/{n_oracle} — update SURVEY.md"
    )
    assert len(PRIORITY) == 50  # the driver's observed window cap


def test_bench_names_declared_and_twin_groups_pinned():
    """Every bench row names a declared query (a deleted headline name
    would otherwise show up only as a missing bench row), and the
    declared names that share one oracle SQL — second plans of one
    semantic query — are exactly the kept groups, so a new twin has to
    be added here on purpose."""
    from collections import defaultdict

    import bench
    from duckdb_pipeline_spark.queries import collect_all

    qs = collect_all()
    missing = [n for n in bench.HEADLINE + bench.EXTRA_QUERIES if n not in qs]
    assert not missing, f"bench rows name undeclared queries: {missing}"

    by_oracle = defaultdict(set)
    for name, spec in qs.items():
        if spec.oracle is not None:
            by_oracle[spec.oracle].add(name)
    groups = {frozenset(g) for g in by_oracle.values() if len(g) > 1}
    assert groups == {
        frozenset({"q3_top_orders", "q3_top_orders_bucketed", "q3_top_orders_plain"}),
        frozenset({"user_sessions_gap30", "user_sessions_gap30_bucketed"}),
        frozenset({"retention_cohorts", "retention_cohorts_bucketed"}),
        frozenset({"funnel_top_paths", "funnel_top_paths_bucketed"}),
        frozenset({"events_markov_transitions", "events_markov_transitions_bucketed"}),
        frozenset({"similarity_ivf_pq_topk", "similarity_ivf_pq_topk_indexed"}),
        frozenset({"dedup_components", "dedup_components_incremental", "dedup_components_star"}),
    }
