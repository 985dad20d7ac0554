#!/usr/bin/env python3
"""Plan-only audit: for every declared query, planned at a given scale
dir, flag BroadcastExchange nodes whose build subtree reaches a raw
FileScan or InMemoryTableScan BEFORE any aggregation — i.e. Spark is
broadcasting a corpus-sized relation because the static planner's
post-persist/post-join size estimates are garbage. This is the exact
failure class the sf10 sweep surfaced twice in round 10:
`dedup_jaccard_prefix` died building a broadcast of the full shingle
table, and `text_unigram_xent` silently broadcast its 16M-row tf
relation (41 s -> 10 s once pinned). Near-plan-only: SKIP_PREFIXES
excludes the queries that execute real work during DataFrame
CONSTRUCTION (quadratic kernels, iterative trainer collects, greedy
selection loops, persisted-state builders), so what remains runs at
most bounded plan-build actions (stamp checks, tiny .first() probes).

A broadcast whose subtree aggregates first (vocab tables, stats rows,
group-cardinality relations) is fine and not flagged. Declared
bounded-relation broadcasts (dims, centroids, codebooks, probe spines)
aggregate or filter-to-keys first, so they pass the same test.

Raw-FileScan broadcasts are NOT flagged by default (--strict includes
them): the planner's size estimate for a bare file scan IS the file
size, so the decision self-limits — the same query at 100x volume
demotes to a shuffle join automatically (verified: the q3/q5 slim-spine
and dimension-probe broadcasts all sit under the configured 64 MB
threshold by actual size). The dangerous class is broadcasts fed by a
CACHED relation (InMemoryTableScan): persisted-relation estimates are
unreliable enough that both round-10 incidents were this shape.

Usage: python scripts/audit_broadcasts.py [sf_dir] [name_csv]
Prints one line per flagged (query, broadcast) and a summary.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# relations small by construction at any corpus size: dims, and the
# driver's bounded lookup tables
_BOUNDED_SCANS = ("region", "nation", "supplier")

# these queries EXECUTE (quadratic kernels, iterative trainer collects,
# greedy selection rounds, cold persisted-state builds) during
# DataFrame CONSTRUCTION, so "plan-only" doesn't hold for them;
# their broadcasts are centroids/codebooks/blocks, reviewed by hand
SKIP_PREFIXES = (
    "knn_",
    "similarity_neardup_blocked",
    "dedup_embedding_cosine",
    "similarity_adc_topk_np",
    "embedding_gram",
    "embedding_sim_calibration",
    "multimodal_",
    "ann_recall_clustered",
    "bpe_",
    "kmeans_",
    "quality_logreg_train",
    "graph_pagerank",
    # round-11 (ADVICE r10): these also execute at construction —
    # search_mmr_topk runs its full greedy collect loop,
    # search_hybrid_rrf fetches the query row (.first()), and the
    # _ensure_*-backed incremental queries build persisted state
    # (component labels, versioned table) on a cold cache
    "search_mmr_topk",
    "search_hybrid_rrf",
    "dedup_components_incremental",
    "mv_incremental_maintain",
    "snapshot_drift_report",
    "snapshot_cdc_diff",
    "read_version_pinned",
    # round-12: lands the base corpus + builds/appends the tf
    # projection at construction (the incremental-protocol shape); its
    # one broadcast is the duplicate guard's distinct batch-id side,
    # batch-bounded by construction
    "toktf_append_equals_rebuild",
    # round-13: lands the planted-twin corpus + builds the unicode-tier
    # tf projection at construction (same incremental-protocol shape as
    # toktf_append); the served fold is the vocab_top_tokens plan, which
    # the audit covers via that query
    "vocab_top_tokens_unicode",
)


def _indent(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-*"))


def flagged_broadcasts(plan: str, strict: bool = False) -> list[str]:
    lines = plan.splitlines()
    hits = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        base = _indent(ln)
        # walk the subtree under this exchange
        agg_seen = False
        for nxt in lines[i + 1:]:
            if _indent(nxt) <= base and nxt.strip():
                break
            s = nxt.strip()
            if "HashAggregate" in s or "SortAggregate" in s or "ObjectHashAggregate" in s:
                agg_seen = True
            if ("FileScan" in s or "InMemoryTableScan" in s or "Scan ExistingRDD" in s):
                if agg_seen:
                    break
                if not strict and "InMemoryTableScan" not in s:
                    break  # raw-scan broadcast: size estimate is real
                if any(f"/{t}.parquet" in s or f"{t}." in s[:60] for t in _BOUNDED_SCANS):
                    break
                hits.append(s[:120])
                break
    return hits


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--strict"]
    strict = "--strict" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/repo/.scratch/sf10"
    only = set(args[1].split(",")) if len(args) > 1 else None

    import __spark_entry__ as entrymod
    from duckdb_pipeline_spark.session import build_spark

    spark = build_spark(
        "audit-broadcasts",
        master="local[16]",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    qs = entrymod.queries()
    n_flag = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if any(name.startswith(p) for p in SKIP_PREFIXES):
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # noqa: BLE001 — audit must visit all
            print(f"SKIP {name}: {type(ex).__name__}: {str(ex)[:120]}")
            continue
        for h in flagged_broadcasts(plan, strict):
            n_flag += 1
            print(f"FLAG {name}: broadcast of unaggregated scan -> {h}")
        spark.catalog.clearCache()
    print(f"\n{n_flag} flagged broadcasts")


if __name__ == "__main__":
    main()
