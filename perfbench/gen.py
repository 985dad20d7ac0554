"""Seeded ``lake_day`` input: gharchive-shaped bronze, one ``.json.gz``
per hour of the day, sized by a seeded diurnal curve, plus the expected
gold computed by DuckDB running the reference SQL over the same files.
Written under the benchmark's work directory and cached there by (seed,
hours, peak size, this file's source), so generation never falls inside
a timed region and a change to the generator never reuses old inputs.

The query workloads read no generated input: they read the committed
copy of the engine's sf0.1 ``documents`` table in ``data/sf0.1``.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
from datetime import datetime, timedelta

import numpy as np

LAKE_DAY = datetime(2024, 10, 1)
_EVENT_TYPES = ["PushEvent", "WatchEvent", "IssuesEvent", "PullRequestEvent",
                "CreateEvent", "ForkEvent", "IssueCommentEvent", "DeleteEvent"]
# one gharchive record; ``payload``, the actor URLs and ``public`` are the
# extra nested fields the pinned schema prunes at parse time
_RECORD = (
    '{{"id":{eid},"type":"{etype}","actor":{{"id":{aid},"login":"user{aid}",'
    '"display_login":"user{aid}","gravatar_id":"","url":"https://api.github.com/users/user{aid}",'
    '"avatar_url":"https://avatars.githubusercontent.com/u/{aid}?"}},'
    '"repo":{{"id":{rid},"name":"org{org}/repo{rid}","url":"https://api.github.com/repos/org{org}/repo{rid}"}},'
    '"payload":{{"push_id":{push},"size":{size},"ref":"refs/heads/main",'
    '"commits":[{{"sha":"{eid:040x}","message":"update","distinct":true}}]}},'
    '"public":true,"created_at":"{ts}"}}'
)


def hour_sizes(seed: int, peak_events: int) -> list[int]:
    """Seeded diurnal curve over the 24 hours: a cosine peaking at 14:00
    UTC with ``peak_events`` events, the quietest hour a tenth of that,
    each hour jittered by up to 3% by the seed (so seeds change the
    records, not the amount of work)."""
    rng = np.random.default_rng(seed)
    h = np.arange(24)
    shape = 1.0 + 0.818 * np.cos(2 * np.pi * (h - 14) / 24)  # max/min = 10
    shape *= rng.uniform(0.97, 1.03, 24)
    return [int(x) for x in np.round(shape / shape.max() * peak_events)]


def _hour_lines(rng, first_id: int, n: int, hour: datetime) -> tuple[list[str], int]:
    """``n`` JSON lines, about 1% of them truncated right after a comma:
    broken JSON with no open string, so a line-based reader loses
    exactly that line. Returns the lines and the count of valid ones."""
    rids = np.minimum(rng.zipf(1.3, n), 3000)
    aids = rng.integers(1, 20_000, n)
    types = rng.integers(0, len(_EVENT_TYPES), n)
    secs = rng.integers(0, 3600, n)
    sizes = rng.integers(1, 5, n)
    broken = rng.random(n) < 0.01
    cut = rng.random(n)
    lines = []
    for i in range(n):
        eid = first_id + i
        line = _RECORD.format(
            eid=eid, etype=_EVENT_TYPES[types[i]], aid=aids[i], rid=rids[i], org=rids[i] % 97,
            push=eid * 7, size=sizes[i],
            ts=(hour + timedelta(seconds=int(secs[i]))).strftime("%Y-%m-%dT%H:%M:%SZ"))
        if broken[i]:
            commas = [j for j, c in enumerate(line) if c == ","]
            line = line[: commas[int(cut[i] * len(commas))] + 1]
        lines.append(line)
    return lines, int(n - broken.sum())


def lake_day(out_dir: str, seed: int, hours: list[int], peak_events: int) -> dict:
    """Write one ``.json.gz`` of bronze per hour in ``hours``, sized by
    ``hour_sizes``, and the DuckDB reference gold over them. Returns the
    manifest: per-hour file, line counts and bytes, and the gold path."""
    manifest_path = os.path.join(out_dir, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            return json.load(fh)
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed + 7919)
    sizes = hour_sizes(seed, peak_events)
    out = []
    eid = seed * 10_000_000
    for h in hours:
        ts = LAKE_DAY + timedelta(hours=h)
        lines, good = _hour_lines(rng, eid, sizes[h], ts)
        eid += sizes[h]
        path = os.path.join(out_dir, f"{ts:%Y-%m-%d}-{h}.json.gz")
        with gzip.open(path, "wt", compresslevel=6) as fh:
            fh.write("\n".join(lines) + "\n")
        out.append({"hour": h, "file": path, "lines": len(lines), "valid": good,
                    "bytes": os.path.getsize(path)})
    gold = os.path.join(out_dir, "expected_gold.parquet")
    _reference_gold([x["file"] for x in out], gold)
    manifest = {"seed": seed, "peak_events": peak_events, "hours": out,
                "expected_gold": gold}
    with open(manifest_path + ".tmp", "w") as fh:
        json.dump(manifest, fh)
    os.replace(manifest_path + ".tmp", manifest_path)
    return manifest


def source_digest() -> str:
    """Hash of this file, part of the input cache key."""
    with open(__file__, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:12]


def _reference_gold(files: list[str], out: str) -> None:
    """The reference pipeline in DuckDB, unchanged: ``read_json_auto(...,
    ignore_errors=true)``, the clean projection, then the daily
    ``GROUP BY ALL`` roll-up. DuckDB turns each broken line into an
    all-NULL row where Spark's DROPMALFORMED drops it, so this gold
    holds one all-NULL group that the engine's gold does not; the check
    accounts for it (``lake.LakeDay._check``)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        con.execute("SET TimeZone = 'UTC'")
        src = "[" + ", ".join(f"'{f}'" for f in files) + "]"
        con.execute(f"""
            COPY (
              WITH raw AS (
                SELECT * FROM read_json_auto({src}, ignore_errors = true,
                                             format = 'newline_delimited')
              ), clean AS (
                SELECT id AS event_id, actor.id AS user_id, actor.login AS user_name,
                       actor.display_login AS user_display_name, type AS event_type,
                       repo.id AS repo_id, repo.name AS repo_name, repo.url AS repo_url,
                       created_at AS event_date
                FROM raw
              )
              SELECT event_type, repo_id, repo_name, repo_url,
                     CAST(DATE_TRUNC('day', CAST(event_date AS TIMESTAMP)) AS DATE) AS event_date,
                     count(*) AS event_count
              FROM clean GROUP BY ALL
            ) TO '{out}' (FORMAT parquet)""")
    finally:
        con.close()
