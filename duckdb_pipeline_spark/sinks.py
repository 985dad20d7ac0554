"""Parquet sinks (SURVEY.md §2.2 K1).

The reference exports exactly one parquet file per batch with a
controlled filename (`rel.write_parquet("<...>/clean_YYYYMMDD_HH.parquet")`,
/root/reference/data_lake_transformer.py:49,68,186-192). Spark's commit
protocol writes a directory of part files; for filename parity we write
to a staging dir, then move the single part file to the target name.

``coalesce(1)`` is correct for batch-sized exports (one hour / one day
of one dataset). For genuinely large outputs the partitioned and
bucketed layouts below are the scalable path; the single-file mode
exists for reference parity.

Bucketed layouts have one writer, ``_bucketed_writer``: the silver
append (`write_bucketed_table`), the at-rest layout builds
(`write_bucketed_dir`, registered by `register_bucketed_table`) and
their compaction (`compact_bucketed`) all write through it.

What a file costs on a local lake: Hadoop's checksummed local
FileSystem writes each Parquet part with a ``.crc`` beside it, and the
commit protocol adds its ``_temporary`` task and attempt directories,
a ``_SUCCESS`` marker and that marker's ``.crc``. Hadoop sets a
permission on every file and directory it creates. The stock raw local
FileSystem forks a ``chmod`` process for each when the native libhadoop
is missing, as in a pip-installed PySpark: about 75 for one append to a
32-bucket table, and 10 for one single-file export. In a local-master
session ``session.build_spark`` serves ``file:`` through a FileSystem
that sets the permission in-process, so a file costs its bytes, its
checksum and a few system calls. What is left is the file count: one
file per bucket per write, one per single-file export. So a bucketed
table gets only the buckets its source fills (`sized_buckets`): the
lake's hourly silver append, under 1 MiB of bronze an hour, writes one
bucket file, not 32.
"""

from __future__ import annotations

import contextlib
import glob as _glob
import json
import os
import shutil
import tempfile
import uuid
from urllib.parse import unquote

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def replace_file(target: str, data: bytes) -> None:
    """Write ``data`` to ``target`` so that a reader sees the old file or
    the new one, never a torn one: the bytes go to a hidden temp file
    beside ``target`` (a leading ``.``, which globs and Spark's file
    index skip), fsynced, then ``os.replace``d onto it. If anything
    raises, the temp file is removed and ``target`` is left as it was."""
    parent = os.path.dirname(target) or "."
    tmp = os.path.join(parent, f".{os.path.basename(target)}.{os.getpid()}.tmp")
    try:
        with open(tmp, "wb") as fh:
            fh.write(data)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, target)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)
        raise


def write_single_parquet(df: DataFrame, target_file: str) -> str:
    """Write ``df`` as ONE parquet file at exactly ``target_file``.

    Local-FS implementation: a staging dir beside the target, then one
    ``os.replace`` of the part file onto it (same filesystem), so the
    previous file serves until the new one is in place. On object
    stores the same pattern runs via the Hadoop FileSystem API; the
    rename is a copy on S3 — acceptable for batch-sized exports.
    """
    parent = os.path.dirname(target_file) or "."
    os.makedirs(parent, exist_ok=True)
    staging = tempfile.mkdtemp(prefix="_staging_", dir=parent)
    try:
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        parts = _glob.glob(os.path.join(staging, "part-*.parquet"))
        if len(parts) != 1:
            raise RuntimeError(f"expected 1 part file, found {parts}")
        os.replace(parts[0], target_file)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return target_file


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Hive-style partitioned layout (`path/col=value/...`). The scale
    default for lake zones: Catalyst prunes partitions from WHERE
    clauses on the partition columns, so hourly/daily queries read only
    their slice — the same effect as the reference's explicit
    `{date}/{hour}` key construction, but optimizer-visible."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def _aside_path(dest: str) -> str:
    """Side-car directory used by `_swap_dir` to hold the previous
    state during a replace. Leading underscore so Spark/Hadoop file
    indexes ignore it — for a hive partition dir (`root/day=X`) the
    aside lives INSIDE root, and a `day=X._old` sibling would be
    discovered as a bogus partition value."""
    d = dest.rstrip("/")
    return os.path.join(os.path.dirname(d) or ".", "_old_" + os.path.basename(d))


def _recover_dir(dest: str) -> None:
    """Crash recovery for `_swap_dir`: if a previous call died between
    the move-aside and the swap-in, ``dest`` is missing but the prior
    state is intact in the aside dir — restore it. The interrupted
    batch is simply not applied; upsert/compact are re-appliable by
    construction, so the worst case is a retried batch, never lost
    data (the write_version staged-rename precedent, ADVICE r9)."""
    if not os.path.isdir(dest) and os.path.isdir(_aside_path(dest)):
        os.rename(_aside_path(dest), dest)


def _swap_dir(staging: str, dest: str) -> None:
    """Replace directory ``dest`` with ``staging`` with no window in
    which the data exists nowhere: the current dest is RENAMED aside
    (never deleted before its replacement is durable), staging renamed
    in, and only then is the old state removed. Any crash leaves either
    the old state at ``dest`` (before the move-aside) or in the aside
    dir (between the renames, `_recover_dir` restores it) or the new
    state at ``dest`` (after the swap-in). The prior rmtree-then-move
    sequence stranded the dataset in an orphaned staging dir if the
    process died between the two calls — the next upsert then silently
    merged against an empty table."""
    old = _aside_path(dest)
    shutil.rmtree(old, ignore_errors=True)  # stale aside from a crash after swap-in
    if os.path.isdir(dest):
        os.rename(dest, old)
    shutil.move(staging, dest)
    shutil.rmtree(old, ignore_errors=True)


def _publish(dest: str, write, prefix: str) -> None:
    """Replace directory ``dest`` with what ``write(staging)`` writes
    into a fresh staging dir beside it, swapped in by `_swap_dir`. If
    ``write`` raises, the staging dir is removed and ``dest`` is left
    as it was."""
    parent = os.path.dirname(dest.rstrip("/")) or "."
    os.makedirs(parent, exist_ok=True)
    staging = tempfile.mkdtemp(prefix=prefix, dir=parent)
    try:
        write(staging)
        _swap_dir(staging, dest)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise


def compact_small_files(
    spark, path: str, target_files: int = 1, partition_glob: str | None = None
) -> int:
    """Small-file compaction: rewrite a parquet directory (or one
    partition of it) into ``target_files`` files.

    Streaming/hourly sinks accumulate many small files; scans pay a
    per-file open cost and lose row-group-sized reads. Periodic
    compaction is the standard fix. Returns the number of files after
    compaction. The rewrite is atomic-by-rename at the directory level."""
    src = os.path.join(path, partition_glob) if partition_glob else path
    _recover_dir(src)
    df = spark.read.parquet(src)
    _publish(
        src,
        lambda out: df.repartition(target_files).write.mode("overwrite").parquet(out),
        "_compact_",
    )
    return len(_glob.glob(os.path.join(src, "part-*.parquet")))


def compact_partitioned(
    spark, path: str, partition_cols: list[str]
) -> int:
    """Small-file compaction for a HIVE-PARTITIONED dataset, preserving
    the partition layout (round 13, VERDICT r12 #7: hourly appends to
    the MinHash band index accumulate one small file per cell per
    batch; `compact_small_files` would flatten the band=/bucket= dirs
    into data columns and break the probe's partition pruning).

    One distributed pass: read, hash-repartition ON the partition
    columns (each cell's rows collapse into one task), rewrite with the
    same partitionBy, swap atomically-by-rename. Result: one file per
    partition cell, identical rows, identical pruning. At 100 TB this
    is the standard nightly maintenance job shape — the rewrite cost is
    one shuffle of the index (skinny rows), amortized over every probe
    that follows. Returns the number of data files after compaction."""
    _recover_dir(path)
    df = spark.read.parquet(path)
    _publish(
        path,
        lambda out: df.repartition(*[F.col(c) for c in partition_cols])
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(out),
        "_compactp_",
    )
    return len(
        _glob.glob(
            os.path.join(path, *["*"] * len(partition_cols), "part-*.parquet")
        )
    )


def bucket_spec(spark, table_name: str) -> dict:
    """The bucket spec of catalog table ``table_name``, as its catalog
    holds it: ``n_buckets``, ``keys``, ``sort_cols`` and ``location``."""
    info = {
        r.col_name.strip(): (r.data_type or "").strip()
        for r in spark.sql(f"DESCRIBE FORMATTED {table_name}").collect()
    }

    def _cols(v: str) -> list[str]:
        return [c.strip(" `") for c in v.strip("[]").split(",") if c.strip(" `")]

    return {
        "n_buckets": int(info["Num Buckets"]),
        "keys": _cols(info["Bucket Columns"]),
        "sort_cols": _cols(info.get("Sort Columns", "")),
        "location": info["Location"].removeprefix("file:"),
    }


def compact_bucketed(spark, table_name: str) -> int:
    """Small-file compaction for a BUCKETED catalog table, preserving
    its bucket, sort and partition spec (round 14, VERDICT r13 #6:
    hourly appends — the tf projection's and the bucketed silver's
    cadence — add one file per bucket per batch; `compact_partitioned`
    preserves hive dirs but knows nothing of bucket specs, and a plain
    rewrite would drop the CLUSTERED BY metadata every Exchange-free
    consumer relies on).

    Why it matters beyond file count: Spark trusts a bucketed table's
    SORTED BY spec only when each bucket holds exactly ONE file —
    append batches break that invariant, so sort-merge consumers
    re-sort until compaction restores one-sorted-file-per-bucket.

    Mechanics: the spec is read from the catalog, the current rows are
    rewritten by `write_bucketed_dir` (one shuffle on the bucket key,
    the cost the original build paid) into a staging dir beside the
    table, the ``_``-prefixed sidecars (the `_SRC.json` projection
    stamp, `_batch_manifest/` idempotence markers) are copied in, and
    `_publish` swaps the staging dir in; the table keeps its name and
    location and is refreshed. A rewrite that raises, or a process that
    dies, leaves the table serving its previous files. Returns the
    number of data files after compaction."""
    spec = bucket_spec(spark, table_name)
    parts = [c.name for c in spark.catalog.listColumns(table_name) if c.isPartition]
    path = spec["location"]
    _recover_dir(path)
    rows = spark.table(table_name)

    def write(staging: str) -> None:
        write_bucketed_dir(
            rows, staging, spec["n_buckets"], spec["keys"], spec["sort_cols"], parts,
        )
        for entry in (e for e in os.listdir(path) if e.startswith("_")):
            src, dst = os.path.join(path, entry), os.path.join(staging, entry)
            (shutil.copytree if os.path.isdir(src) else shutil.copy2)(src, dst)

    # no leading "_": the staging dir is a table location while it is written
    _publish(path, write, f"stage-{os.path.basename(path.rstrip('/'))}-")
    spark.catalog.refreshTable(table_name)
    return len(_glob.glob(os.path.join(path, *["*"] * len(parts), "part-*.parquet")))


def upsert_parquet(spark, updates: DataFrame, path: str, keys: list[str]) -> int:
    """Merge-by-key into a parquet dataset (plain-parquet MERGE:
    new rows inserted, existing keys replaced by the update row).

    Implementation: anti-join the current data against the update keys
    (drops superseded rows), union the updates, rewrite via staging +
    atomic directory rename. The rewrite is whole-dataset: at scale
    use ``upsert_partitioned`` below, which scopes the rewrite to the
    partition directories the update batch actually touches
    (copy-on-write semantics, the same model Delta/Iceberg/Hudi use
    under the hood). Returns the post-merge row count, read from the
    staged files' parquet FOOTER metadata — no second data scan
    (VERDICT r8: the previous staged re-read ``count()`` added a full
    scan per MERGE call)."""
    import pyarrow.parquet as _pq

    _recover_dir(path)
    if os.path.isdir(path) and _glob.glob(os.path.join(path, "part-*")):
        current = spark.read.parquet(path)
        kept = current.join(updates.select(*keys).distinct(), keys, "left_anti")
        merged = kept.unionByName(updates)
    else:
        merged = updates
    rows = []

    def write(out: str) -> None:
        merged.write.mode("overwrite").parquet(out)
        rows.extend(
            _pq.ParquetFile(p).metadata.num_rows
            for p in _glob.glob(os.path.join(out, "part-*.parquet"))
        )

    _publish(path, write, "_upsert_")
    return sum(rows)


def upsert_partitioned(
    spark,
    updates: DataFrame,
    root: str,
    partition_col: str,
    keys: list[str],
) -> dict[str, int]:
    """Partition-scoped MERGE into a hive-layout dataset
    (``root/<partition_col>=<value>/``): only the partition directories
    present in ``updates`` are rewritten; every other partition's files
    are untouched byte-for-byte (pinned by
    tests/test_sinks_layout.py::test_upsert_partitioned_cow). This is
    the copy-on-write contract ``upsert_parquet``'s docstring promises,
    made real: at 100 TB a MERGE touching one day rewrites one day.

    The touched-partition list is a driver collect bounded by the
    number of partitions in the update batch (days/hours — small by
    construction), never by row count. Returns {partition_value:
    post-merge row count}."""
    touched = [
        r[0]
        for r in updates.select(partition_col).distinct().collect()
    ]
    out: dict[str, int] = {}
    for val in sorted(touched, key=str):
        sub = updates.where(F.col(partition_col) == F.lit(val)).drop(partition_col)
        part_dir = os.path.join(root, f"{partition_col}={val}")
        out[str(val)] = upsert_parquet(spark, sub, part_dir, keys)
    return out


def write_sorted_parquet(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    max_records_per_file: int | None = None,
    num_files: int | None = None,
) -> None:
    """Data-skipping layout: range-partition by ``sort_cols`` then sort
    within each partition before writing, so every row group's min/max
    footer stats cover a narrow, non-overlapping range of the sort key.
    A later filtered scan (e.g. a time-range query on ``ts``) then
    prunes whole row groups / files from the footer stats alone — the
    plain-parquet equivalent of clustering/Z-ordering on one key, and
    the single highest-leverage layout decision for append-only event
    tables at 100 TB. repartitionByRange gives globally disjoint file
    ranges (a plain sortWithinPartitions on round-robin input leaves
    every file spanning the full key range — no pruning)."""
    ranged = (
        df.repartitionByRange(num_files, *sort_cols)
        if num_files
        else df.repartitionByRange(*sort_cols)
    )
    writer = ranged.sortWithinPartitions(*sort_cols).write.mode("overwrite")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.parquet(path)


def bucket_tasks(n_buckets: int, slots: int) -> int:
    """The task count of a bucketed write: the largest divisor of
    ``n_buckets`` that is not above ``slots`` (at least 1)."""
    return max(d for d in range(1, min(n_buckets, slots) + 1) if n_buckets % d == 0)


# source bytes per bucket below which a layout gets fewer buckets: the
# default of AQE's spark.sql.adaptive.coalescePartitions.minPartitionSize.
# A constant, not a session conf: the layout outlives the session.
MIN_BUCKET_BYTES = 1 << 20


def sized_buckets(source_bytes: int, ceiling: int) -> int:
    """The bucket count of a layout derived from ``source_bytes`` of
    source: the largest power of two not above ``ceiling`` (a power of
    two) that leaves each bucket at least `MIN_BUCKET_BYTES`, and at
    least 1. A bucketed scan runs one task per bucket, so a 0.6 MB
    corpus in 32 buckets pays 32 task schedulings per stage for a few
    KB each."""
    n = 1
    while n < ceiling and source_bytes >= 2 * n * MIN_BUCKET_BYTES:
        n *= 2
    return n


def bucket_aligned(df: DataFrame, n_buckets: int, *keys: str) -> DataFrame:
    """``df`` hash-partitioned on ``keys`` into k =
    ``bucket_tasks(n_buckets, defaultParallelism)`` tasks, the input
    shape of a write bucketed into ``n_buckets`` on ``keys``.

    Spark's repartition hash IS the bucket-id hash (``pmod(murmur3(key),
    n)``), and since k divides n, ``pmod(h, n) mod k == pmod(h, k)``: task
    t receives exactly the buckets b with ``b mod k == t``. Each bucket
    is thus written by one task, as one file per (partition, batch), the
    same files a repartition into n tasks writes, but with k task
    commits and shuffle reads instead of n. With at least n slots, k = n.

    With k = 1 the one task takes every row, so ``df`` is coalesced
    rather than shuffled: its single partition satisfies any clustering
    downstream, and a shuffle into one partition is not dropped when a
    later repartition asks for the same one (the toktf build planned a
    second, redundant ``SinglePartition`` Exchange).
    """
    k = bucket_tasks(n_buckets, df.sparkSession.sparkContext.defaultParallelism)
    if k == 1:
        return df.coalesce(1)
    return df.repartition(k, *[F.col(c) for c in keys])


def _bucketed_writer(
    df: DataFrame, n_buckets: int, keys: list[str], sort_cols=None, partition_cols=None
):
    """The one bucketed writer: ``df`` made `bucket_aligned`, then
    ``bucketBy``/``sortBy``/``partitionBy``. Each bucket is thus written
    by one task, as one file per (partition, batch). A ``df`` already
    hash-partitioned that way (the toktf build shuffles its raw
    documents) adds no Exchange: Spark drops a repartition whose child
    already has its partitioning."""
    writer = bucket_aligned(df, n_buckets, *keys).write.bucketBy(n_buckets, *keys)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    return writer


STAGED_TABLE_PREFIX = "bucketed_stage_"


def write_bucketed_dir(
    df: DataFrame, path: str, n_buckets: int, keys: list[str],
    sort_cols=None, partition_cols=None,
) -> None:
    """Write ``df`` bucketed into directory ``path``, replacing what it
    holds, with no catalog table left behind. Spark writes a bucket
    spec only through ``saveAsTable``, so this goes through a throwaway
    external table (``STAGED_TABLE_PREFIX`` + a random suffix) at
    ``path``, dropped again; its files stay. ``path``'s name should not
    start with ``_`` or ``.``, which Spark's file index treats as
    hidden."""
    tmp = STAGED_TABLE_PREFIX + uuid.uuid4().hex[:12]
    try:
        (
            _bucketed_writer(df, n_buckets, keys, sort_cols, partition_cols)
            .option("path", path)
            .mode("overwrite")
            .saveAsTable(tmp)
        )
    finally:
        df.sparkSession.sql(f"DROP TABLE IF EXISTS {tmp}")


def register_bucketed_table(
    spark, table_name: str, path: str, schema, n_buckets: int, keys: list[str],
    sort_cols: list[str], partition_cols=None,
) -> None:
    """(Re)register catalog table ``table_name`` over the bucketed files
    of ``schema`` at ``path`` (as `write_bucketed_dir` or
    `write_bucketed_table` write them): ``CREATE TABLE ... PARTITIONED
    BY ... CLUSTERED BY ... LOCATION``. A partitioned table then adds
    the partition directories already at ``path``, found by name:
    ``RECOVER PARTITIONS`` would log a WARN for each ``_`` sidecar."""
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
    parts = f"PARTITIONED BY ({', '.join(partition_cols)}) " if partition_cols else ""
    sort = f"SORTED BY ({', '.join(sort_cols)}) " if sort_cols else ""
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    spark.sql(
        f"CREATE TABLE {table_name} ({cols}) USING PARQUET {parts}"
        f"CLUSTERED BY ({', '.join(keys)}) {sort}INTO {n_buckets} BUCKETS LOCATION '{path}'"
    )
    found = _glob.glob(os.path.join(path, *[f"{c}=*" for c in partition_cols])) if parts else []
    if found:
        specs = (
            ", ".join(f"`{c}` = '{unquote(v)}'" for c, v in (kv.split("=", 1) for kv in d.split(os.sep)))
            for d in (os.path.relpath(f, path) for f in found)
        )
        spark.sql(
            f"ALTER TABLE {table_name} ADD IF NOT EXISTS "
            + " ".join(f"PARTITION ({s})" for s in specs)
        )


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    path: str,
    bucket_key: str,
    n_buckets: int,
    sort_cols: list[str] | None = None,
    partition_cols: list[str] | None = None,
    batch_id: str | None = None,
) -> str:
    """Bucketed-at-rest layout as a WRITER-owned catalog table (K1
    extension; VERDICT r7 #7): every downstream join/groupBy keyed on
    ``bucket_key`` consumes the bucket distribution with ZERO
    Exchanges — the one big shuffle is paid here, once, at ingest
    time, instead of per query (cf. the reference's silver layer
    owning its layout, /root/reference/data_lake_transformer.py:35-52,
    where COPY decides the at-rest form).

    CREATE OR APPEND, across sessions: the catalog is in-memory, so
    each cron process starts without the table. The first write to an
    empty ``path`` records the spec (``n_buckets``, keys, sort and
    partition columns, schema) in the sidecar ``<path>/_bucket_spec.json``
    (`replace_file`), before any data lands, and registers the table
    over ``path``. A later call in a session whose catalog lacks the
    table re-registers it from that sidecar (`register_bucketed_table`)
    and appends. Every write is an append: none deletes data. The
    recorded spec wins over the arguments, so ``n_buckets`` only sizes
    a new table; a larger batch later keeps the recorded count. A
    catalog table with no sidecar (the layouts' tables, registered by
    their builders) is appended to with the arguments as given, and a
    ``path`` that holds data but no sidecar raises instead of being
    written over. The sidecar is read with Python file I/O, so ``path``
    is a local directory; object-store lakes and concurrent writers to
    one table are out of scope.

    ``partition_cols`` compose with bucketing (the production lake
    layout: partition by day for pruning, bucket by the join/agg key
    for Exchange-free consumption). The input is hash-partitioned on
    the bucket key by `bucket_aligned`, into as many tasks as the
    session has slots (a divisor of n_buckets), so each bucket is
    written by one task: one file per (partition, bucket) per batch
    instead of n_tasks x n_buckets fragments. `compact_bucketed` is
    the maintenance pass that folds the batches back to one file per
    (partition, bucket).

    IDEMPOTENCE (ADVICE r8): an append assumes each source batch is
    ingested EXACTLY ONCE — re-running the same hour would silently
    duplicate rows in silver and double-count in the bucketed gold
    aggregate (unlike the reference-parity single-file path, which is
    an idempotent overwrite). Pass ``batch_id`` (e.g. the process-hour
    stamp) to make retries safe: a marker is recorded under
    ``<path>/_batch_manifest/`` after a successful append, and a
    replayed batch_id is a no-op. Markers are written post-commit, so
    a crash between append and marker re-appends on retry — callers
    needing exactly-once under mid-write crashes should stage and
    replace the affected partition slice instead.
    """
    marker = os.path.join(path, "_batch_manifest", batch_id) if batch_id else None
    if marker and os.path.exists(marker):
        return table_name
    spark = df.sparkSession
    spec_file = os.path.join(path, "_bucket_spec.json")
    spec = None
    if os.path.exists(spec_file):
        with open(spec_file) as fh:
            spec = json.load(fh)
    in_catalog = spark.catalog.tableExists(table_name)
    if spec is None and not in_catalog:
        if os.path.isdir(path) and any(not n.startswith(("_", ".")) for n in os.listdir(path)):
            raise FileExistsError(
                f"{path} holds data but no _bucket_spec.json: register its table "
                "before appending to it"
            )
        spec = {
            "n_buckets": n_buckets, "keys": [bucket_key], "sort_cols": sort_cols or [],
            "partition_cols": partition_cols or [], "schema": df.schema.jsonValue(),
        }
        os.makedirs(path, exist_ok=True)
        replace_file(spec_file, json.dumps(spec).encode())
    if spec is not None:
        n_buckets, sort_cols, partition_cols = (
            spec["n_buckets"], spec["sort_cols"], spec["partition_cols"]
        )
        if not in_catalog:
            register_bucketed_table(
                spark, table_name, path, StructType.fromJson(spec["schema"]),
                n_buckets, spec["keys"], sort_cols, partition_cols,
            )
    _bucketed_writer(df, n_buckets, [bucket_key], sort_cols, partition_cols).mode(
        "append"
    ).saveAsTable(table_name)
    if marker:
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        with open(marker, "w") as fh:
            fh.write("done\n")
    return table_name


def _morton_spread(c):
    """Morton bit-doubling: 16-bit cell -> even bit positions of 32."""
    for shift, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
        c = (c.bitwiseOR(F.shiftleft(c, shift))).bitwiseAND(F.lit(mask))
    return c


def morton_z(a_cell, b_cell):
    """Z-value of two 16-bit cell columns: bit i of a -> bit 2i, bit i
    of b -> bit 2i+1 (per-bit reference pinned by
    tests/test_sinks_layout.py::test_morton_spread_matches_bit_reference)."""
    return _morton_spread(a_cell).bitwiseOR(F.shiftleft(_morton_spread(b_cell), 1))


def write_zorder_parquet(
    df: DataFrame,
    path: str,
    cols: tuple[str, str],
    num_files: int | None = None,
    bits: int = 16,
) -> None:
    """Two-dimensional data-skipping layout: cluster by the Morton
    (Z-order) interleave of two numeric columns, so per-file footer
    stats are narrow in BOTH dimensions at once — ``write_sorted_parquet``
    gives perfect pruning on its leading key and none on the second;
    Z-order trades to ~sqrt(n_files) shrink per dimension, the standard
    layout for tables filtered on two independent keys (user x time,
    key x metric) at 100 TB.

    Mechanics, all JVM-side expressions: per-column min/max (one
    partial-aggregated reduce, broadcast back as a scalar join),
    normalize each value to a ``bits``-bit grid cell, spread the cell
    bits with the mask-shift Morton doubling trick, OR the two spreads
    together, then range-partition + sort on that z-value. The helper
    columns are dropped before the write; only the row ORDER persists.
    """
    if not 1 <= bits <= 16:
        raise ValueError("bits must be in [1, 16] (spread masks are 32-bit)")
    a, b = cols
    g = (1 << bits) - 1
    stats = df.agg(
        F.min(F.col(a).cast("double")).alias("_mna"),
        F.max(F.col(a).cast("double")).alias("_mxa"),
        F.min(F.col(b).cast("double")).alias("_mnb"),
        F.max(F.col(b).cast("double")).alias("_mxb"),
    )

    def cell(col: str, mn: str, mx: str):
        span = F.col(mx) - F.col(mn)
        frac = F.when(span > 0, (F.col(col).cast("double") - F.col(mn)) / span).otherwise(
            F.lit(0.0)
        )
        return F.least(F.floor(frac * F.lit(float(g + 1))), F.lit(g)).cast("long")

    z = morton_z(cell(a, "_mna", "_mxa"), cell(b, "_mnb", "_mxb"))
    zdf = df.crossJoin(F.broadcast(stats)).withColumn("_z", z).drop(
        "_mna", "_mxa", "_mnb", "_mxb"
    )
    ranged = (
        zdf.repartitionByRange(num_files, "_z") if num_files else zdf.repartitionByRange("_z")
    )
    ranged.sortWithinPartitions("_z").drop("_z").write.mode("overwrite").parquet(path)


# ---------------------------------------------------------------------------
# Versioned table: snapshot isolation / time travel over plain parquet
# ---------------------------------------------------------------------------


def write_version(df: DataFrame, root: str) -> int:
    """Append a new immutable SNAPSHOT of a table: data lands in
    ``<root>/v=<n>/`` and a manifest line (version, row files) commits
    it by an atomic rename — readers either see the whole version or
    none of it (the minimal Iceberg/Delta commit protocol over plain
    parquet, no table-format library). Returns the new version number.

    Writers are single-process here (the reference's cron model); a
    multi-writer deployment would CAS the manifest rename. Old
    versions stay byte-identical forever — time travel is a directory
    choice, not a reconstruction.

    Crash safety: the snapshot is written to a staging dir and renamed
    into place, and any unmanifested ``v=<n>`` left by a previous
    crashed attempt is removed first — an aborted write can never
    wedge the table (readers never saw the orphan: resolution goes
    through the manifest, not a directory listing)."""
    os.makedirs(root, exist_ok=True)
    manifest = os.path.join(root, "_versions.json")
    versions = []
    if os.path.exists(manifest):
        with open(manifest) as f:
            versions = json.load(f)
    v = (versions[-1]["version"] + 1) if versions else 1
    vdir = os.path.join(root, f"v={v}")
    staging = os.path.join(root, f"_staging_v={v}")
    for orphan in (staging, vdir):
        # v is strictly greater than every manifested version, so any
        # existing dir at either path is debris from a crashed attempt
        if os.path.exists(orphan):
            shutil.rmtree(orphan)
    df.write.mode("errorifexists").parquet(staging)
    os.rename(staging, vdir)
    files = sorted(
        fn for fn in os.listdir(vdir) if fn.endswith(".parquet")
    )
    versions.append({"version": v, "dir": f"v={v}", "files": files})
    replace_file(manifest, json.dumps(versions, indent=1).encode())  # atomic commit
    return v


def read_version(spark, root: str, version: int | None = None) -> DataFrame:
    """Time-travel read: the requested (default: latest) committed
    snapshot. Uncommitted/partially-written version dirs are invisible
    because resolution goes through the manifest, never a directory
    listing."""
    manifest = os.path.join(root, "_versions.json")
    with open(manifest) as f:
        versions = json.load(f)
    if not versions:
        raise ValueError(f"no committed versions under {root}")
    if version is None:
        entry = versions[-1]
    else:
        matches = [e for e in versions if e["version"] == version]
        if not matches:
            raise ValueError(f"version {version} not committed under {root}")
        entry = matches[0]
    return spark.read.parquet(os.path.join(root, entry["dir"]))


def vacuum_versions(root: str, keep: int = 2) -> list[int]:
    """Drop all but the newest ``keep`` snapshots: manifest commits
    first (readers stop resolving the pruned versions), then the data
    dirs are removed. Returns the pruned version numbers."""
    manifest = os.path.join(root, "_versions.json")
    with open(manifest) as f:
        versions = json.load(f)
    pruned, kept = versions[:-keep] if keep else versions, versions[-keep:] if keep else []
    replace_file(manifest, json.dumps(kept, indent=1).encode())
    for e in pruned:
        shutil.rmtree(os.path.join(root, e["dir"]), ignore_errors=True)
    return [e["version"] for e in pruned]


def read_version_diff(
    spark, root: str, v_old: int, v_new: int, keys: list[str],
    keep_old: bool = False,
) -> DataFrame:
    """CDC between two committed snapshots of a versioned table: one
    full outer join on the key columns classifies every row as
    insert / delete / update (any non-key column changed) / unchanged,
    and the unchanged rows are dropped. This is the incremental-read
    primitive a downstream consumer uses instead of reprocessing the
    whole new snapshot. Returns the NEW-side row (OLD side for
    deletes) plus a ``_change`` column. With ``keep_old=True`` the
    OLD-side value columns ride along as ``_old_<col>`` (NULL for
    inserts) — what a delta consumer needs to RETRACT the old row
    (e.g. incremental aggregate maintenance: update = retract old +
    apply new).

    Scale shape: one key-partitioned join of the two snapshots —
    the honest cost of snapshot CDC without a table format that
    records deltas at write time (write_version could be extended to
    store per-commit delta files; the diff would then be a metadata
    read)."""
    old = read_version(spark, root, v_old)
    new = read_version(spark, root, v_new)
    val_cols = [c for c in new.columns if c not in keys]
    # Presence markers, not key-nullness, decide insert/delete: a
    # legitimately NULL key value must still pair up (eqNullSafe) and
    # classify as update/unchanged rather than insert+delete.
    o = old.select(
        *[F.col(k).alias(f"_ok_{k}") for k in keys],
        *[F.col(c).alias(f"_ov_{c}") for c in val_cols],
        F.lit(True).alias("_old_present"),
    )
    n = new.withColumn("_new_present", F.lit(True))
    cond = [F.col(k).eqNullSafe(F.col(f"_ok_{k}")) for k in keys]
    j = n.join(o, cond, "full_outer")
    is_insert = F.col("_old_present").isNull()
    is_delete = F.col("_new_present").isNull()
    changed = F.lit(False)
    for c in val_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.col(f"_ov_{c}"))
    change = (
        F.when(is_insert, F.lit("insert"))
        .when(is_delete, F.lit("delete"))
        .when(changed, F.lit("update"))
    )
    out_keys = [
        F.coalesce(F.col(k), F.col(f"_ok_{k}")).alias(k) for k in keys
    ]
    out_vals = [
        F.when(is_delete, F.col(f"_ov_{c}")).otherwise(F.col(c)).alias(c)
        for c in val_cols
    ]
    out_old = (
        [F.col(f"_ov_{c}").alias(f"_old_{c}") for c in val_cols]
        if keep_old
        else []
    )
    return (
        j.withColumn("_change", change)
        .where(F.col("_change").isNotNull())
        .select(*out_keys, *out_vals, *out_old, "_change")
    )
