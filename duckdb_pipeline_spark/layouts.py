"""At-rest layouts: the one location scheme, stamp contract and publish
path for every derived layout the queries keep under ``.scratch/``.

A layout (bucketed table, cell-partitioned index, versioned table, ...)
is derived from source tables of a corpus dir, written once per corpus
version and read many times. A builder names its ``kind``, the source
tables, a JSON ``spec`` of everything else the layout depends on and a
``build(staging_dir)`` body; :func:`ensure` does the rest.

Location: ``.scratch/<kind>/<label>`` with ``label =
sha256(abspath(sf_dir))[:12]``, so two corpus dirs never share a layout
and the path is stable across sessions. A ``kind`` may place the label
itself with ``{label}`` (``bucketed/{label}/orders``,
``toktf/{label}_unicode``).

Stamp contract, checked on every call: the marker (``_SRC.json``,
written last inside the layout directory) records the spec, the
engine's code fingerprint (a sha256 over the package's ``.py`` files,
taken once per process), the (size, mtime_ns, ctime_ns) of every
source data file, and a sha256 over the files' names and bytes.

- spec, code and file signatures equal: fresh, no hashing of sources
  (the warm path is one ``stat`` per source file and one marker read);
- spec and code equal, signatures moved: hash the sources; an equal
  hash only restamps (a touched, byte-identical file);
- anything else: the session's caches of the sources are invalidated
  (``queries.common.invalidate_source``) and the layout is rebuilt.

No userland rewrite can restore ``ctime``, so a same-size rewrite whose
mtime was put back still reaches the hash.

Publish: ``build`` writes into a ``mkdtemp`` staging directory beside
the target (``stage-<name>-*``, a name Spark reads), the marker is
written into it, and ``sinks._publish`` swaps it in. A build that
raises (or a process that dies) mid-build leaves the previous layout
and its marker serving.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os

from . import sinks

MARKER = "_SRC.json"

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")


def label(sf_dir: str) -> str:
    """The corpus dir's layout label (also part of catalog table names)."""
    return hashlib.sha256(os.path.abspath(sf_dir).encode()).hexdigest()[:12]


def location(kind: str, sf_dir: str) -> str:
    """The layout directory of ``kind`` for the corpus at ``sf_dir``."""
    lb = label(sf_dir)
    rel = kind.format(label=lb) if "{label}" in kind else os.path.join(kind, lb)
    return os.path.join(SCRATCH, rel)


def _data_files(sf_dir: str, sources) -> list[str]:
    """Sorted data files of each source table: the file itself, or the
    visible files under a parquet directory written by Spark."""
    out = []
    for name in sources:
        p = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.isdir(p):
            out += sorted(
                os.path.join(r, f)
                for r, _, fs in os.walk(p)
                for f in fs
                if not f.startswith(("_", "."))
            )
        else:
            out.append(p)
    return out


def source_bytes(sf_dir: str, sources) -> int:
    """Total size of the data files of ``sources`` (table names in
    ``sf_dir``), the files :func:`ensure` stamps."""
    return sum(os.path.getsize(f) for f in _data_files(sf_dir, sources))


def _content_hash(sf_dir: str, files: list[str]) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, sf_dir).encode() + b"\0")
        with open(f, "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()


@functools.cache
def code_fingerprint() -> str:
    """sha256 over the names and bytes of the package's ``.py`` files:
    an edit to any builder makes every layout stale."""
    pkg = os.path.dirname(os.path.abspath(__file__))
    files = sorted(os.path.join(r, f) for r, _, fs in os.walk(pkg) for f in fs if f.endswith(".py"))
    return _content_hash(pkg, files)


def _write_marker(path: str, stamp: dict) -> None:
    sinks.replace_file(os.path.join(path, MARKER), json.dumps(stamp).encode())


def ensure(spark, kind: str, sf_dir: str, sources, spec: dict, build) -> str:
    """Return the layout directory of ``kind`` for ``sf_dir``, first
    building it with ``build(staging_dir)`` unless the marker proves it
    current for ``sources`` (table names in ``sf_dir``) and ``spec``."""
    path = location(kind, sf_dir)
    spec = json.loads(json.dumps(spec))  # the form the marker holds
    files = _data_files(sf_dir, sources)
    sig = []
    for f in files:
        st = os.stat(f)
        sig.append([os.path.relpath(f, sf_dir), st.st_size, st.st_mtime_ns, st.st_ctime_ns])
    try:
        with open(os.path.join(path, MARKER)) as fh:
            old = json.load(fh)
    except (OSError, ValueError):
        old = None
    code = code_fingerprint()
    same_spec = old is not None and old.get("spec") == spec and old.get("code") == code
    if same_spec and old.get("files") == sig:
        return path
    digest = _content_hash(sf_dir, files)
    if same_spec and old.get("sha256") == digest:
        _write_marker(path, {**old, "files": sig})
        return path

    from .queries.common import invalidate_source  # queries imports this module

    for name in sources:
        invalidate_source(spark, sf_dir, name)

    def publish(staging: str) -> None:
        build(staging)
        _write_marker(staging, {"spec": spec, "code": code, "files": sig, "sha256": digest})

    # no leading "_" or ".": bucketed builds point a catalog table at the
    # staging dir, and Spark's file index ignores such names as hidden
    sinks._publish(path, publish, f"stage-{os.path.basename(path)}-")
    return path


def ensure_bucketed(
    spark, tname: str, kind: str, sf_dir: str, sources, spec: dict, make_df,
    n_buckets: int, key: str, sort_cols: list[str],
) -> str:
    """:func:`ensure` for ``make_df()`` written into ``n_buckets``
    buckets on ``key``, sorted by ``sort_cols``, by
    ``sinks.write_bucketed_dir`` and served as catalog table ``tname``,
    which is returned. After a build, or in a session that has not
    seen it, ``tname`` is registered at the published path by
    ``sinks.register_bucketed_table``."""
    spec = {**spec, "n_buckets": n_buckets, "key": key, "sort": list(sort_cols)}
    built = []

    def build(staging: str) -> None:
        df = make_df()
        sinks.write_bucketed_dir(df, staging, n_buckets, [key], sort_cols)
        built.append(df.schema)

    path = ensure(spark, kind, sf_dir, sources, spec, build)
    if built or not spark.catalog.tableExists(tname):
        schema = built[0] if built else spark.read.parquet(path).schema
        sinks.register_bucketed_table(spark, tname, path, schema, n_buckets, [key], sort_cols)
    return tname
