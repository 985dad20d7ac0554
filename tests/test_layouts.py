"""The at-rest layout contract (`duckdb_pipeline_spark/layouts.py`),
checked for every layout kind the queries build, each on a private copy
of the smoke corpus: a content change the file's size and mtime hide
still rebuilds, a byte-identical touch does not, a warm call hashes
nothing, a spec change rebuilds, and a build that fails leaves the
previous layout serving with no staging or aside directory behind.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from duckdb_pipeline_spark import layouts, sinks
from duckdb_pipeline_spark.queries import bucketed, dedup, pipeline, similarity, tokcache

TABLES = ("customer", "documents", "embeddings", "events", "lineitem", "orders")

# kind -> (builder, catalog table name or None)
KINDS = {
    "bucketed_orders": (
        lambda s, d: bucketed._ensure_bucketed(s, d, "orders"),
        lambda d: bucketed.cache_location(d, "orders")[0],
    ),
    "bucketed_lineitem": (
        lambda s, d: bucketed._ensure_bucketed(s, d, "lineitem"),
        lambda d: bucketed.cache_location(d, "lineitem")[0],
    ),
    "bucketed_events": (
        lambda s, d: bucketed._ensure_bucketed(s, d, "events"),
        lambda d: bucketed.cache_location(d, "events")[0],
    ),
    "toktf": (tokcache._ensure_doc_tf, lambda d: tokcache.cache_location(d)[0]),
    "toktf_unicode": (
        lambda s, d: tokcache._ensure_doc_tf(s, d, "unicode"),
        lambda d: tokcache.cache_location(d, "unicode")[0],
    ),
    "ivf": (lambda s, d: similarity._ensure_ivf_index(s, d, n_cells=8), None),
    "ivfprobe": (lambda s, d: similarity._ensure_probe_index(s, d, n_cells=8), None),
    "ivfpq": (similarity._ensure_ivfpq_index, None),
    "bandidx": (dedup._ensure_band_index, None),
    "cclabels": (dedup._ensure_component_labels, None),
    "versioned_cust": (pipeline._ensure_versioned_customers, None),
    "versioned_cust_vac": (pipeline._ensure_vacuumed_customers, None),
}

_WRITE = dict(compression="none", use_dictionary=False, write_statistics=False)


class Layout:
    """One kind's builder over a private corpus, with the arguments of
    the `layouts.ensure` call it makes recorded."""

    def __init__(self, spark, kind: str, corpus: str):
        self.spark, self.corpus = spark, corpus
        self.builder, tname = KINDS[kind]
        self.tname = tname(corpus) if tname else None
        self.call = None

    def ensure(self):
        self.builder(self.spark, self.corpus)
        return self.call["path"]

    def data_files(self) -> dict[str, int]:
        """Data file -> mtime_ns (sidecars and the marker excluded)."""
        root = self.call["path"]
        out = {}
        for r, _, fs in os.walk(root):
            for f in fs:
                rel = os.path.relpath(os.path.join(r, f), root)
                if not any(p.startswith(("_", ".")) for p in rel.split(os.sep)):
                    out[rel] = os.stat(os.path.join(root, rel)).st_mtime_ns
        return out

    def marker(self):
        with open(os.path.join(self.call["path"], layouts.MARKER)) as fh:
            return json.load(fh)

    def sources(self) -> list[str]:
        return [os.path.join(self.corpus, f"{t}.parquet") for t in self.call["sources"]]

    def assert_no_debris(self) -> None:
        parent, name = os.path.split(self.call["path"])
        assert not glob.glob(os.path.join(parent, f"stage-{name}-*"))
        assert not os.path.exists(os.path.join(parent, f"_old_{name}"))


@pytest.fixture(params=sorted(KINDS))
def layout(request, spark, sf_dir, tmp_path, monkeypatch):
    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)
    # uncompressed, dictionary- and statistics-free: a row permutation
    # then rewrites a table with different bytes of the same size
    for t in TABLES:
        pq.write_table(pq.read_table(os.path.join(sf_dir, f"{t}.parquet")),
                       os.path.join(corpus, f"{t}.parquet"), **_WRITE)
    lay = Layout(spark, request.param, corpus)
    real = layouts.ensure

    def recording(spark_, kind, sf_dir, sources, spec, build):
        path = real(spark_, kind, sf_dir, sources, spec, build)
        lay.call = dict(kind=kind, sources=list(sources), spec=spec, build=build, path=path)
        return path

    monkeypatch.setattr(layouts, "ensure", recording)
    lay.real_ensure = real
    yield lay
    if lay.tname:
        spark.sql(f"DROP TABLE IF EXISTS {lay.tname}")
    if lay.call:
        shutil.rmtree(lay.call["path"], ignore_errors=True)
        # the bucketed kinds' layouts sit in a per-corpus label dir
        # (`bucketed/<label>/<table>`); drop it once it is empty
        if "{label}/" in lay.call["kind"]:
            with contextlib.suppress(OSError):
                os.rmdir(os.path.dirname(lay.call["path"]))


def _rewrite_same_size(path: str) -> None:
    """Reverse the rows: new bytes, same size, mtime put back."""
    st = os.stat(path)
    t = pq.read_table(path)
    pq.write_table(t.take(pa.array(range(t.num_rows - 1, -1, -1))), path, **_WRITE)
    assert os.path.getsize(path) == st.st_size
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))


def test_same_size_rewrite_with_mtime_restored_rebuilds(layout):
    layout.ensure()
    before = layout.data_files()
    for src in layout.sources():
        _rewrite_same_size(src)
    layout.ensure()
    assert layout.data_files() != before
    layout.assert_no_debris()


def test_identical_touch_does_not_rebuild(layout):
    layout.ensure()
    before, stamp = layout.data_files(), layout.marker()
    for src in layout.sources():
        os.utime(src)
    layout.ensure()
    assert layout.data_files() == before
    after = layout.marker()
    assert after["sha256"] == stamp["sha256"] and after["files"] != stamp["files"]


def test_warm_call_computes_no_hash(layout, monkeypatch):
    layout.ensure()
    before = layout.data_files()

    def no_hash(*a, **k):
        raise AssertionError("warm call hashed its sources")

    monkeypatch.setattr(layouts, "_content_hash", no_hash)
    layout.ensure()
    assert layout.data_files() == before


def test_spec_change_rebuilds(layout):
    layout.ensure()
    before = layout.data_files()
    c = layout.call
    layout.real_ensure(layout.spark, c["kind"], layout.corpus, c["sources"],
                       {**c["spec"], "n_cells": -1}, c["build"])
    changed = layout.data_files()
    assert changed != before
    # the builder's own spec is a mismatch again: rebuilt, and served
    layout.ensure()
    assert layout.data_files() not in (before, changed)
    if layout.tname:
        assert layout.spark.table(layout.tname).count() > 0
    layout.assert_no_debris()


def test_failed_build_leaves_previous_layout_serving(layout):
    layout.ensure()
    before, stamp = layout.data_files(), layout.marker()
    rows = layout.spark.table(layout.tname).count() if layout.tname else None
    c = layout.call

    def crashing(out: str) -> None:
        c["build"](out)
        assert os.listdir(out)  # the staging dir holds a partial layout
        raise RuntimeError("build died")

    with pytest.raises(RuntimeError, match="build died"):
        layout.real_ensure(layout.spark, c["kind"], layout.corpus, c["sources"],
                           {**c["spec"], "n_cells": -1}, crashing)
    assert layout.data_files() == before and layout.marker() == stamp
    layout.assert_no_debris()
    if layout.tname:
        assert layout.spark.table(layout.tname).count() == rows
        assert not [t for t in layout.spark.catalog.listTables()
                    if t.name.startswith(sinks.STAGED_TABLE_PREFIX)]
    # and it still serves warm
    layout.ensure()
    assert layout.data_files() == before


def test_code_change_rebuilds(spark, tmp_path, monkeypatch):
    """A layout built by other engine code, or stamped before the
    marker carried the code fingerprint, is rebuilt once."""
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    pq.write_table(pa.table({"x": [1]}), corpus / "t.parquet")
    monkeypatch.setattr(layouts, "SCRATCH", str(tmp_path / "scratch"))
    builds = []

    def build(staging: str) -> None:
        builds.append(staging)
        with open(os.path.join(staging, "data"), "w") as fh:
            fh.write(str(len(builds)))

    def ensure() -> str:
        return layouts.ensure(spark, "codefp", str(corpus), ["t"], {"v": 1}, build)

    path = ensure()
    assert ensure() == path and len(builds) == 1
    monkeypatch.setattr(layouts, "code_fingerprint", lambda: "edited")
    ensure()
    assert len(builds) == 2 and ensure() == path and len(builds) == 2
    with open(os.path.join(path, "data")) as fh:
        assert fh.read() == "2"
    with open(os.path.join(path, layouts.MARKER)) as fh:
        stamp = json.load(fh)
    assert stamp.pop("code") == "edited"
    sinks.replace_file(os.path.join(path, layouts.MARKER), json.dumps(stamp).encode())
    ensure()
    assert len(builds) == 3 and ensure() == path and len(builds) == 3
