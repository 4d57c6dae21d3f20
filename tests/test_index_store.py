"""The index store: commit and GC of staged files, settings in the
manifest, the per-route write lock, and the one-time adoption of a
route's old ``_settings.json``. The commit tests need no Spark session."""

from __future__ import annotations

import json
import os
import sys
import threading
import uuid

import pytest
from pyspark.sql import types as T
from pyspark.sql.readwriter import DataFrameWriter

from opensearch_dynamodb_etl_cdk_spark.sources.fixture_gen import gen_corpus
from opensearch_dynamodb_etl_cdk_spark.streaming.pipeline import (
    FlightsEtlPipeline,
    PipelineConfig,
)
from opensearch_dynamodb_etl_cdk_spark.streaming.store import (
    MANIFEST,
    OLD_SETTINGS,
    IndexStore,
)

SCHEMA = T.StructType([T.StructField("_id", T.StringType()),
                       T.StructField("_bucket", T.IntegerType())])


@pytest.fixture()
def store(tmp_path):
    return IndexStore(None, str(tmp_path))


def _commit(store, buckets, replace=None):
    """Stage one fake part file per bucket in ``buckets`` and commit."""
    stage = os.path.join(store.root, "_staging", uuid.uuid4().hex)
    for b in buckets:
        os.makedirs(os.path.join(stage, f"_bucket={b}"))
        with open(os.path.join(stage, f"_bucket={b}",
                               f"part-{uuid.uuid4().hex}.parquet"), "w") as f:
            f.write("x")
    store.commit("idx", stage, SCHEMA, replace=replace, n_buckets=4)
    return store.manifest("idx")


def _on_disk(store):
    root = store.path("idx")
    return {os.path.relpath(os.path.join(d, f), root)
            for d, _, fs in os.walk(root) for f in fs if f != MANIFEST}


def test_commit_publishes_staged_files_as_next_version(store):
    m = _commit(store, [0, 1])
    assert m["version"] == 1 and sorted(m["files"]) == ["0", "1"]
    assert m["n_buckets"] == 4 and m["blocks"] == [] and not m["closed"]
    assert [f.name for f in T.StructType.fromJson(m["schema"])] == \
        ["_id", "_bucket"]
    assert _on_disk(store) == {f for fs in m["files"].values() for f in fs}
    assert not os.listdir(os.path.join(store.root, "_staging"))


def test_empty_replace_appends(store):
    first = _commit(store, [0, 1])
    m = _commit(store, [1], replace=())
    assert m["version"] == 2
    assert m["files"]["0"] == first["files"]["0"]
    assert len(m["files"]["1"]) == 2
    assert first["files"]["1"][0] in m["files"]["1"]


def test_replace_drops_only_the_named_buckets_files(store):
    first = _commit(store, [0, 1, 2])
    m = _commit(store, [1], replace={1})
    assert m["files"]["0"] == first["files"]["0"]
    assert m["files"]["2"] == first["files"]["2"]
    assert len(m["files"]["1"]) == 1 and m["files"]["1"] != first["files"]["1"]


def test_gc_removes_dropped_files_and_emptied_bucket_dirs(store):
    first = _commit(store, [0, 1, 2])
    m = _commit(store, [0], replace={0, 2})
    assert "2" not in m["files"]
    assert not os.path.exists(os.path.join(store.path("idx"), "_bucket=2"))
    assert first["files"]["0"][0] not in _on_disk(store)
    assert _on_disk(store) == {f for fs in m["files"].values() for f in fs}


def test_settings_update_keeps_files_and_survives_a_publish(store):
    first = _commit(store, [0, 1])
    m = store.update("idx", lambda m: m.update(blocks=["write"], closed=True))
    assert m["version"] == 2 and m["files"] == first["files"]
    assert store.manifest("idx") == m
    m = _commit(store, [1], replace={1})
    assert m["version"] == 3 and m["blocks"] == ["write"] and m["closed"]
    with pytest.raises(ValueError, match="no such index"):
        store.update("never_written", lambda m: None)


def test_concurrent_commits_and_settings_updates_lose_nothing(store):
    """More threads than cores interleave appends and block changes on
    one index: every file and every block reaches the last manifest."""
    _commit(store, [0])
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        def work(k):
            for i in range(10):
                if k % 2:
                    _commit(store, [k], replace=())
                else:
                    store.update("idx", lambda m: m.update(
                        blocks=m["blocks"] + [f"b{k}-{i}"]))

        threads = [threading.Thread(target=work, args=(k,))
                   for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(switch)
    m = store.manifest("idx")
    assert m["version"] == 81
    assert sorted(m["blocks"]) == sorted(
        f"b{k}-{i}" for k in range(0, 8, 2) for i in range(10))
    assert sum(len(m["files"][str(k)]) for k in range(1, 8, 2)) == 40
    assert _on_disk(store) == {f for fs in m["files"].values() for f in fs}


def _pipeline(spark, root):
    p = FlightsEtlPipeline(spark, PipelineConfig(
        index_root=str(root / "i"), checkpoint_root=str(root / "c")))
    p.bootstrap(spark.createDataFrame([(s,) for s in gen_corpus()],
                                      "item_json string"))
    return p


def test_concurrent_bulks_into_one_route_lose_no_update(
        spark, tmp_path, monkeypatch):
    """Two writers each reach their staging write together; the route
    lock makes the second wait, so both bulks' documents survive."""
    p = _pipeline(spark, tmp_path)
    before = p.count("fare")
    barrier = threading.Barrier(2, timeout=5)
    real = DataFrameWriter.parquet

    def held(self, path, *args, **kwargs):
        if f"{os.sep}_staging{os.sep}" in path:
            try:
                barrier.wait()
            except threading.BrokenBarrierError:
                pass  # the other writer is waiting on the route lock
        return real(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", held)
    errors = []

    def writer(tag):
        try:
            p.bulk("fare", [{"index": {"_id": f"{tag}-{i}",
                                       "doc": {"pk": tag}}}
                            for i in range(40)])
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(t,)) for t in "AB"]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    ids = [f"{t}-{i}" for t in "AB" for i in range(40)]
    assert p.mget("fare", ids).count() == 80
    assert p.count("fare") == before + 80


def _to_old_layout(route_dir, settings):
    """Rewrite a route as the previous layout left it: a manifest with
    no settings fields, and ``settings`` in ``_settings.json``."""
    with open(os.path.join(route_dir, MANIFEST)) as f:
        m = json.load(f)
    for k in ("blocks", "closed"):
        m.pop(k, None)
    with open(os.path.join(route_dir, MANIFEST), "w") as f:
        json.dump(m, f)
    with open(os.path.join(route_dir, OLD_SETTINGS), "w") as f:
        json.dump(settings, f)


def _assert_adopted(p, route_dir):
    with pytest.raises(PermissionError, match="closed"):
        p.search("fare", {})
    assert not os.path.exists(os.path.join(route_dir, OLD_SETTINGS))
    p.open_index("fare")
    with pytest.raises(PermissionError, match="write-blocked"):
        p.bulk("fare", [{"delete": {"_id": "x"}}])
    assert p.search("fare", {})["hits"].count() == 22
    assert p.store.manifest("fare")["blocks"] == ["write"]


def test_old_settings_file_is_folded_into_the_manifest_once(spark, tmp_path):
    p = _pipeline(spark, tmp_path)
    route_dir = p.store.path("fare")
    _to_old_layout(route_dir, {"blocks": ["write"], "closed": True})
    _assert_adopted(p, route_dir)


def test_restored_old_snapshot_keeps_its_settings(spark, tmp_path):
    p = _pipeline(spark, tmp_path)
    snap = str(tmp_path / "snap")
    p.snapshot(snap, "fare")
    _to_old_layout(os.path.join(snap, "fare"),
                   {"blocks": ["write"], "closed": True})
    assert p.restore(snap, "fare") == ["fare"]
    _assert_adopted(p, p.store.path("fare"))
