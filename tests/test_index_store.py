"""The index store: commit, drop and GC of staged files, held versions,
settings in the manifest, the per-route write lock, and the one-time
adoption of a route's old ``_settings.json``. The commit, drop and hold
tests need no Spark session."""

from __future__ import annotations

import hashlib
import json
import os
import sys
import threading
import uuid

import pytest
from pyspark.sql import functions as F
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


def _files(m):
    return [f for fs in m["files"].values() for f in fs]


def test_drop_keeps_files_committed_after_the_version_read(store):
    read = _commit(store, [0, 1])
    later = set(_files(_commit(store, [1], replace=()))) - set(_files(read))
    store.drop("idx", _files(read))
    m = store.manifest("idx")
    assert m["version"] == 3 and set(_files(m)) == later
    assert _on_disk(store) == later
    assert not os.path.exists(os.path.join(store.path("idx"), "_bucket=0"))


def test_drop_that_empties_the_table_removes_manifest_and_dir(store):
    store.drop("idx", _files(_commit(store, [0, 1])))
    assert store.manifest("idx") is None
    assert not os.path.exists(store.path("idx"))


def test_drop_leaves_a_file_outside_the_manifest_and_its_dir(store):
    m = _commit(store, [0])
    stray = os.path.join("_temporary", "0", "part-00000.parquet")
    os.makedirs(os.path.dirname(os.path.join(store.path("idx"), stray)))
    with open(os.path.join(store.path("idx"), stray), "w") as f:
        f.write("x")
    store.drop("idx", _files(m) + [stray])
    assert store.manifest("idx") is None
    assert _on_disk(store) == {stray}


def test_concurrent_commits_and_drops_lose_nothing(store):
    """More threads than cores: odd threads append, even threads append
    and then drop their own bucket's files. The last manifest holds
    exactly the odd threads' files, and the disk matches it."""
    _commit(store, [0])
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        def work(k):
            for _ in range(10):
                m = _commit(store, [k], replace=())
                if k % 2 == 0:
                    store.drop("idx", m["files"][str(k)])

        threads = [threading.Thread(target=work, args=(k,))
                   for k in range(1, 9)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(switch)
    m = store.manifest("idx")
    assert m["version"] == 121
    assert sorted(m["files"]) == ["0", "1", "3", "5", "7"]
    assert sum(len(m["files"][str(k)]) for k in range(1, 9, 2)) == 40
    assert _on_disk(store) == set(_files(m))


def test_drop_from_a_missing_table_is_a_noop(store):
    store.drop("idx", ["part-00000.parquet"])
    assert not os.path.exists(store.path("idx"))


def test_held_files_survive_commit_and_drop(store):
    _commit(store, [0, 1])
    held = store.hold("idx")
    assert held == store.manifest("idx")
    store.drop("idx", held["files"]["0"])
    m = _commit(store, [1])  # replaces the other held file
    assert sorted(m["files"]) == ["1"]
    assert _on_disk(store) == set(_files(held)) | set(_files(m))


def test_release_deletes_exactly_the_files_nothing_lists_or_holds(store):
    _commit(store, [0, 1])
    first = store.hold("idx")
    _commit(store, [1], replace={1})
    second = store.hold("idx")
    m = _commit(store, [0, 1], replace={0, 1})
    store.release("idx", first)  # its bucket-0 file is still held
    assert _on_disk(store) == set(_files(second)) | set(_files(m))
    store.release("idx", second)
    assert _on_disk(store) == set(_files(m))
    assert store.manifest("idx") == m


def test_two_holds_of_one_version_need_two_releases(store):
    _commit(store, [0])
    a, b = store.hold("idx"), store.hold("idx")
    assert a == b
    m = _commit(store, [0])
    store.release("idx", a)
    assert _on_disk(store) == set(_files(b)) | set(_files(m))
    store.release("idx", b)
    assert _on_disk(store) == set(_files(m))


def test_release_after_delete_is_a_noop(store):
    _commit(store, [0])
    held = store.hold("idx")
    _commit(store, [0])
    assert store.delete("idx")
    store.release("idx", held)
    assert not os.path.exists(store.path("idx"))
    # the recreated index carries no hold from before the delete
    _commit(store, [0])
    m = _commit(store, [0])
    assert _on_disk(store) == set(_files(m))



@pytest.fixture()
def snap(tmp_path_factory):
    return str(tmp_path_factory.mktemp("snap") / "idx")


def _inodes(store, m):
    return {f: os.stat(os.path.join(store.path("idx"), f)).st_ino
            for f in _files(m)}


def test_restore_publishes_the_snapshots_files_as_the_next_version(
        store, snap):
    first = _commit(store, [0, 1])
    store.update("idx", lambda m: m.update(blocks=["write"]))
    store.mirror("idx", snap)
    _commit(store, [1, 2])
    store.update("idx", lambda m: m.update(blocks=[], closed=True))
    m = store.restore(snap, "idx")
    assert m["version"] == 5 and m["files"] == first["files"]
    assert m["blocks"] == ["write"] and not m["closed"]
    assert store.manifest("idx") == m
    assert _on_disk(store) == set(_files(first))


def test_restore_deletes_the_replaced_files_except_held_ones(store, snap):
    first = _commit(store, [0, 1])
    store.mirror("idx", snap)
    held = _commit(store, [0, 1])
    assert store.hold("idx") == held
    _commit(store, [1], replace={1})
    store.restore(snap, "idx")
    assert _on_disk(store) == set(_files(first)) | set(_files(held))
    store.release("idx", held)
    assert _on_disk(store) == set(_files(first))


def test_restoring_an_unchanged_snapshot_copies_no_file(store, snap):
    m = _commit(store, [0, 1, 2])
    store.mirror("idx", snap)
    before = _inodes(store, m)
    restored = store.restore(snap, "idx")
    assert restored["version"] == m["version"] + 1
    assert restored["files"] == m["files"]
    assert _inodes(store, restored) == before
    assert _on_disk(store) == set(_files(m))

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


def test_concurrent_admin_writes_to_one_id_take_distinct_sequences(
        spark, tmp_path, monkeypatch):
    """Two single-document writes to one id each reach their staging
    write together. The second reads its sequence under the route lock,
    after the first commit, so it stamps the next admin sequence and its
    image is the stored one."""
    p = _pipeline(spark, tmp_path)
    first = p._next_synth_seq(p.read_index("fare"))
    barrier = threading.Barrier(2, timeout=5)
    order = []
    real = DataFrameWriter.parquet

    def held(self, path, *args, **kwargs):
        if f"{os.sep}_staging{os.sep}" in path:
            order.append(threading.current_thread().name)
            try:
                barrier.wait()
            except threading.BrokenBarrierError:
                pass  # the other writer is waiting on the route lock
        return real(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", held)
    errors = []

    def writer():
        try:
            p.index_doc("fare", "race",
                        {"pk": threading.current_thread().name})
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    threads = [threading.Thread(target=writer, name=t) for t in "AB"]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert errors == [] and len(order) == 2
    rows = p.read_index("fare").filter(F.col("_id") == "race").collect()
    assert [(r["_seq"], r["pk"]) for r in rows] == [(first + 2, order[1])]


def test_concurrent_updates_to_one_id_keep_both_fields(
        spark, tmp_path, monkeypatch):
    """Two partial updates of one document, on different fields, each
    reach their staging write together. The second fetches its image
    under the route lock, after the first commit, so the stored row
    carries both changes."""
    p = _pipeline(spark, tmp_path)
    doc_id = "DEN|ATL#2021-08-01T00:01:00#nonstop"
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

    def writer(doc):
        try:
            p.update_doc("fare", doc_id, doc)
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(d,))
               for d in ({"origin": "AAA"}, {"dest": "BBB"})]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    doc = p.get_doc("fare", doc_id)
    assert (doc["origin"], doc["dest"], doc["fare_class"]) == \
        ("AAA", "BBB", "nonstop")


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


def _tree_digest(root):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for fn in sorted(fs):
            h.update(os.path.relpath(os.path.join(d, fn), root).encode())
            with open(os.path.join(d, fn), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


@pytest.mark.parametrize("layout", ["settings_file", "no_manifest"])
def test_restoring_an_old_snapshot_writes_nothing_into_it(
        spark, tmp_path, layout):
    p = _pipeline(spark, tmp_path)
    snap = str(tmp_path / "snap")
    p.snapshot(snap, "fare")
    src = os.path.join(snap, "fare")
    if layout == "settings_file":
        _to_old_layout(src, {"blocks": ["write"]})
    else:
        os.remove(os.path.join(src, MANIFEST))
    before = _tree_digest(snap)
    assert p.restore(snap, "fare") == ["fare"]
    assert _tree_digest(snap) == before
    assert p.count("fare") == 22
