"""One metadata store: the JSON registries beside the index tables, the
route manifests as the only record of a route's bucket count, and the
metadata that rides along in snapshots."""

from __future__ import annotations

import json
import os
import sys
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from opensearch_dynamodb_etl_cdk_spark.sources.fixture_gen import gen_corpus
from opensearch_dynamodb_etl_cdk_spark.streaming.pipeline import (
    FlightsEtlPipeline,
    PipelineConfig,
)
from opensearch_dynamodb_etl_cdk_spark.streaming.store import OLD_SETTINGS


def _pipeline(spark, tmp_path, **kw):
    return FlightsEtlPipeline(spark, PipelineConfig(
        index_root=str(tmp_path / "i"),
        checkpoint_root=str(tmp_path / "c"), **kw))


def _items(spark):
    return spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string")


def test_alerts_index_stays_fresh_across_ticks(spark, tmp_path):
    p = _pipeline(spark, tmp_path)
    p.bootstrap(_items(spark))
    p.put_monitor("always", {
        "search": {"index": "fare", "body": {}},
        "trigger": {"count": {"gt": 0}},
    })
    assert [a["monitor"] for a in p.monitor_tick(now="t1")] == ["always"]
    assert p.search(".alerts", {})["hits"].count() == 1
    p.monitor_tick(now="t2")
    # the first search must not freeze the alerts index at one alert
    hits = p.search(".alerts", {})["hits"]
    assert sorted(r["ts"] for r in hits.collect()) == ["t1", "t2"]
    assert p.get_alerts().count() == 2


def test_data_stream_survives_snapshot_delete_restore(spark, tmp_path):
    p = _pipeline(spark, tmp_path)
    p.create_data_stream("logs")
    p.data_stream_append("logs", [
        {"@timestamp": "2026-01-01T00:00:00", "msg": "a"},
        {"@timestamp": "2026-01-01T00:01:00", "msg": "b"},
    ])
    snap = str(tmp_path / "snap")
    p.snapshot(snap)
    assert p.delete_data_stream("logs")
    with pytest.raises(ValueError, match="no such data stream"):
        p.get_data_stream("logs")

    p.restore(snap)
    assert p.get_data_stream("logs") == {"logs": {
        "generation": 1, "indices": [".ds-logs-000001"]}}
    hits = p.search_data_stream("logs", {})["hits"]
    assert sorted(r["msg"] for r in hits.collect()) == ["a", "b"]
    # the restored sequence cursor keeps new _ids unique
    p.data_stream_append("logs", [
        {"@timestamp": "2026-01-01T00:02:00", "msg": "c"}])
    ids = [r["_id"] for r in
           p.search_data_stream("logs", {})["hits"].collect()]
    assert sorted(ids) == ["logs-0", "logs-1", "logs-2"]



def test_concurrent_appends_to_one_stream_take_distinct_ids(
        spark, tmp_path, monkeypatch):
    """Two appends to one data stream each reach their staging write
    together. The second reads the stream's sequence under the registry
    lock, after the first put, so no ``_id`` repeats."""
    p = _pipeline(spark, tmp_path)
    p.create_data_stream("logs")
    barrier = threading.Barrier(2, timeout=5)
    real = DataFrameWriter.parquet

    def held(self, path, *args, **kwargs):
        if f"{os.sep}_staging{os.sep}" in path:
            try:
                barrier.wait()
            except threading.BrokenBarrierError:
                pass  # the other append is waiting on the registry lock
        return real(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", held)
    errors = []

    def writer(tag):
        try:
            p.data_stream_append("logs", [
                {"@timestamp": "2026-01-01T00:00:00", "msg": f"{tag}{i}"}
                for i in range(5)])
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(t,)) for t in "AB"]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    ids = [r["_id"] for r in
           p.search_data_stream("logs", {"size": 100})["hits"].collect()]
    assert len(ids) == len(set(ids)) == 10
    assert p.meta.get("data_streams", "logs")["next_seq"] == 10


def test_data_stream_append_passes_the_write_gate(spark, tmp_path):
    """An append is a write to the stream's current backing index: a
    read-only role and a write block on that index both refuse it, as
    they refuse ``index_doc`` and ``bulk``."""
    p = _pipeline(spark, tmp_path)
    p.create_data_stream("logs")
    doc = {"@timestamp": "2026-01-01T00:00:00", "msg": "a"}
    assert p.data_stream_append("logs", [doc]) == 1
    p.put_role("reader", ["*"], actions=("read",))
    with p.as_role("reader"):
        with pytest.raises(PermissionError, match="no 'write'"):
            p.data_stream_append("logs", [doc])
    p.add_block(".ds-logs-000001", "write")
    with pytest.raises(PermissionError, match="write-blocked"):
        p.bulk(".ds-logs-000001", [{"index": {"_id": "x", "doc": doc}}])
    with pytest.raises(PermissionError, match="write-blocked"):
        p.data_stream_append("logs", [doc])
    p.remove_block(".ds-logs-000001", "write")
    assert p.data_stream_append("logs", [doc]) == 1
    assert p.search_data_stream("logs", {})["hits"].count() == 2
    assert p.meta.get("data_streams", "logs")["next_seq"] == 2

def test_bucket_count_lives_in_the_manifest(spark, tmp_path):
    p = _pipeline(spark, tmp_path / "split", n_buckets=4)
    p.bootstrap(_items(spark))
    p.add_block("fare", "write")
    p.remove_block("fare", "write")
    assert p.split_index("fare", 2)["n_buckets"] == 8
    # blocks and the bucket count share the route's one manifest
    m = p.store.manifest("fare")
    assert m["n_buckets"] == 8 and m["blocks"] == []
    assert not os.path.exists(os.path.join(p.store.path("fare"), OLD_SETTINGS))
    assert p._route_n_buckets("fare") == 8

    p.bulk("fare", [{"index": {"_id": f"new-{i}", "doc": {"pk": "NEW"}}}
                    for i in range(12)])
    idx = p.read_index("fare")
    assert idx.filter(F.col("pk") == "NEW").count() == 12
    # every row, old and new, sits at its hash under the split count
    assert idx.filter(
        F.col("_bucket") != F.pmod(F.xxhash64("_id"), F.lit(8))
    ).count() == 0

    # a template-bucketed first bootstrap touches no route whose slice
    # is empty: the bucket count is recorded only by a publish
    q = _pipeline(spark, tmp_path / "tpl")
    q.put_index_template("all", {
        "index_patterns": ["*"],
        "template": {"settings": {"number_of_buckets": 2}},
    })
    fares = _items(spark).filter(
        F.get_json_object("item_json", "$.type.S") == "fare")
    assert fares.count() > 0
    q.bootstrap(fares)
    assert q._route_n_buckets("fare") == 2
    assert q.read_index("fare").select("_bucket").distinct().count() <= 2
    assert not os.path.exists(q.store.path("flight"))
    assert q.read_index("flight") is None


def test_registry_store_put_pop_get(tmp_path):
    from opensearch_dynamodb_etl_cdk_spark.streaming.meta import MetaStore

    store = MetaStore(str(tmp_path / "root"))
    assert store.read("roles") == {}
    store.put("roles", "r", {"actions": ["read"]})
    assert store.get("roles", "r") == {"actions": ["read"]}
    with open(store.path("roles")) as f:
        assert json.load(f) == {"r": {"actions": ["read"]}}
    with pytest.raises(ValueError, match="no such stored script 'x'"):
        store.get("stored_scripts", "x")
    assert store.pop("roles", "r") is True
    assert store.read("roles") == {}
    # popping an absent key writes nothing
    assert store.pop("monitors", "m") is False
    assert not os.path.exists(store.path("monitors"))
    with pytest.raises(KeyError):
        store.read("not_a_registry")


def test_failed_metadata_write_leaves_nothing_behind(tmp_path):
    from opensearch_dynamodb_etl_cdk_spark.streaming.meta import (
        MetaStore,
        save_json,
    )

    store = MetaStore(str(tmp_path))
    store.put("aliases", "a", "fare")
    with pytest.raises(TypeError):
        store.put("aliases", "b", object())
    assert os.listdir(tmp_path) == ["_aliases.json"]
    assert store.read("aliases") == {"a": "fare"}
    save_json(str(tmp_path / "status.json"), {"n": object()}, default=str)
    assert sorted(os.listdir(tmp_path)) == ["_aliases.json", "status.json"]


def test_concurrent_registry_puts_lose_no_entry(tmp_path):
    """More threads than cores put distinct keys into one registry:
    every entry reaches the file."""
    from opensearch_dynamodb_etl_cdk_spark.streaming.meta import MetaStore

    store = MetaStore(str(tmp_path))
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        def work(k):
            for i in range(50):
                store.put("aliases", f"a{k}-{i}", "fare")

        threads = [threading.Thread(target=work, args=(k,))
                   for k in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(switch)
    assert len(store.read("aliases")) == 200
    for k in range(4):
        assert store.pop("aliases", f"a{k}-0")
    assert len(store.read("aliases")) == 196
