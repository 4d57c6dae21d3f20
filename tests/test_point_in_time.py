"""Point-in-time reads hold a manifest version: a PIT, a scroll and a
snapshot's copy read one version of each index while merges and
compactions replace its files, copy nothing to do so, and leave the
disk at exactly the manifests' files once they end."""

from __future__ import annotations

import os
import threading
import time

import pytest

from opensearch_dynamodb_etl_cdk_spark.sources.fixture_gen import gen_corpus
from opensearch_dynamodb_etl_cdk_spark.streaming.pipeline import (
    FlightsEtlPipeline,
    PipelineConfig,
)
from opensearch_dynamodb_etl_cdk_spark.streaming.store import MANIFEST

FARES = 22


@pytest.fixture()
def p(spark, tmp_path):
    pipe = FlightsEtlPipeline(spark, PipelineConfig(
        index_root=str(tmp_path / "i"), checkpoint_root=str(tmp_path / "c")))
    pipe.bootstrap(spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"))
    return pipe


def _files_on_disk(root):
    return {os.path.relpath(os.path.join(d, f), root)
            for d, _, fs in os.walk(root) for f in fs}


def _outside_manifests(p):
    """(index, file) for every file under an index dir that its
    manifest does not list."""
    out = set()
    for name in p.store.names():
        m = p.store.manifest(name) or {"files": {}}
        listed = {f for fs in m["files"].values() for f in fs}
        out |= {(name, f) for f in _files_on_disk(p.store.path(name))
                - listed - {MANIFEST}}
    return out


def _replace_every_fare_file(p):
    assert p.delete_by_query("fare", {"match_all": {}}) == FARES
    p.compact("fare")
    assert p.count("fare") == 0


def test_open_pit_copies_nothing(p):
    root = p.cfg.index_root
    before = {f: os.path.getsize(os.path.join(root, f))
              for f in _files_on_disk(root)}
    pit = p.open_pit("fare,flight")
    after = {f: os.path.getsize(os.path.join(root, f))
             for f in _files_on_disk(root)}
    assert after == before
    assert not os.path.exists(os.path.join(root, "_pits"))
    assert p.close_pit(pit)


def test_pit_reads_its_version_and_close_frees_the_disk(p):
    pit = p.open_pit("fare")
    _replace_every_fare_file(p)
    assert _outside_manifests(p)  # the held version is still on disk
    assert p.search_pit(pit, {"size": 100})["hits"].count() == FARES
    assert p.close_pit(pit)
    assert _outside_manifests(p) == set()
    with pytest.raises(ValueError, match="no such pit"):
        p.pit_view(pit)


def test_scroll_returns_its_open_time_rows_across_merges(p):
    sid, first = p.create_scroll("fare", size=5)
    seen = [r["_id"] for r in first.collect()]
    _replace_every_fare_file(p)
    while rows := p.scroll(sid).collect():
        seen += [r["_id"] for r in rows]
    assert len(seen) == len(set(seen)) == FARES
    # exhausted: the holds are released before the cursor is cleared
    assert _outside_manifests(p) == set()
    assert p.scroll(sid).count() == 0
    assert p.clear_scroll(sid)


def test_clear_scroll_frees_the_disk(p):
    sid, _ = p.create_scroll("fare,flight", size=5)
    _replace_every_fare_file(p)
    assert _outside_manifests(p)
    assert p.clear_scroll(sid)
    assert _outside_manifests(p) == set()


def test_snapshot_copies_only_the_manifests_files(p, tmp_path):
    pit = p.open_pit("fare")
    p.compact("fare")
    assert _outside_manifests(p)
    snap = str(tmp_path / "snap")
    p.snapshot(snap, "fare")
    m = p.store.manifest("fare")
    assert _files_on_disk(os.path.join(snap, "fare")) == \
        {f for fs in m["files"].values() for f in fs} | {MANIFEST}
    assert p.restore(snap, "fare") == ["fare"]
    # the restore left the held files; closing the PIT deletes them
    assert p.close_pit(pit)
    assert _outside_manifests(p) == set()
    assert p.count("fare") == FARES


def test_counts_while_a_snapshot_is_restored_never_fail(p, tmp_path):
    """One thread counts in a loop while the main thread restores an
    unchanged snapshot over and over: a restore is one manifest
    publish, so no read sees a missing file or an empty index."""
    snap = str(tmp_path / "snap")
    p.snapshot(snap, "fare")
    stop = threading.Event()
    seen = []

    def reader():
        while not stop.is_set():
            try:
                seen.append(p.count("fare"))
            except Exception as exc:  # noqa: BLE001 — asserted below
                seen.append(exc)

    t = threading.Thread(target=reader)
    t.start()
    try:
        deadline = time.monotonic() + 8
        while time.monotonic() < deadline:
            p.restore(snap, "fare")
            time.sleep(0.05)
    finally:
        stop.set()
        t.join(timeout=60)
    assert not t.is_alive() and seen
    assert [x for x in seen if x != FARES] == []


def test_restore_publishes_the_next_version(p, tmp_path):
    snap = str(tmp_path / "snap")
    p.snapshot(snap, "fare")
    _replace_every_fare_file(p)
    v = p.store.manifest("fare")["version"]
    assert p.restore(snap, "fare") == ["fare"]
    assert p.store.manifest("fare")["version"] == v + 1
    assert p.count("fare") == FARES
    assert _outside_manifests(p) == set()


def test_pit_keeps_its_version_across_a_restore(p, tmp_path):
    """An update rewrites one bucket file; a PIT opened after it holds
    that file, which the restore then replaces."""
    doc_id = "DEN|ATL#2021-08-01T00:01:00#nonstop"
    snap = str(tmp_path / "snap")
    p.snapshot(snap, "fare")
    p.update_doc("fare", doc_id, {"origin": "AAA"})
    pit = p.open_pit("fare")
    p.restore(snap, "fare")
    assert p.get_doc("fare", doc_id)["origin"] != "AAA"
    hits = p.search_pit(pit, {"size": 100})["hits"].collect()
    assert len(hits) == FARES
    assert [r["origin"] for r in hits if r["_id"] == doc_id] == ["AAA"]
    assert _outside_manifests(p)
    assert p.close_pit(pit)
    assert _outside_manifests(p) == set()
