"""Versioned route manifests: every index write publishes a
``_manifest.json`` copy-on-write, and readers resolve a route from it
(cached per manifest version) instead of listing the directory."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from opensearch_dynamodb_etl_cdk_spark.sources.fixture_gen import gen_corpus
from opensearch_dynamodb_etl_cdk_spark.streaming.pipeline import (
    FlightsEtlPipeline,
    PipelineConfig,
)
from opensearch_dynamodb_etl_cdk_spark.streaming.store import MANIFEST


@pytest.fixture()
def pipe(spark, tmp_path):
    cfg = PipelineConfig(index_root=str(tmp_path / "i"),
                         checkpoint_root=str(tmp_path / "c"),
                         n_buckets=4)
    p = FlightsEtlPipeline(spark, cfg)
    p.bootstrap(spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"))
    return p


def _manifest(p, route):
    with open(os.path.join(p.store.path(route), MANIFEST)) as f:
        return json.load(f)


def _assert_consistent(p, route):
    """The manifest's file set is exactly the parquet files on disk, and
    the manifest-resolved frame equals a plain directory read."""
    root = p.store.path(route)
    listed = {f for fs in _manifest(p, route)["files"].values() for f in fs}
    on_disk = {
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")
    }
    assert listed == on_disk
    stock = p.spark.read.parquet(root)
    got = p.read_index(route)
    assert sorted(got.columns) == sorted(stock.columns)
    cols = sorted(stock.columns)
    assert sorted(map(tuple, got.select(cols).collect())) == \
        sorted(map(tuple, stock.select(cols).collect()))


def test_cached_read_launches_no_spark_job(spark, pipe):
    sc = spark.sparkContext
    first = pipe.read_index("fare")
    sc.setJobGroup("manifest-cache-hit", "second read of an unchanged route")
    try:
        again = pipe.read_index("fare")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("manifest-cache-hit") == []
    assert again is first


def test_write_through_second_instance_shows_in_next_read(spark, pipe):
    n = pipe.read_index("fare").count()
    other = FlightsEtlPipeline(spark, pipe.cfg)
    other.bulk("fare", [
        {"index": {"_id": "NEW|1", "doc": {"pk": "NEW", "sk": "1"}}},
    ])
    idx = pipe.read_index("fare")
    assert idx.count() == n + 1
    assert idx.filter(F.col("_id") == "NEW|1").count() == 1


def test_manifest_matches_disk_across_writes(spark, pipe, tmp_path):
    _assert_consistent(pipe, "fare")
    v = _manifest(pipe, "fare")["version"]

    # delete every doc of one bucket: it leaves the manifest and the disk
    ids = [r["_id"] for r in pipe.read_index("fare")
           .filter(F.col("_bucket") == 0).select("_id").collect()]
    assert ids
    pipe.bulk("fare", [{"delete": {"_id": i}} for i in ids])
    m = _manifest(pipe, "fare")
    assert m["version"] == v + 1 and "0" not in m["files"]
    assert not os.path.exists(os.path.join(pipe.store.path("fare"),
                                           "_bucket=0"))
    _assert_consistent(pipe, "fare")

    pipe.compact("fare")
    _assert_consistent(pipe, "fare")

    snap = str(tmp_path / "snap")
    pipe.snapshot(snap)
    n = pipe.read_index("fare").count()

    pipe.split_index("fare", factor=2)
    assert _manifest(pipe, "fare")["n_buckets"] == 8
    _assert_consistent(pipe, "fare")
    pipe.shrink_index("fare", factor=4)
    _assert_consistent(pipe, "fare")

    pipe.delete_by_query("fare", {"match_all": {}})
    assert pipe.read_index("fare").count() == 0
    pipe.restore(snap, "fare")
    assert pipe.read_index("fare").count() == n
    _assert_consistent(pipe, "fare")


def test_manifestless_directory_is_adopted_once(spark, pipe, tmp_path):
    legacy = str(tmp_path / "i" / "legacy")
    shutil.copytree(pipe.store.path("flight"), legacy)
    os.remove(os.path.join(legacy, MANIFEST))
    adopted = pipe.read_index("legacy")
    assert _manifest(pipe, "legacy")["version"] == 1
    assert adopted.count() == pipe.read_index("flight").count()
    assert pipe.read_index("legacy") is adopted
    assert pipe.read_index("never_written") is None
