"""_split / _shrink: pmod bucket resize is map-only and lossless —
every doc lands at pmod(xxhash64(_id), new_n), counts and contents are
unchanged, and subsequent CDC merges respect the resized layout."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from opensearch_dynamodb_etl_cdk_spark.sources.fixture_gen import gen_corpus
from opensearch_dynamodb_etl_cdk_spark.streaming.pipeline import (
    FlightsEtlPipeline,
    PipelineConfig,
)


@pytest.fixture()
def pipe(spark, tmp_path):
    cfg = PipelineConfig(index_root=str(tmp_path / "i"),
                         checkpoint_root=str(tmp_path / "c"),
                         n_buckets=4)
    p = FlightsEtlPipeline(spark, cfg)
    items = spark.createDataFrame(
        [(s,) for s in gen_corpus()], "item_json string"
    )
    p.bootstrap(items)
    return p


def _snapshot(p, route):
    return sorted(
        tuple(r) for r in p.index_view(route).drop("_bucket").collect()
    )


def _bucket_dirs(p, route):
    root = p.store.path(route)
    return sorted(
        int(d.split("=")[1]) for d in os.listdir(root)
        if d.startswith("_bucket=")
    )


def test_split_preserves_data_and_placement(pipe):
    before = _snapshot(pipe, "fare")
    out = pipe.split_index("fare", factor=2)
    assert out == {"acknowledged": True, "n_buckets": 8}
    assert _snapshot(pipe, "fare") == before
    # every row sits at pmod(hash, 8)
    idx = pipe.read_index("fare")
    bad = idx.filter(
        F.col("_bucket") != F.pmod(F.xxhash64("_id"), F.lit(8))
    ).count()
    assert bad == 0
    assert max(_bucket_dirs(pipe, "fare")) < 8


def test_shrink_preserves_data(pipe):
    before = _snapshot(pipe, "fare")
    pipe.split_index("fare", factor=4)  # 4 → 16
    pipe.shrink_index("fare", factor=8)  # 16 → 2
    assert pipe._route_n_buckets("fare") == 2
    assert _snapshot(pipe, "fare") == before
    assert set(_bucket_dirs(pipe, "fare")) <= {0, 1}
    with pytest.raises(ValueError):
        pipe.shrink_index("fare", factor=3)  # does not divide 2
    with pytest.raises(ValueError):
        pipe.split_index("fare", factor=1)
    with pytest.raises(ValueError):
        pipe.split_index("never_bootstrapped")


def test_merge_after_resize_uses_new_layout(pipe):
    pipe.split_index("fare", factor=2)  # 4 → 8
    n_before = pipe.index_view("fare").count()
    pipe.bulk("fare", [
        {"index": {"_id": "RSZ|1", "doc": {"pk": "RSZ", "sk": "1"}}},
    ])
    idx = pipe.read_index("fare")
    assert pipe.index_view("fare").count() == n_before + 1
    # the new doc landed at its pmod-8 bucket, not the cfg-4 one
    row = idx.filter(F.col("_id") == "RSZ|1").collect()[0]
    expect = idx.sparkSession.createDataFrame(
        [("RSZ|1",)], "v string"
    ).select(F.pmod(F.xxhash64("v"), F.lit(8)).alias("b")).collect()[0]["b"]
    assert row["_bucket"] == expect
    # and a delete through the same path removes it again
    pipe.bulk("fare", [{"delete": {"_id": "RSZ|1"}}])
    assert pipe.index_view("fare").filter(
        F.col("_id") == "RSZ|1").count() == 0
