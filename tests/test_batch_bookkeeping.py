"""A micro-batch's fixed Spark work: the driver-side ``_metrics`` writer
(exactly-once per epoch, unchanged table schema), the job budget of a
bootstrap, the single shuffle of a route write, and ``read_metrics``
surfacing read errors. DLQ replays appending at the shared replay epoch
are covered in tests/test_dlq_and_edges.py."""

from __future__ import annotations

import os
import re
import uuid

import pytest
from pyspark.sql import functions as F

from opensearch_dynamodb_etl_cdk_spark.sources.fixture_gen import (
    gen_cdc_events,
    gen_corpus,
)
from opensearch_dynamodb_etl_cdk_spark.streaming.pipeline import (
    CDC_SCHEMA,
    FlightsEtlPipeline,
    PipelineConfig,
)

# Spark jobs of a bootstrap of the fixture corpus: per route one job
# materializes the route's slice, two collect its touched buckets and
# two write it; two more count the metrics.
BOOTSTRAP_JOB_BUDGET = 12


@pytest.fixture()
def pipeline(spark, tmp_path):
    cfg = PipelineConfig(
        index_root=str(tmp_path / "indexes"),
        checkpoint_root=str(tmp_path / "chk"),
    )
    return FlightsEtlPipeline(spark, cfg)


def _corpus(spark):
    return spark.createDataFrame([(s,) for s in gen_corpus()], "item_json string")


def _visible(d):
    return sorted(f for f in os.listdir(d) if not f.startswith(("_", ".")))


def test_metrics_epoch_rewrite_is_exactly_once(spark, pipeline):
    """A re-delivered epoch replaces its metrics rows, including rows an
    older writer left as a Spark part file, and the table keeps its
    schema: ``epoch`` an int partition column, counts bigint."""
    root = os.path.join(pipeline.cfg.index_root, "_metrics")
    epoch7 = os.path.join(root, "epoch=7")
    # the layout Spark's dynamic partition overwrite leaves behind
    (
        spark.createDataFrame(
            [(7, "fare", 999, 999, 999, 0, 0)],
            "epoch long, route string, rows_in long, rows_routed long, "
            "rows_merged long, rows_deleted long, rows_dlq long",
        )
        .coalesce(1).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch").parquet(root)
    )
    (spark_file,) = _visible(epoch7)
    assert re.fullmatch(r"part-00000-.*\.c000\.snappy\.parquet", spark_file)

    batch = pipeline.transform_export(_corpus(spark))
    pipeline._apply_batch(batch, epoch_id=7)
    pipeline._apply_batch(batch, epoch_id=7)

    m = pipeline.read_metrics()
    rows = m.filter(F.col("epoch") == 7).collect()
    assert sorted(r.route for r in rows) == ["dropped", "fare", "flight"]
    got = {r.route: (r.rows_in, r.rows_routed, r.rows_merged) for r in rows}
    assert got == {"fare": (40, 22, 22), "flight": (40, 13, 13),
                   "dropped": (40, 5, 0)}
    assert _visible(epoch7) == ["part-00000.parquet"]
    assert not os.path.exists(os.path.join(epoch7, f".{spark_file}.crc"))
    assert [(f.name, f.dataType.simpleString()) for f in m.schema] == [
        ("route", "string"), ("rows_in", "bigint"), ("rows_routed", "bigint"),
        ("rows_merged", "bigint"), ("rows_deleted", "bigint"),
        ("rows_dlq", "bigint"), ("epoch", "int"),
    ]


def test_bootstrap_job_budget_and_one_shuffle_per_route_write(
        spark, pipeline, monkeypatch):
    """A bootstrap stays within its Spark job budget, and a route write
    over a stored index plans exactly one shuffle."""
    sc = spark.sparkContext
    group = f"bootstrap-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "bootstrap job budget")
    try:
        pipeline.bootstrap(_corpus(spark))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= BOOTSTRAP_JOB_BUDGET

    plans = []
    publish = pipeline.store.publish

    def spy(route, df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return publish(route, df, *args, **kwargs)

    monkeypatch.setattr(pipeline.store, "publish", spy)
    tail = [e for e in gen_cdc_events() if e["seq"] > 40]
    pipeline._apply_batch(
        pipeline.transform_cdc(spark.createDataFrame(tail, CDC_SCHEMA)), 0)
    assert plans
    for plan in plans:
        assert "FileScan parquet" in plan  # the stored buckets are merged
        assert len(re.findall(r"\bExchange\b", plan)) == 1, plan


def test_read_metrics_none_only_when_absent(pipeline):
    """No ``_metrics`` dir = no metrics yet; a corrupt file is an error,
    not an empty table."""
    assert pipeline.read_metrics() is None
    d = os.path.join(pipeline.cfg.index_root, "_metrics", "epoch=3")
    os.makedirs(d)
    with open(os.path.join(d, "part-00000.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception):
        pipeline.read_metrics()
