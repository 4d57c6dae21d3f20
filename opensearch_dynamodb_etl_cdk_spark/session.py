"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (single JVM); the configs below are
chosen so the same code is correct on a large cluster:

- AQE on (runtime partition coalescing + skew-join splitting) so plans
  self-correct at 100 TB where static ``shuffle.partitions`` can't.
- ``shuffle.partitions`` defaults to the local core count; on a real
  cluster this is overridden (or left to AQE's coalescing) — queries in
  this repo never hard-code partition counts.
- Session timezone pinned to UTC so results hash-match the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled: every Pandas-UDF path in this repo transfers via Arrow
  batches, never row-at-a-time pickling.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession


def get_spark(app_name: str = "opensearch_dynamodb_etl_cdk_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 32 MB scan splits (default 128 MB): big inputs fan out to ~4×
        # more tasks, keeping all local cores busy; parallelism on tiny
        # test files stays bounded by their row-group count either way.
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        # events.parquet stores ts as timestamp[ns], which the Spark parquet
        # reader rejects; read the raw int64 nanos and convert in load_tables.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def min_partitions(df, target: int | None = None):
    """Repartition up to the session's parallelism when the input scan
    produced fewer partitions.

    Small parquet files arrive as ONE partition, which serializes
    per-row-heavy work (interpreted array lambdas, Pandas UDFs) onto a
    single core. At real scale inputs already carry many partitions and
    this is a no-op — the repartition only fires on under-split inputs,
    so it never adds a shuffle to a 100 TB scan that is already wide.
    """
    sc = df.sparkSession.sparkContext
    target = target or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# One-slot registries for persists that an operator's RETURNED lazy
# query consumes (the operator cannot unpersist before returning):
# each call releases the previous call's handles under the same key,
# bounding a long-lived session at one call's worth of pinned blocks per
# operator. Slots are per SparkSession, so concurrent callers on
# different sessions never release each other's frames, and the swap
# runs under a lock so no persisted frame is ever left without a handle.
# A stale unpersist is always safe — Spark recomputes if that query
# re-runs. Callers sharing ONE session still evict each other.
_PERSIST_SLOTS: dict[SparkSession, dict[str, list]] = {}
_PERSIST_LOCK = threading.Lock()


def persist_slot(key: str, *frames):
    with _PERSIST_LOCK:
        slots = _PERSIST_SLOTS.setdefault(frames[0].sparkSession, {})
        for old in slots.get(key, ()):
            try:
                # keep a previous frame alive when the new call
                # re-persists the SAME plan: CacheManager dedupes
                # identical plans into one entry, so retaining it stays
                # bounded AND a repeated call reuses the materialized
                # cache instead of dropping and recomputing it
                if any(old.sameSemantics(f) for f in frames):
                    continue
                old.unpersist()
            except Exception:  # noqa: BLE001 — a stopped session must
                pass           # not break building the next query
        out = slots[key] = [f.persist() for f in frames]
    return out if len(out) > 1 else out[0]


def _ns_timestamp_columns(path: str) -> set[str]:
    """Top-level column names stored as parquet timestamp[ns] (from the
    file footer via pyarrow) — the columns nanosAsLong surfaces as int64."""
    try:
        import pyarrow.parquet as pq
        import pyarrow.types as pat

        schema = pq.read_schema(path)
        return {
            f.name
            for f in schema
            if pat.is_timestamp(f.type) and f.type.unit == "ns"
        }
    except Exception:
        return set()


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Register the driver's parquet tables as temp views; return dict of DFs.

    Columnar parquet scans give Catalyst filter pushdown + column pruning
    for free; every catalog query reads through these views.

    SESSION-WIDE SIDE EFFECT (intentional, documented): this sets
    ``spark.sql.legacy.parquet.nanosAsLong=true`` on the caller's session
    and leaves it set. Some driver tables store timestamp[ns], which the
    Spark parquet reader otherwise rejects; the conf is consulted at
    EXECUTION time too, so restoring it after this call would break the
    lazy DataFrames returned here. Consequence for callers: later reads
    of other ns-timestamp parquet in the same session yield int64 nanos
    instead of erroring. Every ns column in tables loaded HERE is
    converted back to a proper timestamp (detected from the parquet
    footer, not by column name), truncated to microseconds exactly as
    DuckDB's fetch does so oracle comparisons agree.
    """
    all_names = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    explicit = names is not None
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    out = {}
    for name in names or all_names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            from pyspark.sql import functions as F

            ns_cols = _ns_timestamp_columns(path)
            for field_ in df.schema.fields:
                if (
                    field_.name in ns_cols
                    and field_.dataType.simpleString() == "bigint"
                ):
                    df = df.withColumn(
                        field_.name,
                        F.timestamp_micros(F.expr(f"`{field_.name}` div 1000")),
                    )
                elif field_.dataType.simpleString() == "timestamp_ntz":
                    # Parquet timestamp[us] with isAdjustedToUTC=false infers
                    # as TIMESTAMP_NTZ (Spark 3.4+). Normalize to TimestampType
                    # under the UTC session zone — same wall-clock instants,
                    # but NTZ forbids numeric casts (cast to long) that the
                    # catalog's time arithmetic relies on, and the DuckDB
                    # oracle compares naive-UTC either way.
                    df = df.withColumn(
                        field_.name, F.col(field_.name).cast("timestamp")
                    )
            df.createOrReplaceTempView(name)
            out[name] = df
        elif explicit:
            raise FileNotFoundError(f"table {name!r} not found at {path}")
    return out
