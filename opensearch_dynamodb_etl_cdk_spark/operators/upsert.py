"""Keyed upsert/delete — last-write-wins by primary key (SURVEY §2.4 K1).

The reference's sinks write each document under ``_id`` = table primary
key with action index/upsert/delete derived from the CDC event type
(custom_resource.py:350-351,370-371; NEW_IMAGE stream view). The
materialized index is therefore the per-key latest image. Spark-first:

- per key, the row with the highest sequence number wins:
  ``max_by(struct(*), seq)`` grouped by key — never task order (SURVEY
  §7.3 known-hard #1);
- across batches: merge = ONE such reduction over the union of the
  stored rows of the touched buckets and the raw batch (MERGE emulation
  without Delta, SURVEY §7.3 #3).

Scale notes: a bucketed merge (input carries ``_bucket``) is
hash-partitioned by ``_bucket`` first and reduced per (``_bucket``,
key). A hash partitioning on a subset of the grouping keys satisfies
the aggregate, so the plan holds ONE shuffle, proportional to |batch| +
|touched index buckets| (not |index|), and its output is already laid
out one bucket per task for the bucketed write (streaming/pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ACTION_COL = "_action"
SEQ_COL = "_seq"
DELETED_COL = "_deleted"
BUCKET_COL = "_bucket"


def derive_action(event_name: Column) -> Column:
    """CDC event type → sink action (SURVEY §2.2 T3; OSIS
    ``getMetadata("opensearch_action")`` semantics: INSERT→index,
    MODIFY→upsert, REMOVE→delete)."""
    return (
        F.when(event_name == "REMOVE", "delete")
        .when(event_name == "INSERT", "index")
        .otherwise("upsert")
    )


def latest_by_key(
    df: DataFrame, key: str = "_id", seq: str = SEQ_COL
) -> DataFrame:
    """Per-key latest row by sequence number.

    Implemented as ``max_by(struct(*), seq)`` — an aggregate, so Spark
    runs a map-side partial reduction before the shuffle: shuffle volume
    is one row per distinct key per input partition, not every event.
    Duplicate (key, seq) deliveries (at-least-once) collapse to one row
    because max_by picks a single struct.
    """
    return _max_by_seq(df, [key], seq)


def _max_by_seq(df: DataFrame, keys: list[str], seq: str) -> DataFrame:
    packed = df.select(
        *keys, F.col(seq).alias("__s"), F.struct(*df.columns).alias("__row")
    )
    latest = packed.groupBy(*keys).agg(F.max_by("__row", "__s").alias("__row"))
    return latest.select("__row.*")


def apply_cdc_batch(
    index: DataFrame | None,
    batch: DataFrame,
    key: str = "_id",
    seq: str = SEQ_COL,
    action: str = ACTION_COL,
    keep_tombstones: bool = False,
) -> DataFrame:
    """MERGE a CDC micro-batch into the current index frame.

    Returns the new index: the per-key *highest-sequence* image across
    both the stored index and the batch, minus deletes. The returned
    frame (and therefore the stored index) KEEPS the ``seq`` column —
    that is what makes last-write-wins hold *across* micro-batches: a
    late re-delivered event with a lower sequence number than the stored
    image loses the ``max_by`` and cannot clobber it (the reference's
    per-key-latest semantic, custom_resource.py:350-351, is by sequence,
    not by arrival order). Idempotent under re-delivery of the same
    batch (exactly-once effect, SURVEY K2): a replayed (key, seq) ties
    with the stored row carrying an identical image.

    Stored rows and the raw batch go through ONE ``max_by`` reduction.
    When the frames carry ``_bucket`` (a hash of the key), the union is
    hash-partitioned by it first and reduced per (``_bucket``, key): one
    shuffle, and the result is laid out one bucket per task.

    Default (matches the reference sink): deletes are not stored as
    tombstones, so an upsert with a lower seq re-delivered *after* the
    delete's batch re-creates the document — same behavior as an
    OpenSearch delete followed by a late index call without external
    versioning. Pass ``keep_tombstones=True`` for strictly stronger
    semantics: deletes persist as rows flagged ``_deleted`` (body NULL)
    carrying their sequence number, so the stale upsert loses the
    ``max_by`` and stays dead. Read paths must filter ``_deleted``;
    compaction can purge (see streaming/pipeline.py).
    """
    rows = batch
    if index is not None:
        prior = index
        if seq not in prior.columns:  # legacy index written without seq
            prior = prior.withColumn(seq, F.lit(-1).cast("long"))
        if DELETED_COL in prior.columns:
            prior = prior.withColumn(
                action,
                F.when(F.col(DELETED_COL), "delete").otherwise("index"),
            ).drop(DELETED_COL)
        else:
            prior = prior.withColumn(action, F.lit("index"))
        rows = prior.unionByName(batch)
    keys = [key]
    if BUCKET_COL in rows.columns:
        rows = rows.repartition(BUCKET_COL)
        keys = [BUCKET_COL, key]
    merged = _max_by_seq(rows, keys, seq)
    if keep_tombstones:
        return merged.withColumn(
            DELETED_COL, F.col(action) == "delete"
        ).drop(action)
    return merged.filter(F.col(action) != "delete").drop(action)
