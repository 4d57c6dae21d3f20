"""The CDC ETL pipeline: bootstrap (export) + tail (stream) → routed,
keyed index tables with a DLQ (SURVEY §3.2/3.3 — the reference's whole
dataflow program, custom_resource.py:324-404, re-expressed Spark-first).

Shape:

    export snapshot (batch)          CDC events (readStream)
          │                                 │
          └── shared transform() ───────────┘
                 · unmarshal (functions/ddb.py, expression-based)
                 · _id = pk|sk   (document_id parity, T2)
                 · _action from event type (T3)
                 · route predicates (operators/routing.py)
                 · per-key latest (operators/upsert.py)
          foreachBatch: MERGE into parquet index table per route
          failures → dlq/<route> store table, re-driven by replay_dlq (W3)

Delivery semantics: Structured Streaming checkpointing gives
at-least-once re-delivery of a failed micro-batch; the MERGE is
idempotent by (key, seq), so the observable effect is exactly-once
(SURVEY K2) — same property the reference gets from OSIS ack + keyed
upsert.

Scale notes:
- The index "table" is hash-partitioned parquet (``bucket = hash(_id) %
  n_buckets`` directory partitioning). A micro-batch only rewrites the
  buckets it touches — merge cost tracks |batch|, not |index|.
- On a cluster this would be Delta/Iceberg MERGE INTO; the emulation
  here keeps the same logical plan (anti-join + union per touched
  partition) without requiring their jars (not in this image).
- Per-key ordering inside a batch is by sequence number via max_by —
  never task order. Across batches the index stores ``_seq`` per row
  and the merge takes the per-key max over union(stored, batch), so a
  late re-delivery with a lower sequence number loses to the stored
  image (true last-write-wins, not last-arrived-wins).
- Index storage is :class:`~.store.IndexStore` (``streaming/store.py``):
  one ``_manifest.json`` per route holds its file set, schema, bucket
  count, blocks and closed flag. Every write publishes the next
  manifest version copy-on-write under the route's lock; a read opens
  the manifest once and reuses the resolved frame until the file set
  changes.
"""

from __future__ import annotations

import fnmatch
import json
import os
import re
import uuid
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.ddb import parse_item, unmarshal
from ..functions.scripts import safe_expr
from ..operators.routing import UNROUTED, Router, type_route
from ..operators.upsert import apply_cdc_batch, derive_action
from ..sources.flights import ALIASES, SUPERSET_ATTRS
from .meta import REGISTRIES, MetaStore, load_json, save_json
from .store import IndexStore

CDC_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("event_name", T.StringType()),
        T.StructField("event_ts", T.StringType()),
        T.StructField("pk", T.StringType()),
        T.StructField("sk", T.StringType()),
        T.StructField("new_image_json", T.StringType()),
    ]
)

N_BUCKETS = 16  # hash buckets for index-table partitioning

# Active role scopes, keyed by pipeline identity. A ContextVar (not an
# instance attribute) so concurrent threads / interleaved generators
# sharing one pipeline restore independently — see Pipeline.as_role.
import contextvars as _contextvars

_ACTIVE_ROLES: _contextvars.ContextVar[dict] = _contextvars.ContextVar(
    "spark_graft_active_roles", default={})


def _describe_error(exc: Exception, limit: int = 4000) -> str:
    """DLQ error string for a failed sink write. ``repr()`` alone loses
    the cause for JVM-wrapped task failures (Py4JJavaError's repr is
    just its class + an object id), so fold in ``str()`` — which for
    those carries the full trace including the executor-side Python
    exception message — bounded so a DLQ row never stores an unbounded
    stack."""
    s = str(exc)
    msg = repr(exc) if s in ("", repr(exc)) else f"{type(exc).__name__}: {s}"
    return msg[:limit]


@dataclass
class PipelineConfig:
    """Mirrors the reference's 60-line YAML pipeline definition
    (custom_resource.py:324-384): routes + per-route sink + DLQ.

    ``n_buckets`` sizes the index's hash partitioning: per-batch merge
    cost ∝ touched buckets, so size it ≫ expected concurrent-batch key
    spread but ≪ total keys (each bucket should hold enough rows for
    healthy parquet files). 16 suits the test corpus; a 100 TB index
    wants O(10⁴) so a micro-batch rewrites a small fraction of data."""

    index_root: str
    checkpoint_root: str
    routes: tuple[str, ...] = ("fare", "flight")
    attrs: dict = field(default_factory=lambda: dict(SUPERSET_ATTRS))
    aliases: dict = field(default_factory=lambda: dict(ALIASES))
    n_buckets: int = N_BUCKETS
    # True = deletes persist as _deleted-flagged tombstone rows (with
    # their seq), so a stale lower-seq upsert re-delivered AFTER the
    # delete's batch cannot resurrect the doc. False (default) matches
    # the reference sink: a delete removes the row outright.
    keep_tombstones: bool = False


# OpenSearch SQL-plugin full-text functions → the interpreter's analyzer
# algebra as plain SQL text (codegen-evaluable, no UDF). Longest names
# first so MATCH_PHRASE is not half-eaten by MATCH.
_SQL_FT_RE = re.compile(
    r"\b(MATCH_PHRASE|MATCHPHRASE|MATCH_QUERY|MATCHQUERY|MATCH)\s*\(\s*"
    r"([A-Za-z_][A-Za-z0-9_.]*)\s*,\s*'([^']*)'\s*\)",
    re.IGNORECASE,
)


def _sql_literal_spans(q: str) -> list[tuple[int, int]]:
    """[start, end) spans of single-quoted SQL string literals ('' is
    the escape). Lets the full-text rewrite skip MATCH(...)-shaped text
    that happens to sit INSIDE a literal."""
    spans, i, n = [], 0, len(q)
    while i < n:
        if q[i] != "'":
            i += 1
            continue
        j = i + 1
        while j < n:
            if q[j] == "'":
                if j + 1 < n and q[j + 1] == "'":
                    j += 2
                    continue
                break
            j += 1
        spans.append((i, min(j, n - 1) + 1))
        i = j + 1
    return spans


def _rewrite_sql_fulltext(q: str) -> str:
    from ..operators.search import _analyze_text

    spans = _sql_literal_spans(q)

    def repl(m: re.Match) -> str:
        if any(s <= m.start() < e for s, e in spans):
            return m.group(0)  # inside a string literal — leave verbatim
        fn, field, text = m.group(1).upper(), m.group(2), m.group(3)
        toks = _analyze_text(text)
        if not toks:
            return "TRUE"
        analyzed = (
            f"filter(split(lower({field}), '[^\\\\p{{L}}\\\\p{{Nd}}]+'), "
            "t -> t != '')"
        )
        if fn in ("MATCH_PHRASE", "MATCHPHRASE"):
            phrase = " ".join(toks)
            return (
                f"contains(concat(' ', array_join({analyzed}, ' '), ' '), "
                f"' {phrase} ')"
            )
        quoted = ", ".join(f"'{t}'" for t in toks)
        return f"arrays_overlap({analyzed}, array({quoted}))"

    return _SQL_FT_RE.sub(repl, q)


def _agg_field_refs(spec) -> set[str]:
    """Every field name an aggregation subtree references: values under
    ``field`` keys and string entries of ``fields`` lists, recursively
    (covers metric bodies, multi_terms' terms list, matrix_stats,
    sub-aggs). Used by the field-masking agg rejection."""
    out: set[str] = set()
    if isinstance(spec, dict):
        for k, v in spec.items():
            if k == "field" and isinstance(v, str):
                out.add(v)
            elif k == "fields" and isinstance(v, (list, tuple)):
                out.update(x for x in v if isinstance(x, str))
            else:
                out |= _agg_field_refs(v)
    elif isinstance(spec, (list, tuple)):
        for v in spec:
            out |= _agg_field_refs(v)
    return out


def _bucket_of(n_buckets: int) -> Column:
    """A document's hash bucket: the one placement rule of every
    bucketed write."""
    return F.pmod(F.xxhash64("_id"), F.lit(n_buckets))


# merge bookkeeping columns no mapping or field capability shows
_HIDDEN_COLS = frozenset({"_bucket", "_seq", "_deleted"})
_SCALAR_TYPES = {
    "string": "keyword", "long": "long", "int": "integer",
    "double": "double", "float": "float", "boolean": "boolean",
    "timestamp": "date", "timestamp_ntz": "date", "date": "date",
    "binary": "binary",
}


def _field_mapping(dt) -> dict:
    """A Spark type rendered as an OpenSearch field mapping (public
    field-type names). Arrays map to their element type (OpenSearch
    fields are multi-valued by nature); structs become ``object``
    properties."""
    s = dt.simpleString()
    if s.startswith("array<"):
        return _field_mapping(dt.elementType)
    if s.startswith("struct<"):
        return {"type": "object", "properties": {
            f.name: _field_mapping(f.dataType) for f in dt.fields}}
    return {"type": _SCALAR_TYPES.get(s, "keyword")}


def _resolved_names(resolved) -> dict:
    """Every index in a :meth:`FlightsEtlPipeline._resolve_pattern`
    result → its manifest, filtered-alias members included, first-seen
    order."""
    names, filtered = resolved
    out = dict(names)
    for _flt, sub in filtered:
        for n, m in _resolved_names(sub).items():
            out.setdefault(n, m)
    return out


def _short_aggs(node):
    """A body or aggregation spec with ``aggregations`` (the public long
    spelling) renamed to ``aggs`` at every level of its aggregation
    tree: the interpreter reads only ``aggs``."""
    if not isinstance(node, dict):
        return node
    if "aggregations" in node:
        if "aggs" in node:
            raise ValueError("give 'aggs' or 'aggregations', not both")
        node = {"aggs" if k == "aggregations" else k: v
                for k, v in node.items()}
    if not isinstance(node.get("aggs"), dict):
        return node
    return {**node, "aggs": {n: _short_aggs(s)
                             for n, s in node["aggs"].items()}}


class FlightsEtlPipeline:
    def __init__(self, spark: SparkSession, config: PipelineConfig,
                 sink="index"):
        from ..sources.connectors import SinkConnector, get_sink_connector

        self.spark = spark
        self.cfg = config
        self.router = Router([type_route(r) for r in config.routes])
        # pluggable per-route writer (sources/connectors.py): a name
        # resolves through the registry; an object is used directly.
        # Default "index" = the built-in parquet MERGE sink.
        self.sink = (
            get_sink_connector(sink) if isinstance(sink, str) else sink
        )
        if not callable(getattr(self.sink, "write_route", None)):
            raise TypeError("sink must define write_route()")
        # role-scope identity: a unique token object, NOT id(self) —
        # a context snapshot can outlive this pipeline, and a later
        # object reusing the freed address would otherwise inherit a
        # stale role scope (the dict entry keeps the token alive, so
        # token identity can never be recycled while a scope holds it)
        self._role_token = object()
        self.meta = MetaStore(config.index_root)
        self.store = IndexStore(spark, config.index_root, config.routes)
        # open PITs and scroll cursors, each with the index versions it
        # holds (a _hold resolution); they live in this instance only
        self._pits: dict[str, tuple] = {}
        self._scrolls: dict[str, dict] = {}

    # -- shared transform (one code path for bootstrap and tail, ST2) -------

    def transform_cdc(self, cdc: DataFrame) -> DataFrame:
        # _seq = 2 × source sequence: stream events occupy the EVEN
        # numbers, leaving the odd numbers to synthetic admin batches
        # (delete/update_by_query, reindex — see _next_synth_seq). An
        # admin op can then outrank everything already stored without
        # ever colliding with, or shadowing, a FUTURE stream event:
        # the next real event (source seq strictly greater) maps above
        # any single stacked admin op.
        parsed = parse_item(F.col("new_image_json"))
        return cdc.select(
            F.concat_ws("|", F.col("pk"), F.col("sk")).alias("_id"),
            (F.col("seq").cast("long") * 2).alias("_seq"),
            derive_action(F.col("event_name")).alias("_action"),
            *unmarshal(parsed, self.cfg.attrs, aliases=self.cfg.aliases),
        )

    def transform_export(self, items: DataFrame, base_seq: int = 0) -> DataFrame:
        """Export snapshot rows (item_json) → same shape as a CDC batch of
        INSERTs at sequence `base_seq` (history-before-stream, ST1)."""
        as_cdc = items.select(
            F.lit(base_seq).alias("seq"),
            F.lit("INSERT").alias("event_name"),
            F.lit(None).cast("string").alias("event_ts"),
            F.get_json_object("item_json", "$.PK.S").alias("pk"),
            F.get_json_object("item_json", "$.SK.S").alias("sk"),
            F.col("item_json").alias("new_image_json"),
        )
        return self.transform_cdc(as_cdc)

    # -- index table I/O ------------------------------------------------------

    def read_index(self, route: str) -> DataFrame | None:
        """The route's index table as a frame, or None when it was never
        materialized (:meth:`~.store.IndexStore.frame`). Each call
        re-reads the manifest, so a write through another pipeline on
        the same ``index_root`` shows on the next read."""
        return self.store.frame(route)

    def _merge_route(self, route_df: DataFrame, route: str,
                     admin: bool = False) -> None:
        """MERGE one route's slice of a micro-batch into its index table.

        Only the hash buckets present in the batch are rewritten — merge
        cost ∝ touched buckets — and published copy-on-write with
        ``replace`` = those buckets (:meth:`~.store.IndexStore.commit`),
        so a bucket whose deletes wiped every doc drops out of the
        manifest and off disk. The whole read-merge-publish holds the
        route's lock: a concurrent writer (a client bulk racing a
        micro-batch) waits instead of publishing over it. An ``admin``
        batch's ``_seq`` values are offsets from the next admin sequence
        (:meth:`_next_synth_seq`), added inside that lock hold, so two
        admin writes to one route never share a sequence.

        Spark work per route: one global ``collect_set`` brings the
        touched buckets (at most ``n_buckets`` values) to the driver,
        then the write runs the merge with a single shuffle — the union
        of the touched stored buckets and the batch is hash-partitioned
        by ``_bucket`` and reduced once (:func:`apply_cdc_batch`), so
        each write task holds whole buckets and writes one file per
        bucket.
        """
        with self.store.lock(route):
            m = self.store.manifest(route)
            current = self.store.frame(route, m)
            if admin:
                route_df = route_df.withColumn(
                    "_seq", F.col("_seq") + self._next_synth_seq(current))
            # the route's LIVE bucket count governs placement — a resized
            # index (_split/_shrink) differs from cfg.n_buckets — so
            # incoming rows are bucketed here, at write time
            nb = self._route_n_buckets(route, m)
            batch = route_df.withColumn("_bucket", _bucket_of(nb)).persist()
            try:
                # bounded: at most n_buckets values reach the driver
                touched = batch.agg(F.collect_set("_bucket")).first()[0]
                if not touched:
                    return
                if current is not None:
                    current = current.filter(F.col("_bucket").isin(touched))
                merged = apply_cdc_batch(
                    current, batch, keep_tombstones=self.cfg.keep_tombstones
                )
                self.store.publish(route, merged, replace=touched,
                                   n_buckets=nb)
            finally:
                batch.unpersist()

    def _write_dlq(self, failed: DataFrame, route: str, error: str) -> None:
        """Park ``failed`` with its ``_error`` and ``_route`` as an append
        to the store table ``dlq/<route>`` (the next manifest version)."""
        self.store.publish(
            f"dlq/{route}",
            failed.withColumn("_error", F.lit(error))
            .withColumn("_route", F.lit(route)),
            replace=())

    def replay_dlq(self, route: str, epoch_id: int = -2) -> int:
        """Recover dead-lettered writes — the reason the reference keeps
        a DLQ at all (custom_resource.py:358-363,378-383 parks failed
        bulk payloads so an operator can re-drive them once the sink
        heals): re-read the route's DLQ table and push it through the
        SAME ``sink.write_route`` as live traffic. Safe to run any time:

        - idempotent effect: actions are keyed by ``_id`` and merged
          LWW by ``_seq``, so replayed rows already superseded by newer
          stream data cannot regress the index, and a double replay
          re-delivers the same terminal actions (at-least-once
          delivery, exactly-once effect — the parquet MERGE and the
          bulk sinks share the rule);
        - snapshot-exact clearing: the replay reads ONE manifest version
          of ``dlq/<route>`` and, only AFTER ``write_route`` returns,
          drops exactly that version's files
          (:meth:`~.store.IndexStore.drop`) — slices parked by a
          still-failing concurrent stream while the replay runs are
          neither replayed nor dropped, and a replay that fails leaves
          every slice parked for the next attempt (and raises);
        - a metrics row (epoch ``epoch_id``, default -2) is APPENDED, as
          its own uniquely named file, so consecutive replays of
          different routes (or repeated replays of one route after
          separate outages) each keep their audit row — replacing the
          shared replay epoch's file would erase the earlier one.

        Returns the number of replayed rows (0 = empty DLQ, a no-op).
        Read failures (corrupt slices, permissions) propagate — silently
        skipping recovery must not look like a clean no-op.
        """
        name = f"dlq/{route}"
        m = self.store.manifest(name)
        if m is None:
            return 0  # nothing parked for this route
        # break lineage off the files about to be dropped, so clearing
        # the DLQ never races a lazy re-read of its own input
        dead = self.store.frame(name, m).drop(
            "_error", "_route").localCheckpoint(eager=True)
        n = dead.count()
        if n:
            self.sink.write_route(self, route, dead, epoch_id)
            n_delete = dead.filter(F.col("_action") == "delete").count()
        self.store.drop(name, [f for fs in m["files"].values() for f in fs])
        if n:
            self._put_metrics(
                epoch_id, [(route, n, n, n, n_delete, 0)], append=True)
        return n

    # -- batch entry points ----------------------------------------------------

    def bootstrap(self, items: DataFrame) -> None:
        """Initial load from a full export (SURVEY §3.3): one MERGE per
        route. Metrics epoch for the bootstrap batch is -1."""
        batch = self.transform_export(items)
        self._apply_batch(batch, epoch_id=-1)

    def bootstrap_from(self, source: str, options: dict | None = None) -> None:
        """Bootstrap through a REGISTERED source connector instead of a
        caller-supplied frame — the export-snapshot half of the
        connector seam (sources/connectors.py). The connector returns
        the item_json frame; transform/route/merge are identical."""
        from ..sources.connectors import get_source_connector

        conn = get_source_connector(source)
        self.bootstrap(conn.read_export(self.spark, options or {}))

    def _apply_batch(self, batch: DataFrame, epoch_id: int = -1) -> None:
        # REMOVE events carry no image (NEW_IMAGE stream view → keys only),
        # so route predicates over document fields are NULL for them.
        # Deletes therefore bypass routing and are applied to every route's
        # index by key (a delete for an absent key is a no-op).
        batch = batch.persist()
        try:
            deletes = batch.filter(F.col("_action") == "delete")
            parts = self.router.split(batch.filter(F.col("_action") != "delete"))
            dlq_counts: dict[str, int] = {}
            for route in self.cfg.routes:
                slice_ = parts[route].unionByName(deletes)
                try:
                    self.sink.write_route(self, route, slice_, epoch_id)
                    dlq_counts[route] = 0
                except Exception as exc:  # DLQ side-output (W3) — never lose docs
                    dlq_counts[route] = slice_.count()
                    self._write_dlq(slice_, route, _describe_error(exc))
            self._write_metrics(batch, epoch_id, dlq_counts)
        finally:
            batch.unpersist()

    # -- observability (W5 — reference analog: the vended CloudWatch log
    #    group, lib/opensearch-dynamodb-etl-cdk-stack.ts:104-108) ---------

    def _write_metrics(
        self, batch: DataFrame, epoch_id: int, dlq_counts: dict[str, int]
    ) -> None:
        """Write one row per route (plus the audited drop) to the
        ``_metrics`` table: rows in / routed / merged / deleted / DLQ'd
        per micro-batch. The counts come from ONE aggregation over the
        already-persisted batch (deletes group under a null route), and
        only counts reach the driver, which writes the few rows itself
        (:meth:`_put_metrics`) — no Spark job for the write."""
        counts = {
            r[0]: r[1]
            for r in self.router.tag(batch, "_route")
            .groupBy(F.when(F.col("_action") != "delete", F.col("_route")))
            .count().collect()
        }
        n_delete = counts.pop(None, 0)
        n_in = sum(counts.values()) + n_delete
        rows = []
        for route in self.cfg.routes:
            routed = counts.get(route, 0)
            dlq = dlq_counts.get(route, 0)
            merged = 0 if dlq else routed
            rows.append((route, n_in, routed, merged, n_delete, dlq))
        rows.append(("dropped", n_in, counts.get(UNROUTED, 0), 0, 0, 0))
        self._put_metrics(epoch_id, rows)

    def _put_metrics(self, epoch_id: int, rows: list[tuple],
                     append: bool = False) -> None:
        """Write ``_metrics`` rows for one epoch from the driver, as one
        parquet file in ``_metrics/epoch=<epoch_id>/`` (local FS, like
        the index publish). The file is written under a hidden tmp name
        and renamed into place. By default it is ``part-00000.parquet``
        and every other data file of the epoch is then deleted: a
        re-delivered micro-batch replaces its epoch's rows instead of
        appending duplicates, so metrics stay exactly-once like the
        data. ``append`` gives the file a unique name and keeps the
        epoch's other files."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        d = os.path.join(self.cfg.index_root, "_metrics", f"epoch={epoch_id}")
        os.makedirs(d, exist_ok=True)
        name = (f"part-{uuid.uuid4().hex}.parquet" if append
                else "part-00000.parquet")
        tmp = os.path.join(d, f".{name}.tmp")
        cols = ("route", "rows_in", "rows_routed", "rows_merged",
                "rows_deleted", "rows_dlq")
        schema = pa.schema([(c, pa.string() if c == "route" else pa.int64())
                            for c in cols])
        pq.write_table(pa.Table.from_pylist(
            [dict(zip(cols, r)) for r in rows], schema=schema), tmp)
        os.replace(tmp, os.path.join(d, name))
        if append:
            return
        for fn in os.listdir(d):
            if fn != name and not fn.startswith(("_", ".")):
                for f in (fn, f".{fn}.crc"):
                    try:
                        os.remove(os.path.join(d, f))
                    except FileNotFoundError:
                        pass

    def read_metrics(self) -> DataFrame | None:
        """The ``_metrics`` table (``epoch`` is its integer partition
        column), or None when no batch has written one yet. Any other
        read failure — a corrupt file, say — propagates."""
        path = os.path.join(self.cfg.index_root, "_metrics")
        if not os.path.exists(path):
            return None
        return self.spark.read.parquet(path)

    # -- streaming entry point ---------------------------------------------------

    def start_stream(self, cdc_path: str | None = None,
                     trigger_once: bool = True,
                     source: str | None = None,
                     options: dict | None = None):
        """Tail CDC events. Two entry shapes, ONE downstream path:

        * ``start_stream(cdc_path)`` — the built-in file source
          (``FileSource`` in sources/connectors.py, the test stand-in
          for the DynamoDB-Streams poller) over ``cdc_path``.
        * ``start_stream(source="kinesis", options={...})`` — any
          REGISTERED source connector (sources/connectors.py); its
          ``read_stream`` must return a streaming frame with the CDC
          schema. Prod swaps in Kinesis/Kafka this way with
          start_position LATEST ≙ startingOffsets latest.

        Either way the stream runs the same transform → route → sink
        merge with the same checkpointing.
        """
        from ..sources.connectors import FileSource, get_source_connector

        if source is not None:
            conn = get_source_connector(source)
        elif cdc_path is not None:
            conn, options = FileSource(), {"stream_path": cdc_path}
        else:
            raise ValueError("start_stream needs cdc_path or source=")
        stream = conn.read_stream(self.spark, options or {})
        if stream is None or not stream.isStreaming:
            raise TypeError(
                f"source {source!r} read_stream must return a "
                "streaming DataFrame"
            )
        transformed = self.transform_cdc(stream)

        def process(batch_df: DataFrame, epoch_id: int) -> None:
            self._apply_batch(batch_df, epoch_id=epoch_id)

        writer = (
            transformed.writeStream.foreachBatch(process)
            .option("checkpointLocation", self.cfg.checkpoint_root)
            .outputMode("update")
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # -- maintenance -----------------------------------------------------------

    def _route_n_buckets(self, route: str, m: dict | None = None) -> int:
        """The route's live hash-bucket count, from its manifest (``m``,
        read when not given): every bucketed publish records the count
        it placed rows by. No count there (an adopted directory, a
        rollover's empty generation) means the pipeline default. A route
        not yet materialized takes a matching index template's count
        (the public create-time settings), else the default; its first
        publish records it, so a later template never re-buckets it."""
        m = m or self.store.manifest(route)
        if m is not None:
            return int(m["n_buckets"] or self.cfg.n_buckets)
        return self.simulate_index_template(route)["n_buckets"]

    # -- index blocks ---------------------------------------------------------

    def add_block(self, route: str, block: str) -> dict:
        """``PUT /<index>/_block/<block>`` analog. ``write`` rejects
        document writes (bulk / doc CRUD / update_by_query /
        delete_by_query / reindex-into), ``read_only`` additionally
        freezes metadata ops (split/shrink). Blocks persist in the
        route's manifest beside its bucket count, and a later data
        publish carries them over. The CDC stream itself is NOT
        gated — it is the system of record replaying upstream truth,
        and wedging the checkpointed stream on a client-facing block
        would turn a soft guard into data loss; block the client verbs,
        drain the source instead."""
        if block not in ("write", "read_only"):
            raise ValueError(f"unsupported block {block!r}")
        m = self.store.update(route, lambda m: m.update(
            blocks=sorted({*m["blocks"], block})))
        return {"acknowledged": True, "blocks": m["blocks"]}

    def remove_block(self, route: str, block: str) -> dict:
        m = self.store.update(route, lambda m: m.update(
            blocks=sorted(set(m["blocks"]) - {block})))
        return {"acknowledged": True, "blocks": m["blocks"]}

    def close_index(self, route: str) -> dict:
        """``POST /<index>/_close`` analog: the index refuses reads AND
        writes but keeps its data (the manifest's ``closed`` flag — no
        data move, instant either way); :meth:`open_index` reverses. The
        closed state is its OWN flag, not an added write block, so
        opening never clears a write block the user set independently
        (the public _open does not touch index.blocks.write)."""
        self.store.update(route, lambda m: m.update(closed=True))
        return {"acknowledged": True}

    def open_index(self, route: str) -> dict:
        self.store.update(route, lambda m: m.update(closed=False))
        return {"acknowledged": True}

    def _open_manifest(self, route: str, op: str) -> dict | None:
        """The route's manifest (None = not materialized), or
        ``PermissionError`` when the index is closed."""
        m = self.store.manifest(route)
        if m is not None and m["closed"]:
            raise PermissionError(
                f"{op}: index {route!r} is closed "
                "(the public index_closed_exception)"
            )
        return m

    def _check_write_block(self, route: str, op: str) -> None:
        self._check_role("write", route)
        blocks = (self._open_manifest(route, op) or {}).get("blocks", [])
        if {"write", "read_only"} & set(blocks):
            raise PermissionError(
                f"{op}: index {route!r} is write-blocked "
                f"({blocks}) — the public index_blocked error"
            )

    def _resize_index(self, route: str, new_n: int) -> dict:
        with self.store.lock(route):
            m = self.store.manifest(route)
            if m is not None and "read_only" in m["blocks"]:
                raise PermissionError(f"resize: index {route!r} is read_only")
            if m is None:
                raise ValueError(
                    f"resize: index {route!r} is not materialized")
            self.store.publish(
                route,
                self.store.frame(route, m)
                .withColumn("_bucket", _bucket_of(new_n)),
                n_buckets=new_n,
            )
        return {"acknowledged": True, "n_buckets": new_n}

    def split_index(self, route: str, factor: int = 2) -> dict:
        """``_split`` analog: multiply the route's hash-bucket count.

        Because placement is ``pmod(hash, n)``, a row in old bucket
        ``b`` can only land in ``{b, b+n, b+2n, ...}`` under
        ``n*factor`` — every old bucket fans out to a DISJOINT set of
        new buckets, so the rewrite is MAP-ONLY (no shuffle, no
        cross-bucket data movement), exactly why the public API
        restricts split targets to multiples of the source shard
        count. The new count is published in the route's manifest, the
        one record of it, so subsequent merges place rows by it."""
        if factor < 2:
            raise ValueError("split factor must be >= 2")
        with self.store.lock(route):  # the count cannot change meanwhile
            return self._resize_index(
                route, self._route_n_buckets(route) * int(factor))

    def shrink_index(self, route: str, factor: int = 2) -> dict:
        """``_shrink`` analog: divide the bucket count. ``pmod(hash,
        n/factor)`` sends each old bucket wholly into ONE new bucket
        (b mod n/factor) — again map-only; the new bucket's files are
        the union of ``factor`` old buckets' files until the next
        :meth:`compact` coalesces them. The public API's same
        constraint applies: the target must divide the source count."""
        with self.store.lock(route):  # the count cannot change meanwhile
            nb = self._route_n_buckets(route)
            if factor < 2 or nb % int(factor) != 0:
                raise ValueError(
                    f"shrink factor must be >= 2 and divide the current "
                    f"bucket count {nb}"
                )
            return self._resize_index(route, nb // int(factor))

    def compact(
        self, route: str, files_per_bucket: int = 1, purge_tombstones: bool = False
    ) -> None:
        """Rewrite a route's index with bounded files per hash bucket.

        Every micro-batch MERGE rewrites its touched buckets, so steady
        streaming accumulates small files (the classic streaming-sink
        pathology: at scale, scan cost becomes file-count-bound, not
        byte-bound). Compaction is the same copy-on-write publish the
        MERGE uses, over every bucket and under the route's lock: one
        coalesced file set per bucket, same data, run off the hot path.
        ``purge_tombstones`` drops ``_deleted`` rows (retention
        boundary: a stale upsert older than the purged tombstone CAN
        resurrect after the purge — run purges only past the source's
        maximum re-delivery horizon)."""
        with self.store.lock(route):
            m = self.store.manifest(route)
            current = self.store.frame(route, m) if m else None
            if current is None:
                return
            if purge_tombstones and "_deleted" in current.columns:
                current = current.filter(~F.col("_deleted"))
            nb = self._route_n_buckets(route, m)
            self.store.publish(
                route, current.repartition(nb * files_per_bucket, "_bucket"),
                n_buckets=nb,
            )

    # -- query surface over the materialized indexes -------------------------

    def index_view(self, route: str, _system: bool = False) -> DataFrame | None:
        """Live documents of one index, UNMASKED, for internal callers
        (merges, maintenance, by-query writes); public reads add field
        masking (:meth:`_read_view`). Tombstone rows (``_deleted``) are
        a merge detail, never part of results. Role-scoped: under
        ``as_role(...)`` an index outside the role's grants raises (the
        public security_exception) and the role's DLS query filters the
        rows. ``_system`` marks the pipeline's own internal reads (e.g.
        the current-image fetch inside a by-id bulk write), run with the
        engine's authority like the public plugin's system reads, so a
        write-only role can ingest. No side effect: only :meth:`sql`
        registers SQL views."""
        return self._live(route, self.store.manifest(route), _system)

    def _live(self, name: str, m: dict | None, system: bool = False):
        """:meth:`index_view` over manifest ``m`` of index ``name``; None
        (after the role check) when ``m`` is None."""
        dls = None
        if not system:
            self._check_role("read", name)
            dls = self._active_dls_query(name)
        if m is None:
            return None
        df = self.store.frame(name, m)
        if "_deleted" in df.columns:
            df = df.filter(~F.col("_deleted")).drop("_deleted")
        if dls is not None:
            # document-level security: the role's query filter scopes
            # EVERY read surface here (search/count/mget/sql/ppl/PIT all
            # assemble from this view) and compiles into the scan as a
            # pushed predicate, like a filtered alias
            from ..operators.search import compile_query

            df = df.filter(compile_query(dls))
        return df

    def _read_view(self, name: str, m: dict | None) -> DataFrame | None:
        """The per-index step of every public read: :meth:`index_view`
        over manifest ``m`` (a resolved version, or one a PIT or scroll
        holds), then field masking."""
        return self._apply_field_masking(self._live(name, m), name)

    def count(self, pattern: str, query: dict | None = None) -> int:
        """``GET /<index>/_count`` analog: documents matching a DSL
        query body across an index pattern (aliases and wildcards
        resolve as in :meth:`multi_index_view`; lookups and stored
        scripts as in :meth:`search`). The predicate pushes into each
        route's scan; the count aggregate is map-side partial — no
        document ever leaves the executors."""
        from ..operators.search import compile_query

        view = self.multi_index_view(pattern)
        if view is None:
            return 0
        q = (query or {}).get("query", query) or {"match_all": {}}
        return view.filter(compile_query(self._resolve_refs(q))).count()

    # -- single-document CRUD (thin wrappers over bulk/mget: same LWW
    # merge path, same admin-sequence semantics) ----------------------------

    def get_doc(self, route: str, doc_id: str) -> dict | None:
        """``GET /<index>/_doc/<id>`` analog: the document as a dict,
        or None (found=false)."""
        got = self.mget(route, [str(doc_id)])
        rows = got.limit(1).collect() if got is not None else []
        return rows[0].asDict() if rows else None

    def index_doc(self, route: str, doc_id: str, doc: dict) -> dict:
        """``PUT /<index>/_doc/<id>`` analog: full-document index
        (replace)."""
        return self.bulk(route, [{"index": {"_id": str(doc_id),
                                            "doc": doc}}])

    def update_doc(self, route: str, doc_id: str, doc: dict) -> dict:
        """``POST /<index>/_update/<id>`` analog: partial merge —
        unspecified fields preserved; missing document raises (the
        public document_missing_exception)."""
        return self.bulk(route, [{"update": {"_id": str(doc_id),
                                             "doc": doc}}])

    def delete_doc(self, route: str, doc_id: str) -> dict:
        """``DELETE /<index>/_doc/<id>`` analog."""
        return self.bulk(route, [{"delete": {"_id": str(doc_id)}}])

    def mget(self, route: str, ids: list[str]) -> DataFrame | None:
        """``_mget`` analog: fetch documents by ``_id`` list from one
        index — a pushable IN-predicate on the keyed table (the bucket
        layout means only matching buckets' row groups survive
        min/max pruning). Missing ids are simply absent, as the public
        response marks them found=false."""
        idx = self._read_view(route, self._open_manifest(route, "mget"))
        if idx is None:
            return None
        return idx.filter(F.col("_id").isin(list(ids)))

    def cat_aliases(self) -> list[dict]:
        """``_cat/aliases`` analog: one row per alias → index pattern."""
        return [
            {"alias": a, "index": p}
            for a, p in sorted(self.get_aliases().items())
        ]

    def cat_count(self, pattern: str = "*") -> dict:
        """``_cat/count`` analog: live doc count across a pattern."""
        view = self.multi_index_view(pattern)
        return {"count": 0 if view is None else view.count()}

    def termvectors(
        self, route: str, doc_id: str, fields: list[str],
        term_statistics: bool = False,
    ) -> dict:
        """``GET /<index>/_termvectors/<id>`` analog: per-field analyzed
        terms of ONE document with term frequency and positions; with
        ``term_statistics``, each term also carries its corpus document
        frequency and total term frequency — computed in ONE bounded
        aggregate over the index (only the requested doc's terms are
        counted: a semi-filter on the term set, never a full vocabulary
        materialization)."""
        from ..operators.search import _analyze, _analyze_text

        masked = set(self.get_field_masking(route).get("fields", []))
        bad = sorted(set(fields) & masked)
        if bad:
            # analyzed terms + corpus statistics of a masked field ARE
            # its values — the same leak the agg rejection closes
            raise ValueError(f"termvectors on masked fields {bad} "
                             "is rejected")
        fetched = self.mget(route, [str(doc_id)])
        # bounded: mget of ONE doc_id — at most one row
        rows = [] if fetched is None else fetched.collect()
        if not rows:
            raise ValueError(f"termvectors: no document {doc_id!r}")
        doc = rows[0].asDict()
        out: dict = {"_id": str(doc_id), "term_vectors": {}}
        idx = self.index_view(route)
        for f in fields:
            if f not in doc:
                raise ValueError(f"termvectors: no field {f!r}")
            toks = _analyze_text(str(doc[f] or ""))
            terms: dict[str, dict] = {}
            for pos, t in enumerate(toks):
                e = terms.setdefault(t, {"term_freq": 0, "positions": []})
                e["term_freq"] += 1
                e["positions"].append(pos)
            if term_statistics and terms:
                tset = list(terms)
                # the engine's ONE analyzer — the doc-side term list
                # above and this stats column must tokenize identically
                toks_col = _analyze(F.col(f))
                def _tf_sum(term: str) -> Column:
                    # one-arg lambda only: F.filter passes the element
                    # INDEX to a second parameter, even a defaulted one
                    return F.sum(F.size(
                        F.filter(toks_col, lambda x: x == term)
                    ))

                aggs = []
                for i, t in enumerate(tset):
                    aggs.append(F.sum(
                        F.array_contains(toks_col, t).cast("long")
                    ).alias(f"__df{i}"))
                    aggs.append(_tf_sum(t).alias(f"__tf{i}"))
                srow = idx.agg(*aggs).collect()[0]
                for i, t in enumerate(tset):
                    terms[t]["doc_freq"] = srow[f"__df{i}"]
                    terms[t]["ttf"] = srow[f"__tf{i}"]
            out["term_vectors"][f] = {"terms": terms}
        return out

    def cluster_health(self) -> dict:
        """``GET /_cluster/health`` analog: green when every configured
        route is materialized and readable, yellow when some are not
        yet bootstrapped — the operational liveness answer, one cheap
        listing + counts."""
        live = [n for n in self.store.names()
                if self.store.manifest(n) is not None]
        status = "green" if set(self.cfg.routes) <= set(live) else "yellow"
        return {
            "status": status,
            "number_of_indices": len(live),
            "active_routes": sorted(set(self.cfg.routes) & set(live)),
            "pending_routes": sorted(set(self.cfg.routes) - set(live)),
        }

    def cluster_stats(self) -> dict:
        """``GET /_cluster/stats`` analog: the fleet-wide rollup —
        index count, total live docs, total tombstones, on-disk bytes,
        and the engine's parallelism figure standing in for node
        count. One aggregate per live index (bounded by index count,
        never corpus-shaped) plus a filesystem listing."""
        docs = tombstones = size = 0
        frames = {n: df for n in self.store.names()
                  if (df := self.read_index(n)) is not None}
        for name, df in frames.items():
            agg = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.col("_deleted").cast("long")
                    if "_deleted" in df.columns else F.lit(0)
                ).alias("t"),
            ).collect()[0]
            docs += int(agg["n"]) - int(agg["t"] or 0)
            tombstones += int(agg["t"] or 0)
            size += self.store.size(name)
        return {
            "indices": {
                "count": len(frames),
                "docs": {"count": docs, "deleted": tombstones},
                "store": {"size_in_bytes": size},
            },
            "nodes": {
                "count": {"total": 1},
                "parallelism": self.spark.sparkContext.defaultParallelism,
            },
        }

    def forcemerge(self, route: str, *, max_num_segments: int = 1,
                   only_expunge_deletes: bool = False) -> dict:
        """``POST /<index>/_forcemerge`` analog: segment-count bound →
        files-per-bucket bound, expunge-deletes → tombstone purge.
        Delegates to :meth:`compact` (the same dynamic-partition
        rewrite the MERGE path uses), so the public maintenance verb
        and the engine's native one cannot drift."""
        self.compact(
            route,
            files_per_bucket=max(1, int(max_num_segments)),
            purge_tombstones=bool(only_expunge_deletes),
        )
        return {"acknowledged": True}

    def cat_indices(self) -> list[dict]:
        """``_cat/indices`` analog: one dict per route with live doc
        count, tombstone count, bucket count, and on-disk bytes — the
        operational snapshot an index operator reads daily (pairs with
        the per-batch ``_metrics`` table, W5). Counts come from one
        aggregate per index; sizes from the filesystem listing."""
        out = []
        for route in self.cfg.routes:
            m = self.store.manifest(route)
            df = self.store.frame(route, m) if m else None
            if df is None:
                out.append({"index": route, "status": "missing",
                            "docs": 0, "tombstones": 0, "buckets": 0,
                            "bytes": 0})
                continue
            has_tomb = "_deleted" in df.columns
            row = df.agg(
                F.count(F.lit(1)).alias("rows"),
                (F.sum(F.col("_deleted").cast("long")) if has_tomb
                 else F.lit(0)).alias("tombs"),
                F.countDistinct("_bucket").alias("buckets"),
            ).head()
            out.append({
                "index": route,
                "status": "close" if m["closed"] else "open",
                "docs": int(row["rows"]) - int(row["tombs"] or 0),
                "tombstones": int(row["tombs"] or 0),
                "buckets": int(row["buckets"]),
                "bytes": self.store.size(route),
                "blocks": m["blocks"],
            })
        return out

    _INTERNAL_COLS = ("_id", "_seq", "_action", "_bucket", "_deleted")

    def _next_synth_seq(self, idx: DataFrame | None) -> int:
        """Next ODD sequence number above everything stored: admin
        batches live in the odd half of the sequence space (stream
        events are even, transform_cdc), so a single admin op outranks
        all stored images yet still loses to the NEXT real stream event
        (2·(s_max+1) > 2·s_max+1). Stacked admin ops stay monotonic;
        k ops in a row shadow at most the next k−1 stream events of the
        touched keys — the same conflict window public by-query APIs
        resolve with versioned conflict aborts."""
        if idx is None or "_seq" not in idx.columns:
            return 1
        top = int(idx.agg(F.max("_seq").alias("m")).head()["m"] or 0)
        return top + 1 if top % 2 == 0 else top + 2

    def _validate_set_fields(self, cols, set_fields: dict, op: str) -> None:
        for col_name in set_fields:
            if col_name in self._INTERNAL_COLS:
                raise ValueError(
                    f"{op}: {col_name!r} is an internal merge column — "
                    "scripts cannot rewrite identity/sequence/bucket "
                    "invariants"
                )
            if col_name not in cols:
                raise ValueError(f"{op}: no field {col_name!r}")

    def _script_map(self, script, cols, op: str, what: str) -> dict:
        """A write ``script`` as a column → expression map over ``cols``.
        A public script envelope (stored-script reference, or inline
        source + params) resolves through :meth:`resolve_script`; the
        sniff is column-aware — a bare map whose keys ALL name real data
        columns (an index CAN have columns called id/source/lang) is a
        column map, never an envelope — otherwise such columns would be
        un-updatable. Internal and unknown columns are rejected."""
        if isinstance(script, dict) and set(script) <= {
            "id", "source", "params", "lang"
        } and ("id" in script or "source" in script) \
                and not set(script) <= set(cols):
            script = self.resolve_script(script)
            if not isinstance(script, dict):
                raise ValueError(
                    f"{what} script must resolve to a column→expression map"
                )
        self._validate_set_fields(cols, dict(script), op)
        return script

    def _write_by_query(self, route: str, query: dict, op: str,
                        action: str, set_fields=None) -> int:
        """The shared body of :meth:`delete_by_query` and
        :meth:`update_by_query`: the live documents matching ``query``
        (scanned once, persisted for the count), with ``set_fields``
        applied, re-enter the index as one ``action`` batch at the next
        admin sequence through the SAME CDC merge as streamed events.
        Returns the matched count."""
        from ..operators.search import compile_query

        self._check_write_block(route, op)
        self._check_masked_write(route, op)
        self._check_dls_write(route, op)
        # the match and the merge read one version (the lock is an RLock)
        with self.store.lock(route):
            idx = self.index_view(route)
            if idx is None:
                return 0
            if set_fields is not None:
                set_fields = self._script_map(set_fields, idx.columns, op, op)
            matches = idx.filter(compile_query(query)).persist()
            try:
                n = matches.count()
                if n == 0:
                    return 0
                batch = matches
                for col_name, expr in (set_fields or {}).items():
                    # script dialect with the JVM/UDF escape hatches blocked
                    # (functions/scripts.py); wrap in unsafe_scripts_allowed()
                    # for a trusted administrative caller needing them.
                    batch = batch.withColumn(col_name, safe_expr(expr))
                batch = batch.withColumn("_seq", F.lit(0).cast("long")) \
                    .withColumn("_action", F.lit(action))
                self._merge_route(batch, route, admin=True)
                return n
            finally:
                matches.unpersist()

    def delete_by_query(self, route: str, query: dict) -> int:
        """``_delete_by_query`` analog: documents matching a DSL query
        body are deleted through the SAME CDC merge path as streamed
        REMOVEs — a synthetic delete batch at the next (odd, admin-half)
        sequence number, so last-write-wins ordering, emptied-bucket
        removal, and tombstone mode all apply unchanged. Returns the
        deleted count (the public response's ``deleted`` field). The
        index is scanned once for the match (persisted), then merge
        cost ∝ touched buckets like a streamed micro-batch."""
        return self._write_by_query(route, query, "delete_by_query",
                                    "delete")

    def update_by_query(
        self, route: str, query: dict, set_fields: dict[str, str]
    ) -> int:
        """``_update_by_query`` analog: matching documents get
        ``set_fields`` (column → Spark SQL expression, this engine's
        script dialect; internal merge columns are rejected) applied and
        re-enter the index as upserts at the next admin sequence number
        — the same MERGE path as streamed MODIFYs. Returns the updated
        count. A stream event arriving after the update carries a higher
        effective sequence and wins, exactly like a subsequent index op
        after a public update_by_query."""
        return self._write_by_query(route, query, "update_by_query",
                                    "upsert", set_fields)

    def reindex(
        self,
        source: str,
        dest: str,
        query: dict | None = None,
        set_fields: dict[str, str] | None = None,
        pipeline: str | dict | None = None,
    ) -> int:
        """``_reindex`` analog: copy the source index's live documents
        (optionally filtered by a DSL ``query``, transformed by
        ``set_fields`` script expressions and/or an ingest ``pipeline``
        — a registered id or an inline ``{"processors": [...]}`` body)
        into ``dest``'s index table through the same keyed merge path —
        re-runnable (per-key upserts), bucket layout preserved. The
        processor chain folds into the SAME plan that writes the index:
        ingest transforms cost zero extra passes. ``dest`` may be a new
        table name outside the configured routes. Returns the copied
        count."""
        from ..operators.search import compile_query

        self._check_write_block(dest, "reindex")
        # reindex is a query-matched (optionally scripted) write: when
        # the DEST is DLS-scoped for the active role, merged documents
        # could cross the role's slice boundary (set_fields rewriting
        # the filtered column is the obvious channel) — same rejection
        # as update_by_query. The SOURCE read needs no check: it flows
        # through index_view, which already applies the DLS filter, so
        # a copy carries only the visible slice.
        self._check_dls_write(dest, "reindex")
        if dest in self.get_aliases():
            raise ValueError(
                f"reindex: {dest!r} is an alias name — it would shadow "
                "the new index (the public API rejects this collision)"
            )
        # masking applies to the source READ (the public behavior:
        # _reindex runs with the reader's DLS/FLS/masking scope) —
        # copying originals out of a masked index would be the obvious
        # bypass channel
        src = self._read_view(source,
                              self._open_manifest(source, "reindex"))
        if src is None:
            raise ValueError(f"no such index: {source!r}")
        self._validate_set_fields(src.columns, set_fields or {}, "reindex")
        batch = src
        if query is not None:
            batch = batch.filter(compile_query(query))
        for col_name, expr in (set_fields or {}).items():
            batch = batch.withColumn(col_name, safe_expr(expr))
        if pipeline is not None:
            from ..functions.ingest import apply_processors

            batch = apply_processors(
                batch, self._ingest_processors(pipeline)
            )
            if "_id" not in batch.columns:
                raise ValueError(
                    "reindex pipeline removed _id — documents would be "
                    "unaddressable"
                )
        n = batch.count()
        if n == 0:
            return 0
        batch = batch.withColumn("_seq", F.lit(0).cast("long")).withColumn(
            "_action", F.lit("index"))
        self._merge_route(batch, dest, admin=True)
        return n

    def rollover(
        self,
        alias: str,
        conditions: dict | None = None,
        new_index: str | None = None,
    ) -> dict:
        """``POST /<alias>/_rollover`` analog: when the alias's single
        write index meets a condition (``max_docs`` live documents,
        ``max_size_bytes`` on disk; no conditions = roll
        unconditionally), the next generation is created EMPTY with the
        same schema and the alias atomically flips to it — the standard
        time/size-sliced index lifecycle. The old generation stays
        readable under its own name and in wildcard patterns. The new
        name is the old one with its ``-NNNNNN`` suffix incremented
        (or ``new_index`` explicitly, as in the public API)."""
        target = self.get_aliases().get(alias)
        if target is None or "," in target or "*" in target:
            raise ValueError(
                f"rollover: alias {alias!r} must point to exactly one "
                f"index (got {target!r})"
            )
        cur = self.index_view(target)
        if cur is None:
            raise ValueError(f"rollover: index {target!r} not materialized")

        met: dict[str, bool] = {}
        conds = conditions or {}
        if "max_docs" in conds:
            met["max_docs"] = cur.count() >= int(conds["max_docs"])
        if "max_size_bytes" in conds:
            met["max_size_bytes"] = (self.store.size(target)
                                     >= int(conds["max_size_bytes"]))
        rolled = (not conds) or any(met.values())
        if not rolled:
            return {"rolled_over": False, "old_index": target,
                    "new_index": None, "conditions": met}

        if new_index is None:
            m = re.match(r"^(.*)-(\d+)$", target)
            if not m:
                raise ValueError(
                    f"rollover: index {target!r} has no -NNNNNN suffix; "
                    "pass new_index explicitly (the public API's rule)"
                )
            new_index = f"{m.group(1)}-{int(m.group(2)) + 1:0{len(m.group(2))}d}"
        if self.store.exists(new_index):
            raise ValueError(f"rollover: {new_index!r} already exists")
        # same schema, zero rows: a manifest with no files carries the
        # schema for readers
        self.store.publish(
            new_index,
            self.spark.createDataFrame([], self.read_index(target).schema),
        )
        # preserve a filtered alias's row scope across the flip — a
        # plain put_alias would replace the registry entry with a bare
        # pattern and silently widen every post-rollover search
        prev = self.meta.read("aliases").get(alias)
        flt = prev.get("filter") if isinstance(prev, dict) else None
        self.put_alias(alias, new_index, filter=flt)
        return {"rolled_over": True, "old_index": target,
                "new_index": new_index, "conditions": met}

    def rollup_tick(
        self,
        source_pattern: str,
        dest: str,
        ts_field: str,
        interval: str,
        groups: list[str],
        metrics: dict[str, list[str]],
    ) -> int:
        """One tick of an index-rollup job (the rollup plugin's
        continuous pre-aggregation, as an explicit idempotent call):
        bucket the source by a fixed ``interval`` (epoch-aligned, like
        date_histogram fixed_interval) and the ``groups`` fields,
        aggregate ``metrics`` (field → [sum/min/max/avg/value_count]),
        and append ONLY the complete windows newer than what ``dest``
        already holds — the resume cursor is dest's own max window, so
        a crashed tick re-runs safely and a scheduler can call this
        forever. The newest (possibly still-filling) window is held
        back until a later tick sees it complete.

        Scale: each tick is one filtered aggregate over the new windows
        (the cursor predicate prunes at the scan) plus an append of
        tiny rollup rows — the query-time win is that dashboards read
        |windows × groups| rows instead of raw events."""
        from ..operators.search import _fixed_interval_micros

        src = self.multi_index_view(source_pattern)
        if src is None:
            return 0
        micros = _fixed_interval_micros(interval)
        wcol = F.timestamp_micros(
            F.unix_micros(F.col(ts_field))
            - F.unix_micros(F.col(ts_field)) % micros
        )
        prev = self.read_index(dest)
        cursor = None
        if prev is not None:
            cursor = prev.agg(F.max("window")).collect()[0][0]
        # hold back the newest (still-filling) source window
        hi = src.agg(F.max(wcol).alias("h")).collect()[0]["h"]
        if hi is None:
            return 0
        work = src.withColumn("window", wcol).filter(
            F.col("window") < F.lit(hi)
        )
        if cursor is not None:
            work = work.filter(F.col("window") > F.lit(cursor))
        aggs = [F.count(F.lit(1)).alias("doc_count")]
        for fld, kinds in metrics.items():
            for kind in kinds:
                if kind == "sum":
                    aggs.append(
                        F.sum(F.col(fld).cast("decimal(28,6)"))
                        .cast("double").alias(f"{fld}_sum")
                    )
                elif kind == "min":
                    aggs.append(F.min(fld).alias(f"{fld}_min"))
                elif kind == "max":
                    aggs.append(F.max(fld).alias(f"{fld}_max"))
                elif kind == "avg":
                    aggs.append(F.avg(fld).alias(f"{fld}_avg"))
                elif kind == "value_count":
                    aggs.append(F.count(fld).alias(f"{fld}_count"))
                else:
                    raise ValueError(
                        f"unsupported rollup metric {kind!r}"
                    )
        rolled = work.groupBy("window", *groups).agg(*aggs)
        n = rolled.count()
        if n:
            self.store.publish(dest, rolled, replace=())
        return n

    def delete_index(self, name: str) -> bool:
        """``DELETE /<index>`` analog: drop a materialized index table.
        Configured CDC routes are protected — the stream would recreate
        them inconsistently; stop the pipeline and remove the route
        first (the public API refuses deletes on write-targeted backing
        indices for the same reason)."""
        if name in self.cfg.routes:
            raise ValueError(
                f"delete_index: {name!r} is a configured CDC route"
            )
        return self.store.delete(name)

    def apply_ism_policy(self, alias: str, policy: dict) -> dict:
        """One maintenance tick of an ISM-style lifecycle policy over a
        rollover alias — the index-state-management loop as an explicit,
        idempotent call (run it from any scheduler):

        * ``rollover``: condition dict for :meth:`rollover` (empty dict
          = roll unconditionally) — cuts a new write generation when met
        * ``keep_generations``: N — delete the OLDEST generations
          beyond the newest N (the write index is always in the newest
          N, so it is never deleted)
        * ``force_merge``: ``{"max_num_segments": k}`` — compact every
          NON-write generation to ≤ k files per bucket (the public
          warm-phase force_merge; the write index is skipped — merging
          the generation still receiving writes would churn)

        Returns what the tick did. Deleting a generation is the
        retention boundary: snapshots (:meth:`snapshot`) are the
        recovery path, exactly as with tombstone purges."""
        out: dict = {"rolled_over": False, "deleted": [], "merged": []}
        if policy.get("rollover") is not None:
            r = self.rollover(alias, policy["rollover"] or None)
            out["rolled_over"] = r["rolled_over"]
        fm = policy.get("force_merge")
        if fm is not None:
            target, gens = self._generations(alias)
            for idx in gens or []:
                if idx != target:  # never the write index
                    self.forcemerge(idx, max_num_segments=int(
                        (fm or {}).get("max_num_segments", 1)))
                    out["merged"].append(idx)
        keep = policy.get("keep_generations")
        if keep is not None:
            if int(keep) < 1:
                raise ValueError("keep_generations must be >= 1")
            target, gens = self._generations(alias)
            if gens is None:
                raise ValueError(
                    f"ism: alias {alias!r} does not point at a "
                    f"generation-suffixed index (got {target!r})"
                )
            for idx in gens[:-int(keep)]:
                # never the write index
                if idx != target and self.delete_index(idx):
                    out["deleted"].append(idx)
        return out

    def _generations(self, alias: str) -> tuple[str | None, list | None]:
        """The alias's write index and every generation of it, sorted
        (None when the write index has no ``-NNNNNN`` suffix)."""
        target = self.get_aliases().get(alias)
        m = re.match(r"^(.*)-(\d+)$", target or "")
        if not m:
            return target, None
        gen = re.escape(m.group(1)) + r"-\d+"
        return target, [n for n in self.store.names() if re.fullmatch(gen, n)]

    def get_mapping(self, route: str) -> dict:
        """``GET /<index>/_mapping`` analog: the index's Spark schema
        rendered as an OpenSearch mapping (public field-type names).
        Arrays map to their element type (OpenSearch fields are
        multi-valued by nature); structs become ``object`` properties;
        internal columns (``_bucket``, ``_seq``, ``_deleted``) are
        implementation detail and excluded."""
        df = self.index_view(route)
        if df is None:
            raise ValueError(f"no such index: {route!r}")
        return {route: {"mappings": {"properties": {
            f.name: _field_mapping(f.dataType)
            for f in df.schema.fields if f.name not in _HIDDEN_COLS
        }}}}

    # -- aliases + snapshots (operational surface) -------------------------

    def put_alias(self, alias: str, pattern: str,
                  filter: dict | None = None) -> None:
        """``POST /_aliases`` add-action analog: name an index pattern.
        Aliases resolve inside :meth:`multi_index_view`, so a search
        against an alias is a search against its pattern's union —
        filter pushdown per route unchanged. Persisted in the
        ``aliases`` registry (stored value: the pattern string, or
        ``{"pattern", "filter"}`` for a filtered alias); alias names
        colliding with a real index are rejected, as the public API
        does.

        ``filter`` (a DSL query body) makes a FILTERED alias — the
        public row-scoped view (tenant/status slices without copying
        data): every search through the alias sees only matching docs,
        and the compiled predicate still pushes into each route's scan,
        so the filtered alias costs exactly what writing the filter
        into every query would. The filter is validated by compiling it
        at PUT time — a bad body fails here, not at first search."""
        if alias in self.cfg.routes or self.store.exists(alias):
            raise ValueError(
                f"alias {alias!r} collides with an existing index name"
            )
        if filter is not None:
            from ..operators.search import compile_query

            compile_query(dict(filter))  # PUT-time validation
        self.meta.put("aliases", alias, (
            {"pattern": pattern, "filter": filter}
            if filter is not None else pattern
        ))

    def delete_alias(self, alias: str) -> None:
        self.meta.pop("aliases", alias)

    # -- ingest pipelines ---------------------------------------------------

    def put_ingest_pipeline(self, pipeline_id: str, body: dict) -> dict:
        """``PUT /_ingest/pipeline/<id>`` analog: validate the
        processor kinds up front (unknown processors fail HERE, not at
        first use) and persist the chain in the ``ingest_pipelines``
        registry."""
        processors = list(body.get("processors", []))
        for p in processors:
            (kind, spec), = p.items()
            if kind not in ("set", "remove", "rename", "lowercase",
                            "uppercase", "trim", "convert", "gsub",
                            "split", "join", "grok", "date", "script"):
                raise ValueError(f"unsupported ingest processor {kind!r}")
        self.meta.put("ingest_pipelines", pipeline_id, {
            "processors": processors,
            "description": body.get("description", "")})
        return {"acknowledged": True}

    def get_ingest_pipeline(self, pipeline_id: str | None = None) -> dict:
        if pipeline_id is None:
            return self.meta.read("ingest_pipelines")
        return self.meta.get("ingest_pipelines", pipeline_id)

    def delete_ingest_pipeline(self, pipeline_id: str) -> bool:
        return self.meta.pop("ingest_pipelines", pipeline_id)

    def _ingest_processors(self, pipeline: str | dict) -> list[dict]:
        if isinstance(pipeline, dict):
            return list(pipeline.get("processors", []))
        return list(self.get_ingest_pipeline(pipeline)["processors"])

    def simulate_ingest(
        self, pipeline: str | dict, docs: list[dict]
    ) -> list[dict]:
        """``POST /_ingest/pipeline/_simulate`` analog: run the chain
        on ad-hoc documents and return the transformed docs (list
        order preserved via a transient row number)."""
        from ..functions.ingest import apply_processors

        df = self.spark.createDataFrame(
            [{**d, "__sim_order": i} for i, d in enumerate(docs)]
        )
        out = apply_processors(df, self._ingest_processors(pipeline))
        # bounded: |docs| caller-supplied ad-hoc documents (_simulate
        # is a debugging surface, not a data path)
        rows = sorted(out.collect(), key=lambda r: r["__sim_order"])
        return [
            {k: v for k, v in r.asDict().items() if k != "__sim_order"}
            for r in rows
        ]

    def get_aliases(self) -> dict[str, str]:
        """alias → index pattern (filtered aliases report their
        pattern; the filter rides only the view resolution)."""
        return {
            k: (v["pattern"] if isinstance(v, dict) else v)
            for k, v in self.meta.read("aliases").items()
        }

    # -- stored scripts -----------------------------------------------------

    def put_script(self, script_id: str, body: dict) -> dict:
        """``PUT /_scripts/<id>`` analog. The stored source is this
        engine's script dialect: a guarded Spark SQL expression string
        (query / script_score contexts) or a column→expression dict
        (update-script contexts). Validated at PUT time through the
        same escape-hatch guard every call site applies, so a bad
        script fails HERE, not at first use; persisted in the
        ``stored_scripts`` registry."""
        spec = body.get("script", body)
        source = spec.get("source")
        if source is None:
            raise ValueError("stored script needs a 'source'")
        lang = spec.get("lang", "spark_sql")
        if lang == "mustache":
            # stored SEARCH TEMPLATE (the public API stores templates
            # through the same _scripts registry under lang mustache):
            # the source is a search-body tree (or its JSON string)
            # with {{param}} placeholders — rendered at search time by
            # render_search_template, so no expression validation here
            if isinstance(source, str):
                source = json.loads(source)
            if not isinstance(source, dict):
                raise ValueError(
                    "mustache template source must be a search body "
                    "(dict or its JSON string)"
                )
        elif lang != "spark_sql":
            raise ValueError(
                f"unsupported stored-script lang {lang!r} (the engine's "
                "dialects are guarded Spark SQL and mustache templates)"
            )
        else:
            from ..functions.scripts import validate_script

            if isinstance(source, dict):
                for expr in source.values():
                    validate_script(str(expr))
            else:
                validate_script(str(source))
        self.meta.put("stored_scripts", script_id,
                      {"lang": lang, "source": source})
        return {"acknowledged": True}

    def get_script(self, script_id: str) -> dict:
        return self.meta.get("stored_scripts", script_id)

    def delete_script(self, script_id: str) -> bool:
        return self.meta.pop("stored_scripts", script_id)

    @staticmethod
    def _sql_param_literal(v) -> str:
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, (int, float)):
            return repr(v)
        if v is None:
            return "NULL"
        s = str(v).replace("'", "''")
        return f"'{s}'"

    def _substitute_params(self, source, params: dict):
        """``params.<name>`` references in a stored script become SQL
        literals at resolution time — the coordinator-side binding the
        public API does at script compile. String params are quoted
        (with '' escaping), so a param value can never splice syntax
        into the guarded expression."""
        def sub_one(text: str) -> str:
            def repl(m):
                name = m.group(1)
                if name not in params:
                    raise ValueError(
                        f"stored script references unbound param {name!r}"
                    )
                return self._sql_param_literal(params[name])
            return re.sub(r"\bparams\.([A-Za-z_][A-Za-z0-9_]*)", repl,
                           text)

        if isinstance(source, dict):
            return {k: sub_one(str(v)) for k, v in source.items()}
        return sub_one(str(source))

    def resolve_script(self, spec) -> object:
        """A call-site ``script`` spec → executable source: stored-
        script references ``{"id": ..., "params": {...}}`` fetch the
        registered source and bind params; inline specs pass through
        (binding params if present). Strings are already source."""
        if not isinstance(spec, dict):
            return spec
        params = dict(spec.get("params") or {})
        if "id" in spec and "source" not in spec:
            stored = self.get_script(str(spec["id"]))
            if stored["lang"] != "spark_sql":
                raise ValueError(
                    f"stored script {spec['id']!r} is a "
                    f"{stored['lang']} template, not an expression "
                    "script — use search_template for it"
                )
            source = stored["source"]
        else:
            source = spec.get("source", spec)
        # substitute unconditionally: a source referencing params.x
        # with no binding must fail loudly here ("unbound param"), not
        # surface later as an unresolvable column in the analyzer
        return self._substitute_params(source, params)

    # -- index templates ----------------------------------------------------

    def put_index_template(self, name: str, body: dict) -> dict:
        """``PUT /_index_template/<name>`` analog. The settings tier
        this engine has is the hash-bucket count (the shard analog), so
        a template carries ``index_patterns`` + ``template.settings``
        with ``number_of_buckets`` (``number_of_shards`` accepted as
        the public spelling) and a ``priority``; the highest-priority
        matching template supplies the bucket count for indexes that
        have no explicit per-index setting yet."""
        patterns = list(body.get("index_patterns") or [])
        if not patterns:
            raise ValueError("index template needs index_patterns")
        settings = dict((body.get("template") or {}).get("settings") or {})
        n = settings.get(
            "number_of_buckets", settings.get("number_of_shards")
        )
        if n is not None and int(n) < 1:
            raise ValueError(f"number_of_buckets must be positive, got {n}")
        self.meta.put("index_templates", name, {
            "index_patterns": patterns,
            "priority": int(body.get("priority", 0)),
            "settings": settings,
        })
        return {"acknowledged": True}

    def get_index_template(self, name: str | None = None) -> dict:
        if name is None:
            return self.meta.read("index_templates")
        return self.meta.get("index_templates", name)

    def delete_index_template(self, name: str) -> bool:
        return self.meta.pop("index_templates", name)

    def simulate_index_template(self, index_name: str) -> dict:
        """``POST /_index_template/_simulate_index/<name>`` analog:
        the settings a new index with this name would get — matching
        templates by (priority desc, name) with the winner's settings,
        plus the resolved bucket count after engine defaults."""
        matches = sorted(
            (
                (tpl["priority"], name, tpl)
                for name, tpl in self.get_index_template().items()
                if any(fnmatch.fnmatchcase(index_name, p)
                       for p in tpl["index_patterns"])
            ),
            key=lambda t: (-t[0], t[1]),
        )
        if not matches:
            return {"matched": [], "settings": {},
                    "n_buckets": self.cfg.n_buckets}
        _, _, winner = matches[0]
        n = winner["settings"].get(
            "number_of_buckets",
            winner["settings"].get("number_of_shards", self.cfg.n_buckets),
        )
        return {"matched": [m[1] for m in matches],
                "settings": dict(winner["settings"]),
                "n_buckets": int(n)}

    def snapshot(self, snapshot_dir: str, pattern: str = "*") -> list[str]:
        """``_snapshot`` analog: copy one version of each matching
        index table (its manifest and exactly the parquet files it
        lists, byte-for-byte) into ``snapshot_dir`` — EVERY live table,
        including ones :meth:`reindex` created outside the configured
        routes. The version is held for the copy, so a concurrent merge
        neither deletes a file mid-copy nor mixes two versions, and
        files a PIT or scroll still holds are left out.

        INCREMENTAL at the file level, like the public ``_snapshot``
        API is incremental at the segment level
        (:meth:`~.store.IndexStore.mirror`: only files rewritten since
        the previous snapshot into the same directory re-copy).
        :meth:`restore` copies back the same way. Per-index copied/skipped
        counts land in ``self.last_snapshot_stats``. Returns the
        snapshotted names. No Spark job, no re-encode."""
        done = []
        self.last_snapshot_stats: dict[str, dict[str, int]] = {}
        for route in self.store.names():
            if (fnmatch.fnmatchcase(route, pattern)
                    and self.store.exists(route)):
                copied, skipped = self.store.mirror(
                    route, os.path.join(snapshot_dir, route))
                self.last_snapshot_stats[route] = {
                    "copied": copied, "skipped": skipped}
                done.append(route)
        # OpenSearch snapshots include cluster state by default: carry
        # every registry alongside the tables. An empty registry is the
        # same as none, so its stale snapshot copy is dropped —
        # snapshots replace wholesale.
        os.makedirs(snapshot_dir, exist_ok=True)
        snap = MetaStore(snapshot_dir)
        for name in REGISTRIES:
            reg = self.meta.read(name)
            if reg:
                save_json(snap.path(name), reg)
            elif os.path.isfile(snap.path(name)):
                os.remove(snap.path(name))
        return done

    def restore(self, snapshot_dir: str, pattern: str = "*",
                rename_pattern: str | None = None,
                rename_replacement: str | None = None) -> list[str]:
        """Restore snapshotted index tables over the live ones (the
        public restore contract: the index returns to the snapshot
        state; writes after the snapshot are gone). Each index restores
        as its next manifest version (:meth:`~.store.IndexStore.restore`):
        only snapshot files it lacks are copied in, readers see the old
        or the new version and never a mix, and files a PIT or scroll
        holds stay until released. Each registry the
        snapshot carries (aliases — the ``include_aliases`` public
        default — and the rest of :data:`~.meta.REGISTRIES`) replaces
        the live one wholesale.

        ``rename_pattern``/``rename_replacement`` (a regex and its
        substitution, the public knobs) restore each matching index
        UNDER A NEW NAME — the clone-from-snapshot workflow that
        recovers data beside the live index instead of clobbering it.
        Renamed restores skip the alias-registry replacement (the
        snapshot's aliases point at the old names; silently retargeting
        them is exactly the surprise the public API avoids by erroring
        on alias conflicts)."""
        renaming = rename_pattern is not None
        if renaming and rename_replacement is None:
            raise ValueError(
                "rename_pattern requires rename_replacement"
            )
        plan = []
        for route in sorted(os.listdir(snapshot_dir)):
            if not fnmatch.fnmatchcase(route, pattern):
                continue
            src = os.path.join(snapshot_dir, route)
            if not os.path.isdir(src):
                continue
            dest_name = (
                re.sub(rename_pattern, rename_replacement, route)
                if renaming else route
            )
            plan.append((src, dest_name))
        if renaming:
            # collision check BEFORE any copy (a mid-loop raise would
            # leave a partial restore) and ONLY when renaming — a plain
            # restore replaces the alias registry wholesale right after,
            # so checking against the about-to-be-overwritten registry
            # would wrongly reject it
            for _src, dest_name in plan:
                if dest_name in self.get_aliases():
                    raise ValueError(
                        f"restore target {dest_name!r} collides with "
                        "an alias"
                    )
                if self.store.exists(dest_name):
                    # public _snapshot restore errors when the target
                    # index already exists — a renamed restore recovers
                    # BESIDE the live index, never over it
                    raise ValueError(
                        f"restore target {dest_name!r} collides with "
                        "an existing index"
                    )
        for src, dest_name in plan:
            self.store.restore(src, dest_name)
        done = [dest_name for _src, dest_name in plan]
        if renaming:
            return done
        snap = MetaStore(snapshot_dir)
        for name in REGISTRIES:
            if os.path.isfile(snap.path(name)):
                os.makedirs(self.cfg.index_root, exist_ok=True)
                save_json(self.meta.path(name), snap.read(name))
        return done

    # -- roles (index-level permission model; reference security analog:
    #    the stack's data-access policies scope principals to index
    #    patterns, lib/opensearch-dynamodb-etl-cdk-stack.ts:283-328;
    #    public twin: the security plugin's roles). A role grants
    #    actions ('read'/'write') on index patterns; `as_role(...)`
    #    scopes a block of calls. Enforcement is CENTRAL: every data
    #    read funnels through index_view and every mutating surface
    #    through _check_write_block, so one check each covers
    #    search/count/mget/sql/ppl/msearch/reindex-source (reads) and
    #    bulk/delete_by_query/update_by_query/reindex-dest/
    #    data_stream_append (writes).
    #    Admin/maintenance ops (snapshots, aliases, role CRUD) stay
    #    unscoped — this models DATA access, like the reference's
    #    policies. No active role = the admin caller (everything
    #    allowed), so existing behavior is unchanged. ---------------------

    def put_role(self, name: str, index_patterns: list[str],
                 actions: tuple[str, ...] = ("read",),
                 dls: dict | None = None) -> dict:
        """Create/replace a role granting ``actions`` ('read'/'write')
        on ``index_patterns`` (fnmatch wildcards, the public
        index-pattern rules).

        ``dls`` is an optional document-level-security query (a DSL
        query dict, the public role ``dls`` property — the reference's
        data-access policies scope WHO reads WHAT,
        lib/opensearch-dynamodb-etl-cdk-stack.ts:247-328; this is the
        row level): while the role is active, every read of a granted
        index sees only matching documents. Enforced centrally at
        :meth:`index_view` — the same chokepoint as field masking — so
        search/count/mget/sql/ppl/aggregations all respect it, and the
        predicate compiles into each route's parquet scan (a DLS'd
        read costs a pushed filter, not a second pass)."""
        if not name or not isinstance(name, str):
            raise ValueError("role name must be a non-empty string")
        if (not index_patterns
                or not all(isinstance(p, str) and p for p in index_patterns)):
            raise ValueError("role needs a non-empty index_patterns list")
        bad = sorted(set(actions) - {"read", "write"})
        if bad:
            raise ValueError(f"unknown role actions {bad}")
        if dls is not None:
            if not isinstance(dls, dict) or not dls:
                raise ValueError(
                    "role dls must be a non-empty DSL query dict"
                )
            # fail-closed at role creation, not first read: an
            # uncompilable filter must never silently grant full reads
            from ..operators.search import compile_query

            compile_query(dls.get("query", dls))
        role = {"index_patterns": list(index_patterns),
                "actions": sorted(set(actions))}
        if dls is not None:
            role["dls"] = dls.get("query", dls)
        self.meta.put("roles", name, role)
        return {"acknowledged": True}

    def get_roles(self) -> dict:
        return self.meta.read("roles")

    def delete_role(self, name: str) -> dict:
        self.meta.pop("roles", name)
        return {"acknowledged": True}

    def as_role(self, name: str):
        """Context manager scoping the enclosed calls to a role:

            with p.as_role("analyst"):
                p.search("fare", body)          # allowed patterns only

        The role's grants are SNAPSHOTTED at scope entry (one registry
        read per scope, not one per permission check — the query hot
        path never touches disk for authorization), matching the
        public model where a session's privileges are resolved at
        authentication time.

        The active role lives in a :class:`contextvars.ContextVar`
        keyed by pipeline identity, NOT an instance attribute, so
        concurrent callers with their own execution context (threads,
        asyncio tasks) sharing one pipeline each see only their own
        scope — one caller's scope exiting cannot escalate or demote
        another. (Sync generators run in their caller's context by
        PEP 567, so interleaving two `as_role` scopes inside two
        generators driven from ONE thread is still the caller's
        responsibility — wrap each in ``contextvars.copy_context()``
        if needed.)
        """
        import contextlib

        spec = self.get_roles().get(name)
        if spec is None:
            raise ValueError(f"unknown role {name!r}")
        pipeline = self

        @contextlib.contextmanager
        def _scope():
            cur = _ACTIVE_ROLES.get()
            token = _ACTIVE_ROLES.set(
                {**cur, pipeline._role_token: (name, spec)})
            try:
                yield pipeline
            finally:
                _ACTIVE_ROLES.reset(token)

        return _scope()

    @property
    def _active_role(self) -> str | None:
        entry = _ACTIVE_ROLES.get().get(self._role_token)
        return entry[0] if entry else None

    @property
    def _active_role_spec(self) -> dict | None:
        entry = _ACTIVE_ROLES.get().get(self._role_token)
        return entry[1] if entry else None

    def _check_role(self, action: str, index: str) -> None:

        if self._active_role is None:
            return
        spec = self._active_role_spec or {}
        if (action in spec.get("actions", ())
                and any(fnmatch.fnmatchcase(index, p)
                        for p in spec.get("index_patterns", ()))):
            return
        raise PermissionError(
            f"role {self._active_role!r} has no {action!r} permission "
            f"on index {index!r}"
        )

    def _role_allows(self, action: str, index: str) -> bool:
        try:
            self._check_role(action, index)
            return True
        except PermissionError:
            return False

    def _active_dls_query(self, index: str) -> dict | None:
        """The active role's document-level-security query for this
        index, or None (no role / role has no dls / index outside the
        role's patterns — the grant check itself runs elsewhere)."""
        spec = self._active_role_spec
        if not spec or "dls" not in spec:
            return None
        if any(fnmatch.fnmatchcase(index, p)
               for p in spec.get("index_patterns", ())):
            return spec["dls"]
        return None

    def _check_dls_write(self, route: str, op: str) -> None:
        """Query-matched and scripted writes are rejected under a DLS
        role (the public security plugin limitation): the match count
        probes documents outside the role's slice, and an update could
        move data across the DLS boundary. Plain by-id writes stay
        allowed, exactly as for field masking."""
        if self._active_dls_query(route) is not None:
            raise PermissionError(
                f"{op} on index {route!r} under a DLS-filtered role is "
                "rejected (write by id, or use an unfiltered role)"
            )

    # -- field masking (reference security analog: the stack's
    #    data-access policies, lib/opensearch-dynamodb-etl-cdk-stack.ts
    #    :247-328 scope who reads what; the engine already has
    #    row-level scoping via filtered aliases — this is the FIELD
    #    level: per-index policies that hash or redact named columns
    #    in every response surface) --------------------------------------

    def put_field_masking(self, route: str, fields: list[str],
                          mode: str = "hash", salt: str = "") -> dict:
        """Attach a field-masking policy to an index: responses through
        search / mget / sql / ppl surface the named fields as a salted
        SHA-256 hex digest (``mode='hash'``, the public security
        plugin's default shape) or a fixed ``<masked>`` token
        (``mode='redact'``). Masking applies at VIEW assembly — before
        query evaluation — so a filter probing original values cannot
        match (no binary-search leak channel), and aggregations naming
        a masked field are rejected loudly. Stored data is untouched:
        deleting the policy restores the original values. Composes
        with ``_source`` filtering and filtered aliases (row scope ∘
        field scope)."""
        if mode not in ("hash", "redact"):
            raise ValueError("field masking mode must be 'hash' or 'redact'")
        if (not fields or not isinstance(fields, (list, tuple))
                or not all(isinstance(f, str) and f for f in fields)):
            raise ValueError("field masking needs a non-empty field list")
        internal = {"_id", "_seq", "_bucket", "_deleted", "_index"}
        bad = sorted(set(fields) & internal)
        if bad:
            raise ValueError(
                f"cannot mask addressing/internal columns {bad}"
            )
        # fail-closed: a policy naming no real column would protect
        # nothing while the operator believes it does — validate
        # against the live index's schema
        idx = self.read_index(route)
        if idx is None:
            raise ValueError(
                f"field masking: no such index {route!r} (create it "
                "first — a policy must bind to real columns)"
            )
        unknown = sorted(set(fields) - set(idx.columns))
        if unknown:
            raise ValueError(
                f"field masking: unknown fields {unknown} on index "
                f"{route!r}"
            )
        self.meta.put("field_masking", route, {
            "fields": sorted(set(fields)), "mode": mode, "salt": salt})
        return {"acknowledged": True}

    def get_field_masking(self, route: str | None = None) -> dict:
        reg = self.meta.read("field_masking")
        return reg if route is None else reg.get(route, {})

    def delete_field_masking(self, route: str) -> dict:
        self.meta.pop("field_masking", route)
        return {"acknowledged": True}

    def _check_masked_write(self, route: str, op: str) -> None:
        """Write operations that READ document values (query-matched
        writes, scripted updates) are rejected on a masked index — the
        public security plugin's DLS/FLS limitation. A query-matched
        write would confirm original values through its count (the
        probe channel search/count close), and a script could copy a
        masked column into an unmasked one (full exfiltration).
        Plain by-id writes don't read values and stay allowed."""
        if self.get_field_masking(route):
            raise ValueError(
                f"{op} on index {route!r} with a field-masking policy "
                "is rejected: the operation would read unmasked values "
                "(delete the policy first, or write by id)"
            )

    def _apply_field_masking(
        self, df: DataFrame | None, route: str
    ) -> DataFrame | None:
        """Rewrite masked columns in a response frame. One codegen
        projection — sha2 over the stringified value (salted) or a
        constant token; nulls stay null (absence is not a value to
        hide). Applied per route at view assembly, so every downstream
        surface (filters, sorts, _source, unions) sees only masked
        values."""
        if df is None:
            return df
        spec = self.get_field_masking(route)
        if not spec:
            return df
        mode = spec.get("mode", "hash")
        salt = spec.get("salt", "")
        for fname in spec.get("fields", []):
            if fname not in df.columns:
                continue
            if mode == "redact":
                masked = F.lit("<masked>")
            else:
                masked = F.sha2(
                    F.concat(F.lit(salt), F.col(fname).cast("string")), 256
                )
            df = df.withColumn(
                fname,
                F.when(F.col(fname).isNull(),
                       F.lit(None).cast("string")).otherwise(masked),
            )
        return df

    def _reject_masked_aggs(self, body: dict, resolve) -> None:
        """Aggregating a masked field enumerates its values: reject it.
        ``resolve()`` (the resolution read) runs only when an
        aggregation names a field some policy masks."""
        refs = _agg_field_refs(body.get("aggs") or {})
        reg = self.get_field_masking() if refs else {}
        if not refs & {f for p in reg.values() for f in p.get("fields", [])}:
            return
        bad = sorted(refs & {f for n in _resolved_names(resolve())
                             for f in reg.get(n, {}).get("fields", [])})
        if bad:
            raise ValueError(
                f"aggregations on masked fields {bad} are rejected")

    def _resolve_pattern(self, pattern: str) -> tuple[dict, list]:
        """Which indexes an index pattern reads: the one resolver
        behind every read surface. Returns ``(names, filtered)``:
        index name → its manifest (first-seen order; None = not
        materialized), which :meth:`_union` reads the index from, and
        one ``(filter, (names, filtered))`` per filtered alias, whose
        filter applies to the union of its own resolution. Comma lists
        split; aliases, plain or filtered, expand recursively (a cycle
        raises ``ValueError``); a wildcard matches index names, skipping
        closed ones and, under a role, unreadable ones (the public
        ``expand_wildcards=open`` and security-plugin rules); a literal
        closed index raises ``PermissionError``, an unknown name
        ``ValueError`` (OpenSearch 404). A literal the role cannot read
        raises in :meth:`_read_view`. One alias-registry read and one
        index listing per call, one manifest read per index."""
        aliases = self.meta.read("aliases")
        indexes = self.store.names()  # routes + reindex-created

        def expand(pattern: str, seen: tuple) -> tuple[dict, list]:
            names: dict[str, dict | None] = {}
            filtered: list = []
            for p in (q.strip() for q in pattern.split(",")):
                if not p:
                    continue
                spec = aliases.get(p)
                if spec is not None:
                    if p in seen:
                        raise ValueError(
                            "alias cycle: " + " -> ".join((*seen, p)))
                    if not isinstance(spec, dict):
                        spec = {"pattern": spec}
                    sub = expand(spec["pattern"], (*seen, p))
                    if spec.get("filter") is not None:
                        filtered.append((spec["filter"], sub))
                        continue
                    for n, m in sub[0].items():
                        names.setdefault(n, m)
                    filtered += sub[1]
                elif "*" in p or "?" in p:
                    for r in indexes:
                        if (fnmatch.fnmatchcase(r, p) and r not in names
                                and self._role_allows("read", r)):
                            m = self.store.manifest(r)
                            if not (m and m["closed"]):
                                names[r] = m
                elif p in indexes:
                    if p not in names:
                        names[p] = self._open_manifest(p, "search")
                else:
                    raise ValueError(f"no such index: {p!r}")
            return names, filtered

        return expand(pattern, ())

    def _union(self, resolved: tuple) -> DataFrame | None:
        """A :meth:`_resolve_pattern` result (or a :meth:`_hold` of one)
        as one frame: each index's manifest through :meth:`_read_view`
        plus an ``_index`` column, then each filtered alias's own union,
        filtered; unioned by name (missing columns null)."""
        from ..operators.search import compile_query

        names, filtered = resolved
        frames = [df.withColumn("_index", F.lit(n)) for n, m in names.items()
                  if (df := self._read_view(n, m)) is not None]
        frames += [df.filter(compile_query(flt)) for flt, sub in filtered
                   if (df := self._union(sub)) is not None]
        out: DataFrame | None = None
        for df in frames:
            out = df if out is None else out.unionByName(
                df, allowMissingColumns=True)
        return out

    def multi_index_view(self, pattern: str = "*") -> DataFrame | None:
        """OpenSearch multi-index search target (``GET /fare,flight/
        _search``, ``GET /f*/_search``, aliases): the union of the live
        views of the indexes :meth:`_resolve_pattern` names, with an
        ``_index`` column naming each hit's source index — the response
        metadata OpenSearch attaches per hit. Each index is role-checked,
        DLS-filtered and masked on the way in (:meth:`_read_view`).
        ``None`` when nothing matched or nothing is materialized yet (no
        frame to schema an empty result from; callers treat ``None`` as
        the empty index).

        Remains a pure union plan: per-route filters compiled from a
        search body still push into each route's parquet scan."""
        return self._union(self._resolve_pattern(pattern))

    # -- search-protocol conveniences (msearch / scroll / field_caps) ------

    def search(self, pattern: str, body: dict | None = None,
               search_pipeline: str | dict | None = None) -> dict:
        """``GET /<pattern>/_search`` analog: resolve the index pattern
        (aliases/wildcards, per :meth:`multi_index_view`) and run the
        DSL body, after :meth:`_request`, through the interpreter. Hits
        stay a distributed frame; predicates push into each scan.

        ``search_pipeline`` (id or inline dict, the public
        ``?search_pipeline=`` parameter) attaches a registered search
        pipeline — its normalization-processor configures the hybrid
        query's score normalization/combination."""
        from ..operators.search import execute_search

        view = self.multi_index_view(pattern)
        if view is None:
            return {"hits": None, "aggregations": {}}
        return execute_search(view, self._request(
            body, lambda: self._resolve_pattern(pattern), search_pipeline))

    def _request(self, body: dict | None, resolve,
                 search_pipeline: str | dict | None = None) -> dict:
        """The one request step of :meth:`search`, :meth:`search_pit`
        and :meth:`create_scroll`, returning a new body:
        :meth:`_resolve_refs`, the search pipeline attached,
        ``aggregations`` spelled ``aggs``, then masked-field aggs
        rejected on this FINAL body, so no earlier step can add one
        past the check. ``resolve()`` gives the resolution read."""
        body = self._resolve_refs(body or {})
        if search_pipeline is not None:
            body["search_pipeline"] = (
                search_pipeline if isinstance(search_pipeline, dict)
                else self.get_search_pipeline(search_pipeline)
            )
        body = _short_aggs(body)
        self._reject_masked_aggs(body, resolve)
        return body

    # -- search pipelines ---------------------------------------------------

    def put_search_pipeline(self, pipeline_id: str, body: dict) -> dict:
        """``PUT /_search/pipeline/<id>`` analog: validate the processor
        kinds up front and persist in the ``search_pipelines``
        registry. Supported: request processor
        ``filter_query``; phase-results processor
        ``normalization-processor`` (min_max/l2 score normalization +
        mean-family combination for hybrid queries); response
        processors ``rename_field`` / ``truncate_hits`` / ``sort`` /
        ``collapse`` / ``rerank`` (by_field)."""
        for p in body.get("request_processors", []):
            (kind, spec), = p.items()
            if kind != "filter_query":
                raise ValueError(
                    f"unsupported request processor {kind!r}"
                )
        for p in body.get("response_processors", []):
            (kind, spec), = p.items()
            if kind not in ("rename_field", "truncate_hits", "sort",
                            "collapse", "rerank"):
                raise ValueError(
                    f"unsupported response processor {kind!r}"
                )
        for p in body.get("phase_results_processors", []):
            (kind, spec), = p.items()
            if kind != "normalization-processor":
                raise ValueError(
                    f"unsupported phase_results processor {kind!r}"
                )
            t = (spec.get("normalization") or {}).get(
                "technique", "min_max")
            if t not in ("min_max", "l2"):
                raise ValueError(f"unsupported normalization {t!r}")
            c = (spec.get("combination") or {}).get(
                "technique", "arithmetic_mean")
            if c not in ("arithmetic_mean", "geometric_mean",
                         "harmonic_mean"):
                raise ValueError(f"unsupported combination {c!r}")
        spec = {
            k: list(body.get(k, []))
            for k in ("request_processors", "phase_results_processors",
                      "response_processors")
        }
        spec["description"] = body.get("description", "")
        self.meta.put("search_pipelines", pipeline_id, spec)
        return {"acknowledged": True}

    def get_search_pipeline(self, pipeline_id: str | None = None) -> dict:
        if pipeline_id is None:
            return self.meta.read("search_pipelines")
        return self.meta.get("search_pipelines", pipeline_id)

    def delete_search_pipeline(self, pipeline_id: str) -> bool:
        return self.meta.pop("search_pipelines", pipeline_id)

    def _resolve_refs(self, body: dict) -> dict:
        """The coordinator-side rewrite of a DSL body, one walk over the
        whole tree into a new one: a ``terms`` query whose field spec is
        ``{"index", "id", "path"}`` fetches that ONE document (bounded
        mget) and inlines its ``path`` value(s) as the terms list; a
        ``"script"``-keyed dict with an ``id`` and no ``source`` becomes
        its stored source (:meth:`resolve_script`). So lookups and
        stored scripts work anywhere inline ones do, nested under
        bool/dis_max/function_score, script_fields or rescore."""
        def walk(node):
            if isinstance(node, list):
                return [walk(x) for x in node]
            if not isinstance(node, dict):
                return node
            if len(node) == 1 and isinstance(node.get("terms"), dict):
                spec = node["terms"]
                lookups = [f for f, v in spec.items() if isinstance(v, dict)
                           and {"index", "id", "path"} <= set(v)]
                if lookups:
                    (field,) = lookups
                    lk = spec[field]
                    got = self.mget(lk["index"], [str(lk["id"])])
                    # bounded: mget of ONE lookup id — at most one row
                    rows = got.collect() if got is not None else []
                    if not rows:
                        raise ValueError(
                            f"terms lookup: no document {lk['id']!r} "
                            f"in {lk['index']!r}"
                        )
                    val = rows[0][lk["path"]]
                    return {"terms": {field: list(val) if isinstance(
                        val, (list, tuple)) else [val]}}
            return {k: {"source": self.resolve_script(v)}
                    if k == "script" and isinstance(v, dict)
                    and "id" in v and "source" not in v else walk(v)
                    for k, v in node.items()}

        return walk(body)

    def _template_source(self, template: dict) -> dict:
        """An inline template (``{"source": ...}`` or the body itself)
        or a stored-template reference (``{"id": ...}`` pointing at a
        ``lang: mustache`` entry in the _scripts registry) → the
        un-rendered search-body tree."""
        if "id" in template and "source" not in template:
            stored = self.get_script(str(template["id"]))
            if stored["lang"] != "mustache":
                raise ValueError(
                    f"stored script {template['id']!r} is a "
                    f"{stored['lang']} script, not a search template"
                )
            return stored["source"]
        return template.get("source", template)

    def render_template(self, template: dict, params: dict) -> dict:
        """``POST /_render/template`` analog: the search body a
        template + params would produce, without running it (inline or
        stored-by-id, like the public endpoint)."""
        from ..operators.search import render_search_template

        return render_search_template(self._template_source(template),
                                      dict(params or {}))

    def search_template(self, pattern: str, body: dict) -> dict:
        """``GET /<index>/_search/template`` analog: render (inline
        ``source`` or stored ``id``) then run through :meth:`search` —
        the rendered body hits the normal interpreter, so pushdown and
        pruning behave exactly as for a literal request."""
        return self.search(
            pattern, self.render_template(body, body.get("params") or {})
        )

    def msearch_template(
        self, requests: list[tuple[str, dict, dict]]
    ) -> list[dict]:
        """``_msearch/template`` analog: each entry is (index pattern,
        template, params) — :meth:`render_template` then
        :meth:`search`, results in request order (the multi-search
        contract). Templates may be inline or stored-by-id."""
        return [self.search(pattern, self.render_template(template, params))
                for pattern, template, params in requests]

    def sql(self, query: str) -> DataFrame:
        """``POST /_plugins/_sql`` analog: read-only SQL over the live
        indexes. Every call, and nothing else, registers the session
        temp views a statement can name — each configured route by its
        bare name, every index under ``index_root`` as ``<name>_index``
        (other than ``[A-Za-z0-9_]`` becomes ``_``), each alias via
        :meth:`multi_index_view` — masked and DLS-scoped like any read.
        The indexes are those :meth:`_resolve_pattern` matches for
        ``*``; views of the others (closed, unreadable under the role)
        and of indexes not materialized are dropped. The statement runs
        through Spark SQL — the engine's dialect is Spark's ANSI-ish
        SQL, a superset of the plugin's. The plugin's full-text
        functions are supported by textual rewrite into the SAME
        analyzer algebra the DSL interpreter compiles to:
        ``MATCH_QUERY(field, 'text')`` / ``MATCHQUERY`` / ``MATCH`` →
        any analyzed token present (``arrays_overlap``),
        ``MATCH_PHRASE(field, 'text')`` / ``MATCHPHRASE`` → adjacent
        analyzed tokens — so a WHERE full-text predicate evaluates in
        whole-stage codegen like every other filter. Only
        ``SELECT``/``WITH`` heads are accepted (the public plugin is
        read-only too) and the script sandbox applies: JVM/UDF escape
        hatches (``reflect``/``java_method``/...) are rejected exactly
        as on the Painless surfaces."""

        from ..functions.scripts import validate_script

        q = _rewrite_sql_fulltext(query.strip().rstrip(";"))
        head = re.split(r"\s", q, 1)[0].lower()
        if head not in ("select", "with", "show", "describe", "desc",
                        "explain"):
            raise ValueError(
                f"sql: only SELECT/SHOW/DESCRIBE/EXPLAIN statements are "
                f"supported, got {head!r}"
            )
        if head == "explain":
            # skip the mode modifiers, then require a read-only head —
            # "EXPLAIN FORMATTED DROP ..." must not slip past the gate
            toks = q.split()
            i = 1
            while i < len(toks) and toks[i].lower() in (
                "formatted", "extended", "codegen", "cost",
            ):
                i += 1
            if i >= len(toks) or toks[i].lower() not in ("select", "with"):
                raise ValueError(
                    "sql: EXPLAIN accepts read-only SELECT statements"
                )
        validate_script(q)

        def register(view_name: str, view: DataFrame | None) -> None:
            if view is None:
                self.spark.catalog.dropTempView(view_name)
            else:
                view.createOrReplaceTempView(view_name)

        registered = False
        # the wildcard's indexes; every other index's views are dropped,
        # so no earlier call's registration leaks through
        names, _ = self._resolve_pattern("*")
        for name in self.store.names():
            view = None
            if name in names:
                view = self._read_view(name, names[name])
            register(re.sub(r"[^A-Za-z0-9_]", "_", f"{name}_index"), view)
            if name in self.cfg.routes:
                register(name, view)
                registered |= view is not None
        for alias in self.meta.read("aliases"):
            # resolve by ALIAS name, not its flattened pattern — a
            # filtered alias's row scope must hold on the SQL surface
            # too (resolving the bare pattern would leak rows outside
            # the tenant/status slice)
            try:
                view = self.multi_index_view(alias)
            except PermissionError:
                # an alias naming an index that is closed or that the
                # active role cannot read is unavailable
                view = None
            register(alias, view)
        if not registered:
            raise ValueError("sql: no index is materialized (bootstrap first)")
        return self.spark.sql(q)

    def ppl(self, query: str) -> DataFrame:
        """``POST /_plugins/_ppl`` analog: run a PPL pipeline whose
        ``source=`` names resolve to live index views (aliases and
        index patterns per :meth:`multi_index_view`). The result stays
        a distributed frame; ``where`` stages push into each route's
        scan exactly as DSL queries do."""
        from ..operators.ppl import ppl_query

        def resolve(name: str) -> DataFrame:
            view = self.multi_index_view(name)
            if view is None:
                raise ValueError(f"ppl: index {name!r} is not materialized")
            return view

        return ppl_query(query, resolve)

    def msearch(self, requests: list[tuple[str, dict]]) -> list[dict]:
        """``_msearch`` analog: a batch of (index-pattern, body) pairs →
        one response per request, in order. Each response's hits frame
        is an independent lazy plan — callers that force them together
        get Spark's scheduler-level parallelism for free (shared scan
        stages dedup via the block cache), which is the engine-side
        analog of the coordinating node fanning out the batch."""
        return [self.search(pattern, body) for pattern, body in requests]

    # -- alerting monitors ----------------------------------------------------

    def put_monitor(self, name: str, body: dict) -> dict:
        """Alerting-plugin analog (``_plugins/_alerting/monitors``): a
        registered query-level monitor = an index pattern, a search
        body, and a trigger condition over the response —
        ``{"count": {"gt": N}}`` (hit count) or ``{"agg_path": "...",
        "gt"/"gte"/"lt"/"lte": X}`` (an aggregation value, dotted
        bucket paths as in pipeline aggs). :meth:`monitor_tick`
        evaluates every monitor; fired triggers append alert documents
        to the ``.alerts`` table. The search body is validated by
        compiling its query at PUT time."""
        search = body.get("search")
        trigger = body.get("trigger")
        if not isinstance(search, dict) or "index" not in search:
            raise ValueError(
                "monitor needs search: {index, body} and a trigger"
            )
        if not isinstance(trigger, dict):
            raise ValueError("monitor needs a trigger condition dict")
        from ..operators.search import compile_query

        compile_query(dict((search.get("body") or {}).get("query")
                           or {"match_all": {}}))
        self.meta.put("monitors", name, {
            "search": search, "trigger": trigger,
            "enabled": bool(body.get("enabled", True))})
        return {"acknowledged": True}

    def delete_monitor(self, name: str) -> bool:
        return self.meta.pop("monitors", name)

    @staticmethod
    def _trigger_fires(trigger: dict, res: dict) -> tuple[bool, float]:
        ops = {"gt": lambda v, x: v > x, "gte": lambda v, x: v >= x,
               "lt": lambda v, x: v < x, "lte": lambda v, x: v <= x}
        if "count" in trigger:
            cond = trigger["count"]
            value = float(res["hits"].count() if res["hits"] is not None
                          else 0)
        else:
            path = trigger["agg_path"]
            cond = {k: v for k, v in trigger.items() if k in ops}
            node = res["aggregations"]
            for part in path.split("."):
                node = node[part]
            value = float(node["value"] if isinstance(node, dict)
                          else node)
        (op, bound), = ((k, v) for k, v in cond.items() if k in ops)
        return ops[op](value, float(bound)), value

    def monitor_tick(self, now: str | None = None) -> list[dict]:
        """One evaluation pass over every enabled monitor (run it from
        any scheduler, like the ISM tick): each monitor's search runs
        through the normal interpreter (counts are bounded count jobs,
        agg triggers read the already-collected aggregation), and fired
        triggers append one alert document to the ``.alerts`` index —
        published like every index write, so searches see each tick's
        alerts. Returns the fired alerts."""
        from pyspark.sql import Row

        fired = []
        errors = []
        for name, m in sorted(self.meta.read("monitors").items()):
            if not m.get("enabled", True):
                continue
            try:
                mbody = dict(m["search"].get("body") or {})
                if "count" in m["trigger"]:
                    # the public count condition reads TOTAL hits —
                    # a size-capped (or size:0 count-only) body must
                    # not cap the observed count
                    mbody.pop("size", None)
                    mbody.pop("from", None)
                res = self.search(m["search"]["index"], mbody)
                hit, value = self._trigger_fires(m["trigger"], res)
            except Exception as exc:
                # per-monitor isolation: one bad config (deleted index,
                # wrong agg path) must not abort the tick or drop
                # alerts other monitors already fired this pass
                errors.append({"monitor": name, "error": str(exc)})
                continue
            if hit:
                fired.append({"monitor": name, "value": value,
                              "ts": now or "1970-01-01T00:00:00Z"})
        if fired:
            alerts = self.spark.createDataFrame(
                [Row(**f) for f in fired])
            self.store.publish(".alerts", alerts, replace=())
        return fired + errors

    def get_alerts(self) -> DataFrame | None:
        return self.read_index(".alerts")

    # -- asynchronous search --------------------------------------------------

    def _async_dir(self, aid: str) -> str:
        return os.path.join(self.cfg.index_root, "_async", aid)

    def submit_async_search(self, pattern: str,
                            body: dict | None = None) -> str:
        """``POST /_plugins/_asynchronous_search`` analog: run the
        search on a background thread, persisting completed hits as the
        store table ``_async/<id>/hits`` plus a status document — the
        long-query pattern (submit, poll, fetch) for dashboards that
        cannot hold a connection open. The worker thread shares the
        SparkSession (Spark's scheduler interleaves concurrent job
        groups); the status file is written atomically, so a poller
        never reads a half-state. Results persist until
        :meth:`delete_async_search` (the public keep_on_completion=true
        behavior)."""
        import threading
        aid = uuid.uuid4().hex
        adir = self._async_dir(aid)
        os.makedirs(adir, exist_ok=True)
        status = os.path.join(adir, "status.json")
        save_json(status, {"id": aid, "state": "RUNNING", "pattern": pattern})

        def run() -> None:
            try:
                res = self.search(pattern, dict(body or {}))
                hits = res["hits"]
                n = 0
                if hits is not None:
                    self.store.publish(f"_async/{aid}/hits", hits)
                    n = self.store.frame(f"_async/{aid}/hits").count()
                save_json(status, {
                    "id": aid, "state": "SUCCEEDED", "pattern": pattern,
                    "n_hits": n,
                    "aggregations": res.get("aggregations") or {},
                }, default=str)
            except Exception as exc:  # surfaced to the poller, not lost
                save_json(status, {"id": aid, "state": "FAILED",
                                   "pattern": pattern, "error": str(exc)})

        threading.Thread(target=run, daemon=True).start()
        return aid

    def get_async_search(self, aid: str) -> dict:
        """Poll an async search: ``state`` RUNNING/SUCCEEDED/FAILED;
        on success the persisted hits attach as a lazy frame."""
        st = load_json(os.path.join(self._async_dir(aid), "status.json"))
        if not st:
            raise ValueError(f"no such async search {aid!r}")
        if st["state"] == "SUCCEEDED":
            # empty result sets attach too (schema-bearing empty frame
            # — the public API returns empty hits, not a missing field)
            hits = self.store.frame(f"_async/{aid}/hits")
            if hits is not None:
                st["hits"] = hits
        return st

    def delete_async_search(self, aid: str) -> bool:
        return self.store.delete(f"_async/{aid}")

    def create_scroll(
        self, pattern: str, body: dict | None = None, size: int = 100
    ) -> tuple[str, DataFrame | None]:
        """``POST /<pattern>/_search?scroll=...`` analog: start a deep
        scan cursor. Pages ride the keyset (search_after) machinery —
        each page is a pushed-down range filter + TakeOrdered, NEVER a
        growing offset (a `from`-based deep page forces every executor
        to materialize and skip `from` rows; the cursor filter prunes
        at the scan). The sort defaults to `_id asc` (a unique key) so
        the cursor is total. Returns (scroll_id, first page frame).

        The body goes through :meth:`_request` once, here; pages return
        hits only, so it keeps no ``aggs`` or ``suggest``.

        Like OpenSearch's scroll context, the cursor reads one point in
        time: the pattern resolves once and each index's current
        version is held (:meth:`~.store.IndexStore.hold`), so merges
        between pages neither surface nor hide rows. Role and masking
        apply as they are when each page runs. The holds end when the
        scan is exhausted or at :meth:`clear_scroll`; the cursor lives
        in this pipeline instance only."""
        resolved = self._resolve_pattern(pattern)
        body = self._request(body, lambda: resolved)
        body.setdefault("sort", [{"_id": {"order": "asc"}}])
        body["size"] = int(size)
        for key in ("from", "aggs", "suggest"):
            body.pop(key, None)
        sid = uuid.uuid4().hex
        self._scrolls[sid] = {"body": body, "held": self._hold(resolved)}
        return sid, self._scroll_page(sid, after=None)

    def _scroll_page(self, sid: str, after) -> DataFrame | None:
        from ..operators.search import _sort_fields, execute_search

        st = self._scrolls[sid]
        body = st["body"] if after is None else {
            **st["body"], "search_after": after}
        view = self._union(st["held"])
        if view is None:
            return None
        page = execute_search(view, body)["hits"]
        # advance the cursor: the LAST row's sort-key tuple. The page
        # must materialize to know it — inherent to scrolling.
        # bounded: the page's size clause caps the frame (scroll page)
        rows = page.collect()
        fields = [f for f, _ in _sort_fields(body["sort"])]
        st["after"] = [rows[-1][f] for f in fields] if rows else None
        st["schema"] = page.schema
        if len(rows) < int(body["size"]):  # exhausted: no more reads
            self._release(st.pop("held"))
        return self.spark.createDataFrame(rows, page.schema)

    def scroll(self, scroll_id: str) -> DataFrame | None:
        """``GET /_search/scroll`` analog: the next page for a cursor
        from :meth:`create_scroll`. Returns an empty-schema frame once
        the scan is exhausted (the public API's empty-hits signal)."""
        st = self._scrolls.get(scroll_id)
        if st is None:
            raise ValueError(f"no such scroll {scroll_id!r}")
        if "held" not in st:
            return self.spark.createDataFrame([], st["schema"])
        return self._scroll_page(scroll_id, after=st.get("after"))

    def clear_scroll(self, scroll_id: str) -> bool:
        """``DELETE /_search/scroll`` analog: drop the cursor state and
        release the index versions it holds."""
        st = self._scrolls.pop(scroll_id, None)
        if st is None:
            return False
        if "held" in st:
            self._release(st["held"])
        return True

    def _hold(self, resolved: tuple) -> tuple:
        """A :meth:`_resolve_pattern` result with each index's current
        version held (:meth:`~.store.IndexStore.hold`) in place of its
        manifest, filtered aliases' included; None where the index is
        not materialized. :meth:`_release` ends the holds."""
        names, filtered = resolved
        return ({n: self.store.hold(n) for n in names},
                [(flt, self._hold(sub)) for flt, sub in filtered])

    def _release(self, held: tuple) -> None:
        names, filtered = held
        for n, m in names.items():
            if m is not None:
                self.store.release(n, m)
        for _flt, sub in filtered:
            self._release(sub)

    def terms_enum(
        self,
        pattern: str,
        field: str,
        prefix: str = "",
        size: int = 10,
        case_insensitive: bool = False,
        search_after: str | None = None,
    ) -> list[str]:
        """``POST /<pattern>/_terms_enum`` analog: up to ``size``
        DISTINCT values of ``field`` starting with ``prefix``, sorted
        ascending — the autocomplete primitive. One pushed
        prefix-filter scan → distinct → TakeOrdered; with
        ``search_after`` the keyset predicate also pushes, so paging
        never rescans delivered terms."""
        view = self.multi_index_view(pattern)
        if view is None:
            return []
        col = F.col(field).cast("string")
        if case_insensitive:
            cond = F.lower(col).startswith(prefix.lower())
        else:
            cond = col.startswith(prefix)
        terms = view.filter(col.isNotNull() & cond)
        if search_after is not None:
            terms = terms.filter(col > F.lit(search_after))
        out = (
            terms.select(col.alias("term")).distinct()
            .orderBy(F.col("term").asc()).limit(int(size))
        )
        return [r["term"] for r in out.collect()]

    def validate_query(self, pattern: str, body: dict) -> dict:
        """``GET /<pattern>/_validate/query`` analog: compile the query
        against the live mapping WITHOUT executing it. Invalid bodies
        (unknown query kinds, missing fields, blocked script functions,
        malformed options) report ``valid: False`` with the
        explanation instead of raising — the public API's contract."""
        from ..operators.search import compile_query

        view = self.multi_index_view(pattern)
        if view is None:
            return {"valid": False,
                    "error": f"no such index pattern {pattern!r}"}
        try:
            pred = compile_query(body.get("query", {"match_all": {}}))
            # analysis-time check: resolve columns/types against the
            # schema (no job runs — .filter only builds the plan, and
            # the explain string forces analysis)
            view.filter(pred.cast("boolean"))._jdf.queryExecution() \
                .analyzed()
            return {"valid": True, "error": None}
        except Exception as e:  # noqa: BLE001 — the API maps ALL
            # compile/analysis failures to a structured response
            return {"valid": False, "error": str(e)[:500]}

    def field_caps(self, pattern: str = "*") -> dict:
        """``GET /<pattern>/_field_caps`` analog: per-field capability
        map across the indices the pattern resolves to (as for
        :meth:`search`) — type (public mapping names, rendered exactly
        as :meth:`get_mapping` does), searchable/aggregatable flags, and
        the index list per type so type CONFLICTS across indices are
        visible exactly as the public response shapes them. Pure schema
        metadata: no data is read."""
        resolved = _resolved_names(self._resolve_pattern(pattern))
        names = sorted(resolved)
        fields: dict[str, dict[str, dict]] = {}
        for idx_name in names:
            df = self._live(idx_name, resolved[idx_name])
            if df is None:
                continue
            for f in df.schema.fields:
                if f.name in _HIDDEN_COLS:
                    continue
                ftype = _field_mapping(f.dataType)["type"]
                cap = fields.setdefault(f.name, {}).setdefault(ftype, {
                    "type": ftype,
                    "searchable": True,
                    "aggregatable": ftype != "object",
                    "indices": [],
                })
                cap["indices"].append(idx_name)
        return {"indices": names, "fields": fields}

    # -- point-in-time search + analyze ------------------------------------

    def analyze(self, text: str) -> dict:
        """``_analyze`` API analog: run the engine's standard-analyzer
        approximation (lowercase, split on non-alphanumerics — the same
        expression every match/span/suggest path compiles against) over
        a probe string, returning tokens with positions."""
        from ..operators.search import _analyze_text

        return {"tokens": [
            {"token": t, "position": i}
            for i, t in enumerate(_analyze_text(text))
        ]}

    def open_pit(self, pattern: str = "*") -> str:
        """``POST /<pattern>/_pit`` analog: a point-in-time view of the
        indexes ``pattern`` resolves to (as for :meth:`search`). Each
        index's current manifest version is held
        (:meth:`~.store.IndexStore.hold`): nothing is copied and no
        Spark job runs, and searches through :meth:`search_pit` read
        those versions, so later merges never change a PIT reader's
        results. The id lives in this pipeline instance until
        :meth:`close_pit` (an OpenSearch PIT does not survive a cluster
        restart either); deleting an index removes its held files too,
        while a restore is an ordinary publish and leaves them. A
        filtered alias in the pattern raises ``ValueError``: alias
        filters are not frozen."""
        names, filtered = self._resolve_pattern(pattern)
        if filtered:
            raise ValueError(
                f"open_pit: {pattern!r} names a filtered alias, which a "
                "point-in-time view cannot freeze")
        names = {n: m for n, m in names.items() if m is not None}
        if not names:
            raise ValueError(f"pattern {pattern!r} matches no index")
        pit_id = uuid.uuid4().hex
        self._pits[pit_id] = self._hold((names, []))
        return pit_id

    def _pit(self, pit_id: str) -> tuple:
        """A PIT's held resolution (:meth:`_hold`)."""
        if pit_id not in self._pits:
            raise ValueError(f"no such pit {pit_id!r}")
        return self._pits[pit_id]

    def pit_view(self, pit_id: str) -> DataFrame | None:
        """The frozen multi-index view of a PIT: the union and
        per-index step of :meth:`multi_index_view` (role check, DLS,
        tombstone drop, masking, ``_index``) over the held versions.
        Only the data is frozen: role and masking apply as they are
        at search time."""
        return self._union(self._pit(pit_id))

    def search_pit(self, pit_id: str, body: dict | None = None) -> dict:
        """``_search`` with a ``pit`` id: the DSL body runs against the
        frozen view — repeatable pages under a changing live index. The
        body goes through :meth:`search`'s :meth:`_request` step (no
        search pipeline)."""
        from ..operators.search import execute_search

        held = self._pit(pit_id)
        view = self._union(held)
        if view is None:
            return {"hits": None, "aggregations": {}}
        return execute_search(view, self._request(body, lambda: held))

    def close_pit(self, pit_id: str) -> bool:
        """``DELETE /_pit`` analog: release the PIT's held versions;
        files no current manifest lists are deleted then."""
        held = self._pits.pop(pit_id, None)
        if held is None:
            return False
        self._release(held)
        return True

    # -- data streams --------------------------------------------------------

    @staticmethod
    def _ds_backing(name: str, gen: int) -> str:
        return f".ds-{name}-{gen:06d}"

    def create_data_stream(self, name: str) -> dict:
        """``PUT /_data_stream/<name>`` analog: an append-only,
        rollover-backed stream of timestamped documents. The backing
        index ``.ds-<name>-000001`` materializes lazily on first append
        (its schema comes from the first batch — this engine's stand-in
        for the index template the public API requires). Every appended
        document must carry ``@timestamp`` (the public data-stream
        contract)."""
        if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]*", name):
            # path separators / leading dots would nest or escape the
            # backing-index layout under index_root
            raise ValueError(f"invalid data stream name {name!r}")
        with self.meta.lock("data_streams"):
            if name in self.meta.read("data_streams"):
                raise ValueError(f"data stream {name!r} already exists")
            self.meta.put("data_streams", name,
                          {"generation": 1, "next_seq": 0})
        return {"acknowledged": True}

    def data_stream_append(self, name: str, docs: list[dict]) -> int:
        """Append-only write (``POST /<stream>/_doc`` / ``_bulk`` with
        ``create``): documents land in the CURRENT generation's backing
        index — a plain parquet append, no merge, no shuffle (the
        append-only contract is exactly what makes data streams cheap:
        rollover bounds any file-count growth per generation). ``_id``s
        are synthesized from a persisted monotonic sequence. Gated like
        every write (:meth:`_check_write_block`) on the backing index."""
        # one registry lock hold from the sequence read to its put: a
        # concurrent append or rollover waits instead of reusing it
        with self.meta.lock("data_streams"):
            meta = self.meta.get("data_streams", name)
            if not docs:
                return 0
            for d in docs:
                if "@timestamp" not in d:
                    raise ValueError(
                        "data stream documents must carry @timestamp"
                    )
            gen = meta["generation"]
            base = meta["next_seq"]
            backing = self._ds_backing(name, gen)
            self._check_write_block(backing, "data_stream_append")
            rows = [
                {"_id": f"{name}-{base + i}",
                 **{k: v for k, v in d.items()}}
                for i, d in enumerate(docs)
            ]
            df = self.spark.createDataFrame(rows)
            df = df.withColumn(
                "@timestamp", F.col("`@timestamp`").cast("timestamp")
            )
            existing = self.read_index(backing)
            if existing is not None:
                missing = set(existing.columns) ^ set(df.columns)
                if missing:
                    raise ValueError(
                        f"data stream append schema drift: {sorted(missing)}"
                    )
                df = df.select(*existing.columns)
            self.store.publish(backing, df, replace=())
            self.meta.put("data_streams", name,
                          {**meta, "next_seq": base + len(docs)})
        return len(docs)

    def rollover_data_stream(self, name: str) -> dict:
        """``POST /<stream>/_rollover``: bump the write generation; the
        next append materializes the new backing index. Old generations
        stay readable through the stream's search pattern."""
        with self.meta.lock("data_streams"):
            meta = self.meta.get("data_streams", name)
            old = meta["generation"]
            self.meta.put("data_streams", name,
                          {**meta, "generation": old + 1})
        return {"rolled_over": True,
                "old_index": self._ds_backing(name, old),
                "new_index": self._ds_backing(name, old + 1)}

    def get_data_stream(self, name: str | None = None) -> dict:
        reg = (self.meta.read("data_streams") if name is None
               else {name: self.meta.get("data_streams", name)})
        out = {}
        for n, meta in reg.items():
            backing = [
                i for i in self.store.names()
                if i.startswith(f".ds-{n}-")
            ]
            out[n] = {"generation": meta["generation"],
                      "indices": sorted(backing)}
        return out

    def delete_data_stream(self, name: str) -> bool:
        """``DELETE /_data_stream/<name>``: drops the stream AND its
        backing indexes (the public semantics — unlike deleting an
        alias)."""
        if name not in self.meta.read("data_streams"):
            return False
        for idx in self.get_data_stream(name)[name]["indices"]:
            self.store.delete(idx)
        return self.meta.pop("data_streams", name)

    def search_data_stream(self, name: str, body: dict | None = None) -> dict:
        """Search spans EVERY generation (the stream's backing pattern);
        per-generation predicates still push into each scan, and a
        @timestamp range prunes whole generations at the parquet
        row-group level."""
        self.meta.get("data_streams", name)  # raises for an unknown stream
        return self.search(f".ds-{name}-*", body)

    # -- bulk write API ----------------------------------------------------

    def _eval_update_script(
        self, idx: DataFrame, data_cols: list[str],
        image: dict, script: dict[str, str],
    ) -> dict:
        """Evaluate a bulk-update ``script`` (column → guarded Spark SQL
        expression, the engine's dialect — see :meth:`update_by_query`)
        against one document image: a one-row local frame with the
        index's own column types, the script columns rewritten through
        :func:`safe_expr`, collected back to a dict. One tiny local job
        per call — bounded by the bulk's action count."""
        script = self._script_map(script, data_cols, "bulk", "update")

        def _coerce(v, dt):
            # benign Python-type looseness (int for a double column,
            # str numbers) must not fail the frame build — the
            # non-script doc/upsert paths accept the same values
            if v is None:
                return None
            s = dt.simpleString()
            try:
                if s in ("double", "float"):
                    return float(v)
                if s in ("bigint", "int", "smallint", "tinyint", "long"):
                    return int(v)
                if s == "string":
                    return str(v)
            except (TypeError, ValueError):
                return v
            return v

        fields = [f for f in idx.schema.fields if f.name in data_cols]
        row = self.spark.createDataFrame(
            [tuple(_coerce(image.get(f.name), f.dataType)
                   for f in fields)],
            T.StructType(fields),
        )
        for col_name, expr in script.items():
            row = row.withColumn(col_name, safe_expr(expr))
        # bounded: the frame was built from exactly one tuple above
        return row.collect()[0].asDict()

    def bulk(self, route: str, actions: list[dict]) -> dict:
        """``_bulk`` analog: a list of ``{"index": {"_id", "doc"}}`` /
        ``{"create": {"_id", "doc"}}`` / ``{"update": {"_id", ...}}`` /
        ``{"delete": {"_id"}}`` actions applied atomically-per-doc
        through the SAME CDC merge path as streamed events. Each action
        takes its own odd (admin-half) sequence — actions on the same
        ``_id`` within one bulk resolve in LIST order, exactly as the
        public API applies them, because later actions carry strictly
        higher sequences; n actions shadow at most the next n−1 stream
        events of the touched keys (the documented admin-op conflict
        window).

        ``create`` fails when the document already exists (the public
        version_conflict), counting a document created earlier in the
        SAME bulk and ignoring one deleted earlier in it. ``update`` is
        a partial document merge: the current image is fetched by id
        (an mget — bounded by the action count, never a scan) and
        unspecified fields are preserved; a missing document raises
        unless the action carries ``doc_as_upsert: true`` (the partial
        doc IS the new document) or an ``upsert`` document (indexed
        as-is, ``doc`` ignored — the public first-write semantics).
        ``script`` updates use this engine's script dialect (column →
        guarded Spark SQL expression over the current image, same as
        :meth:`update_by_query`); with ``scripted_upsert: true`` the
        script also runs for a missing document against the ``upsert``
        image. Script evaluation costs one local one-row job per script
        action — prefer :meth:`update_by_query` for scripting MANY
        documents in one pass.

        The in-flight images are overlaid as actions are processed, so
        an update that follows an index/create/update/delete of the
        same ``_id`` in the SAME bulk sees that earlier action's result
        (not the stale pre-bulk image), exactly like the public API.
        Unknown or internal fields are rejected up front. Returns
        per-action-type counts."""
        self._check_write_block(route, "bulk")
        if any("script" in spec for a in actions for spec in a.values()
               if isinstance(spec, dict)):
            # scripts evaluate over the current UNMASKED image — a
            # masked column could be copied into an unmasked one
            self._check_masked_write(route, "bulk (scripted update)")
            self._check_dls_write(route, "bulk (scripted update)")
        # the image fetch and the merge read one version (an RLock)
        with self.store.lock(route):
            # SYSTEM read: the current-image fetch for by-id merges runs
            # with the engine's authority — a write-only role can ingest
            # (the public plugin's write permission), and the image must
            # be the RAW stored document: fetching through the masked
            # mget would merge hashed values back into storage on update
            idx = self.index_view(route, _system=True)
            if idx is None:
                raise ValueError(
                    f"bulk: index {route!r} is not materialized (bootstrap first)"
                )
            data_cols = [c for c in idx.columns if c not in ("_seq", "_bucket",
                                                             "_deleted")]
            upserts: list[tuple] = []
            deletes: list[tuple] = []
            counts = {"indexed": 0, "created": 0, "updated": 0, "deleted": 0}

            fetch_ids = [
                str(a[op]["_id"]) for a in actions for op in a
                if op in ("update", "create")
            ]
            current: dict[str, dict] = {}
            if fetch_ids:
                # same system/raw discipline as idx above (never the
                # public mget, which is role-checked and masked)
                fetched = idx.filter(F.col("_id").isin(fetch_ids))
                # bounded: <= len(fetch_ids) rows — the bulk request's own
                # update/create id list
                current = {
                    r["_id"]: r.asDict() for r in fetched.collect()
                }
            for i, action in enumerate(actions):
                (op, body), = action.items()
                seq = 2 * i  # offset from the admin base (_merge_route)
                _id = str(body["_id"])
                if op == "delete":
                    deletes.append((_id, seq))
                    counts["deleted"] += 1
                    # later updates on this id in the same bulk must fail,
                    # exactly as the public API reports document_missing
                    current.pop(_id, None)
                    continue
                doc = dict(body.get("doc") or {})
                self._validate_set_fields(data_cols, doc, "bulk")
                if op == "update":
                    script = body.get("script")
                    upsert_doc = body.get("upsert")
                    if upsert_doc is not None:
                        self._validate_set_fields(
                            data_cols, dict(upsert_doc), "bulk"
                        )
                    exists = _id in current
                    if script is not None:
                        if doc:
                            raise ValueError(
                                "bulk update: 'doc' and 'script' are "
                                "mutually exclusive (public contract)"
                            )
                        if exists:
                            merged = self._eval_update_script(
                                idx, data_cols, current[_id], script
                            )
                        elif body.get("scripted_upsert"):
                            base = {"_id": _id, **dict(upsert_doc or {})}
                            merged = self._eval_update_script(
                                idx, data_cols, base, script
                            )
                        elif upsert_doc is not None:
                            merged = dict(upsert_doc)
                        else:
                            raise ValueError(
                                f"bulk update: no document {_id!r}"
                            )
                    elif exists:
                        merged = {**current[_id], **doc}
                    elif body.get("doc_as_upsert"):
                        merged = doc
                    elif upsert_doc is not None:
                        # first write: the upsert document verbatim, the
                        # partial doc does NOT also apply (public semantics)
                        merged = dict(upsert_doc)
                    else:
                        raise ValueError(f"bulk update: no document {_id!r}")
                    counts["updated"] += 1
                elif op == "create":
                    if _id in current:
                        raise ValueError(
                            f"bulk create: document {_id!r} already exists "
                            "(version_conflict)"
                        )
                    merged = doc
                    counts["created"] += 1
                elif op == "index":
                    merged = doc
                    counts["indexed"] += 1
                else:
                    raise ValueError(f"unsupported bulk action {op!r}")
                # overlay the in-flight image so later same-id actions in
                # this bulk merge against THIS result, not the pre-bulk one
                current[_id] = {
                    "_id": _id,
                    **{c: merged.get(c) for c in data_cols if c != "_id"},
                }
                upserts.append(
                    tuple([_id, seq] + [merged.get(c) for c in data_cols
                                        if c != "_id"])
                )

            schema_fields = [f for f in idx.schema.fields
                             if f.name in data_cols and f.name != "_id"]
            schema = T.StructType(
                [T.StructField("_id", T.StringType()),
                 T.StructField("_seq", T.LongType())] + schema_fields
            )
            frames = []
            if upserts:
                frames.append(
                    self.spark.createDataFrame(upserts, schema)
                    .withColumn("_action", F.lit("upsert"))
                )
            if deletes:
                del_df = self.spark.createDataFrame(
                    deletes, "  _id string, _seq long"
                )
                for f in schema_fields:
                    del_df = del_df.withColumn(
                        f.name, F.lit(None).cast(f.dataType)
                    )
                frames.append(del_df.withColumn("_action", F.lit("delete")))
            if not frames:
                return {"items": 0, **counts}
            batch = frames[0]
            for f in frames[1:]:
                batch = batch.unionByName(f)
            self._merge_route(batch, route, admin=True)
            return {"items": len(actions), **counts}
