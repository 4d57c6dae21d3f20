"""Pluggable external source/sink connectors (SURVEY §2.1/§2.5).

The reference's identity is CONNECTING real systems — a DynamoDB
export + stream on one side, an OpenSearch bulk endpoint on the other
(custom_resource.py:331-357 wires both ends of the OSIS pipeline).
This module is the engine's seam for the same job: a registry of
named source connectors (where export snapshots and CDC streams come
FROM) and sink connectors (where routed, merged documents go TO), so
a Kinesis/Kafka-shaped reader or an HTTP-bulk-shaped writer plugs
into the SAME transform → route → merge path the built-ins use —
exactly like ``operators/multimodal.py::register_decoder`` is the
seam for codecs.

Contracts (duck-typed; subclassing the bases is optional):

* **SourceConnector** — ``read_export(spark, options) -> DataFrame``
  returns a batch frame with an ``item_json`` column (DynamoDB-JSON
  item per row, the export-snapshot shape), and
  ``read_stream(spark, options) -> DataFrame`` returns a STREAMING
  frame with the CDC schema (seq/event_name/event_ts/pk/sk/
  new_image_json). The pipeline never cares where either came from.
* **SinkConnector** — ``write_route(pipeline, route, df, epoch_id)``
  receives one route's slice of a micro-batch (upserts + deletes,
  already transformed and routed). The built-in ``index`` sink MERGEs
  into the hash-bucketed parquet index table; an external sink would
  render ``_bulk`` actions and POST them. A raised exception routes
  the slice to the DLQ (W3) — the at-least-once retry semantics the
  reference gets from the OSIS ack loop.

Scale: connectors return/accept DataFrames, so all data movement
stays on executors — a connector that collects to the driver is
wrong by construction. Streaming sources compose with the pipeline's
checkpointing untouched (offsets tracking is the source's own
responsibility, exactly as with Kafka's ``startingOffsets``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


class SourceConnector:
    """Base/protocol for export+stream readers. ``options`` is the
    per-call config dict (paths, topics, offsets, ...)."""

    name = "?"

    def read_export(self, spark: SparkSession, options: dict) -> DataFrame:
        raise NotImplementedError(
            f"source {self.name!r} does not support export snapshots"
        )

    def read_stream(self, spark: SparkSession, options: dict) -> DataFrame:
        raise NotImplementedError(
            f"source {self.name!r} does not support streaming reads"
        )


class SinkConnector:
    """Base/protocol for per-route batch writers."""

    name = "?"

    def write_route(
        self, pipeline, route: str, df: DataFrame, epoch_id: int
    ) -> None:
        raise NotImplementedError


class FileSource(SourceConnector):
    """The built-in file-backed source (test/dev stand-in for the
    DynamoDB export bucket + stream poller; prod registers a
    Kinesis/Kafka connector with the same two methods).

    options: ``export_path`` (parquet or json dir of item_json rows)
    for exports; ``stream_path`` (json dir, file-stream semantics —
    new files are new events) for streams.
    """

    name = "file"

    def read_export(self, spark: SparkSession, options: dict) -> DataFrame:
        path = options.get("export_path")
        if not path:
            raise ValueError(
                f"{self.name} source: options['export_path'] required")
        df = spark.read.format(options.get("format", "parquet")).load(path)
        if "item_json" not in df.columns:
            raise ValueError(
                f"{self.name} source: export frame must carry an "
                "item_json column"
            )
        return df

    def read_stream(self, spark: SparkSession, options: dict) -> DataFrame:
        from ..streaming.pipeline import CDC_SCHEMA

        path = options.get("stream_path")
        if not path:
            raise ValueError("file source: options['stream_path'] required")
        return spark.readStream.schema(CDC_SCHEMA).json(path)


class ShardedStreamSource(FileSource):
    """Offset-resumable stream source (the reference's real read path:
    a per-shard-iterator tail, custom_resource.py:331-332). Backed by
    the PySpark Python Data Source in ``sources/stream_source.py``:
    offsets are ``{shard: line_position}`` maps that Spark persists in
    the streaming checkpoint, so restarts resume MID-FILE (appended
    shard records are new events) — the property the file-stream
    built-in cannot give.

    options: ``shards_root`` (dir of ``*.jsonl`` shard files),
    ``start_position`` (``TRIM_HORIZON`` default, or ``LATEST`` — the
    reference's mode), and ``export_path`` for the bootstrap half
    (the ``file`` source's export reader, inherited)."""

    name = "sharded-stream"

    def read_stream(self, spark: SparkSession, options: dict) -> DataFrame:
        from .stream_source import register_sharded_stream

        if not options.get("shards_root"):
            raise ValueError(
                "sharded-stream source: options['shards_root'] required"
            )
        register_sharded_stream(spark)
        reader = spark.readStream.format("sharded-stream")
        for k in ("shards_root", "start_position"):
            if k in options:
                reader = reader.option(k, str(options[k]))
        return reader.load()


class IndexMergeSink(SinkConnector):
    """The built-in sink: MERGE into the route's hash-bucketed parquet
    index table (exactly-once by (key, seq); see pipeline module
    docstring). This is the default — plugging a different sink in
    changes WHERE documents land, never how they were transformed."""

    name = "index"

    def write_route(
        self, pipeline, route: str, df: DataFrame, epoch_id: int
    ) -> None:
        pipeline._merge_route(df, route)


# merge bookkeeping columns that must not leak into _source
_INTERNAL_COLS = ("_action", "_bucket", "_seq", "_deleted")


def render_bulk_lines(route: str, df: DataFrame) -> DataFrame:
    """Render one route's micro-batch slice as PUBLIC ``_bulk`` request
    bodies — a one-column (``value``) frame where each row is one
    ACTION: action-metadata line plus the source document (joined by a
    newline) for upserts, a bare delete action line for deletes:

        {"index": {"_index": "fare", "_id": "DEN|..."}}
        {"pk": "DEN", "sk": "...", ...}
        {"delete": {"_index": "fare", "_id": "LAX|..."}}

    Rendering is EXECUTOR-side (``to_json`` over codegen structs; the
    driver never sees a document) — both bulk sinks share this plan,
    which is the point of the seam: transports differ, the render
    doesn't.

    The slice is first reduced to ONE terminal action per ``_id``
    (``latest_by_key`` on ``_seq``, the same LWW rule the parquet MERGE
    applies). Without it, a micro-batch carrying REMOVE then a later
    re-INSERT for the same key would render index-then-delete and an
    in-order bulk receiver would delete a document the MERGE sink
    keeps; likewise two same-key upserts could land older-image-last.
    """
    from pyspark.sql import functions as F

    from ..operators.upsert import latest_by_key

    if "_seq" in df.columns:
        df = latest_by_key(df, key="_id", seq="_seq")
    meta = F.struct(F.lit(route).alias("_index"), F.col("_id"))
    src_cols = [c for c in df.columns
                if c not in _INTERNAL_COLS and c != "_id"]
    ups = df.filter(F.col("_action") != "delete").select(
        F.concat(
            F.to_json(F.struct(meta.alias("index"))),
            F.lit("\n"),
            F.to_json(F.struct(*[F.col(c) for c in src_cols])),
        ).alias("value")
    )
    dels = df.filter(F.col("_action") == "delete").select(
        F.to_json(F.struct(meta.alias("delete"))).alias("value")
    )
    return ups.unionByName(dels)


class BulkNdjsonSink(SinkConnector):
    """HTTP-bulk-shaped sink, with a file transport: renders
    :func:`render_bulk_lines` bodies into one NDJSON directory per
    (route, epoch). Re-delivery of a failed micro-batch overwrites its
    own epoch directory, so the rendered stream stays exactly-once
    like the parquet sink's MERGE. :class:`BulkHttpSink` POSTs the
    same render — swap transports without touching the plan."""

    name = "bulk-ndjson"

    _INTERNAL = _INTERNAL_COLS

    def __init__(self, out_dir: str):
        self.out_dir = out_dir

    def write_route(self, pipeline, route, df, epoch_id):
        import os

        (
            render_bulk_lines(route, df)
            .write.mode("overwrite")
            .text(os.path.join(self.out_dir, route, f"epoch={epoch_id}"))
        )


class BulkHttpSink(SinkConnector):
    """HTTP transport for the bulk sink — the reference's actual write
    path (custom_resource.py:343-357 bulk-writes a live endpoint):
    each partition of the rendered ``_bulk`` frame POSTs its lines to
    ``{endpoint}/_bulk`` from ``foreachPartition``, so document bytes
    flow executor → endpoint directly; the driver never sees a body.

    Failure contract (W3): a non-2xx response, a connection error, or
    a 2xx body with the public per-item ``"errors": true`` flag raises
    — the job fails and the pipeline's existing DLQ path catches the
    whole route slice, exactly as for the built-in sinks. Re-delivery
    of a failed micro-batch re-POSTs the same epoch; actions are
    ``index``/``delete`` BY ``_id`` (PUT semantics), so replays are
    idempotent at the receiver — the same at-least-once-delivery /
    exactly-once-effect story as the parquet MERGE. ``X-Route`` /
    ``X-Epoch`` headers let a receiver dedup whole batches if it
    prefers.

    Scale: one HTTP connection per partition, reused across that
    partition's chunked requests (``max_actions_per_request`` bounds
    request size — the public bulk-sizing guidance); no driver
    round-trips, no collect.
    """

    name = "bulk-http"

    def __init__(self, endpoint: str, *,
                 max_actions_per_request: int = 500,
                 timeout: float = 30.0,
                 headers: dict | None = None):
        import urllib.parse

        u = urllib.parse.urlsplit(endpoint)
        if u.scheme not in ("http", "https") or not u.hostname:
            raise ValueError(
                f"bulk-http endpoint must be http(s)://host[:port][/path],"
                f" got {endpoint!r}"
            )
        if max_actions_per_request < 1:
            raise ValueError("max_actions_per_request must be >= 1")
        self.endpoint = endpoint
        self.max_actions_per_request = int(max_actions_per_request)
        self.timeout = float(timeout)
        self.headers = dict(headers or {})

    def write_route(self, pipeline, route, df, epoch_id):
        endpoint = self.endpoint
        chunk = self.max_actions_per_request
        timeout = self.timeout
        headers = {
            "Content-Type": "application/x-ndjson",
            **self.headers,
            "X-Route": route,
            "X-Epoch": str(epoch_id),
        }

        # plain function + scalars only: this closure ships to executors
        def post_partition(rows):
            import http.client
            import json as _json
            import urllib.parse as _up

            u = _up.urlsplit(endpoint)
            cls = (http.client.HTTPSConnection if u.scheme == "https"
                   else http.client.HTTPConnection)
            conn = cls(u.hostname, u.port, timeout=timeout)
            path = (u.path.rstrip("/") or "") + "/_bulk"
            buf: list[str] = []

            def flush():
                if not buf:
                    return
                body = ("\n".join(buf) + "\n").encode("utf-8")
                conn.request("POST", path, body, headers)
                resp = conn.getresponse()
                data = resp.read()
                if not 200 <= resp.status < 300:
                    raise RuntimeError(
                        f"bulk POST to {path} failed: HTTP {resp.status} "
                        f"{data[:200]!r}"
                    )
                # the public bulk contract: 200 with per-item failures
                # sets a top-level errors flag — treat as a failure so
                # the slice reaches the DLQ instead of half-landing
                try:
                    parsed = _json.loads(data) if data else {}
                except ValueError:
                    parsed = {}
                if isinstance(parsed, dict) and parsed.get("errors"):
                    raise RuntimeError(
                        f"bulk POST to {path} reported item errors: "
                        f"{data[:200]!r}"
                    )
                buf.clear()

            try:
                for row in rows:
                    buf.append(row.value)  # one ACTION (1–2 lines)
                    if len(buf) >= chunk:
                        flush()
                flush()
            finally:
                conn.close()

        render_bulk_lines(route, df).foreachPartition(post_partition)


_SOURCES: dict[str, SourceConnector] = {}
_SINKS: dict[str, SinkConnector] = {}
_BUILTIN_SOURCES = {"file": FileSource(),
                    "sharded-stream": ShardedStreamSource()}
_BUILTIN_SINKS = {"index": IndexMergeSink()}
_SOURCES.update(_BUILTIN_SOURCES)
_SINKS.update(_BUILTIN_SINKS)


def register_source_connector(
    name: str, connector: SourceConnector
) -> SourceConnector:
    """Plug in a named source (e.g. a Kinesis-shaped reader). The
    connector must expose ``read_export`` and/or ``read_stream`` with
    the documented frame contracts. Returns the connector (decorator-
    friendly)."""
    if not name or not isinstance(name, str):
        raise ValueError("source connector name must be a non-empty string")
    for m in ("read_export", "read_stream"):
        if not callable(getattr(connector, m, None)):
            raise TypeError(f"source connector must define {m}()")
    _SOURCES[name] = connector
    return connector


def register_sink_connector(name: str, connector: SinkConnector) -> SinkConnector:
    """Plug in a named sink (e.g. an HTTP-bulk-shaped writer)."""
    if not name or not isinstance(name, str):
        raise ValueError("sink connector name must be a non-empty string")
    if not callable(getattr(connector, "write_route", None)):
        raise TypeError("sink connector must define write_route()")
    _SINKS[name] = connector
    return connector


def unregister_source_connector(name: str) -> None:
    """Remove a plugged-in source; built-ins revert to themselves."""
    if name in _BUILTIN_SOURCES:
        _SOURCES[name] = _BUILTIN_SOURCES[name]
    else:
        _SOURCES.pop(name, None)


def unregister_sink_connector(name: str) -> None:
    if name in _BUILTIN_SINKS:
        _SINKS[name] = _BUILTIN_SINKS[name]
    else:
        _SINKS.pop(name, None)


def get_source_connector(name: str) -> SourceConnector:
    try:
        return _SOURCES[name]
    except KeyError:
        raise ValueError(
            f"unknown source connector {name!r} (registered: "
            f"{sorted(_SOURCES)})"
        ) from None


def get_sink_connector(name: str) -> SinkConnector:
    try:
        return _SINKS[name]
    except KeyError:
        raise ValueError(
            f"unknown sink connector {name!r} (registered: "
            f"{sorted(_SINKS)})"
        ) from None
