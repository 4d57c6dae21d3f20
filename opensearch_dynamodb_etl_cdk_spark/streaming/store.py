"""The index store: the one place that knows how an index sits on disk.

``<root>/<name>/_manifest.json`` is the index's single commit point,
like Lucene's ``segments_N``: ``version``, ``files`` (the parquet files
under ``<root>/<name>/_bucket=<b>/``, per bucket), ``schema``,
``n_buckets`` (null = the pipeline default), ``blocks`` and ``closed``.
Every change (a data publish, a drop, a settings update, a restore from
a snapshot) is one transition: under the index's lock, read version N,
apply the change to a copy, write it atomically as N+1, then delete the
files only N listed. Two writers in one process never lose each other's
update (other processes are not serialized). Readers take no lock: a
read opens the manifest once.

A reader that must see one version beyond a call (a PIT, a scroll, a
snapshot's copy) *holds* it, as Lucene's ``SnapshotDeletionPolicy``
holds a commit point: GC leaves held files on disk until
:meth:`IndexStore.release`. Holds live in this process only; deleting
the index removes its held files with it, a process that dies holding a
version leaves that version's replaced files on disk, and
:meth:`IndexStore.size` counts held files until release.

Side tables use the same commit: each route's dead letters are the
table ``dlq/<route>`` (parked by a publish, cleared by
:meth:`IndexStore.drop`) and an async search's hits are
``_async/<id>/hits``; :meth:`IndexStore.names` lists neither.

Older layouts are adopted once, on first read: a directory of parquet
files with no manifest is listed into version 1, and a manifest without
the settings fields folds in the ``_settings.json`` beside it (where
``blocks`` and ``closed`` used to live), which is then deleted. A
restore adopts a snapshot's older layout the same way in memory and
writes nothing into the snapshot.
"""

from __future__ import annotations

import collections
import contextlib
import copy
import json
import os
import shutil
import threading
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .meta import load_json, path_lock, save_json

MANIFEST = "_manifest.json"  # "_" keeps it invisible to parquet readers
OLD_SETTINGS = "_settings.json"  # read only by the one-time adoption

# held versions: absolute table dir → file → how many holds list it
_HOLDS: dict[str, collections.Counter] = {}


def _list_files(root: str) -> dict[str, list[str]]:
    """Visible data files under ``root`` (the parquet reader's
    hidden-path rule), root-relative, grouped by ``_bucket`` value
    ("" for files outside any bucket dir)."""
    out: dict[str, list[str]] = {}
    for d, dirs, fs in os.walk(root):
        dirs[:] = [x for x in dirs
                   if not x.startswith(("_", ".")) or "=" in x]
        rel = os.path.relpath(d, root)
        bucket = "" if rel == "." else rel.split("=", 1)[1]
        for fn in sorted(fs):
            if not fn.startswith(("_", ".")):
                out.setdefault(bucket, []).append(
                    fn if rel == "." else os.path.join(rel, fn))
    return out


def _copy(src: str, dst: str, files) -> tuple[int, int]:
    """Copy ``files`` (root-relative) from ``src`` to ``dst``, each to a
    hidden tmp name and then ``os.replace``, so a listed file is never
    half-written. Incremental: a file whose (size, mtime_ns) matches —
    ``copy2`` keeps both — is not re-copied. Returns (copied, skipped)."""
    copied = skipped = 0
    for rel in files:
        spath, dpath = os.path.join(src, rel), os.path.join(dst, rel)
        if os.path.isfile(dpath):
            ss, ds = os.stat(spath), os.stat(dpath)
            if (ss.st_size, ss.st_mtime_ns) == (ds.st_size, ds.st_mtime_ns):
                skipped += 1
                continue
        d, fn = os.path.split(dpath)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".{fn}.{uuid.uuid4().hex}.tmp")
        shutil.copy2(spath, tmp)
        os.replace(tmp, dpath)
        copied += 1
    return copied, skipped


def _walk(root: str) -> dict[str, str]:
    return {os.path.relpath(os.path.join(d, f), root): os.path.join(d, f)
            for d, _, fs in os.walk(root) for f in fs}


def _files(m: dict) -> list[str]:
    return [f for fs in m.get("files", {}).values() for f in fs]


class IndexStore:
    """The indexes under one root. ``routes`` are names that exist
    before their first write (the pipeline's configured routes)."""

    def __init__(self, spark, root: str, routes=()):
        self.spark = spark
        self.root = root
        self.routes = tuple(routes)
        # resolved frames: index dir → (files + schema, frame)
        self._views: dict[str, tuple[str, DataFrame]] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        return os.path.isdir(self.path(name))

    def names(self) -> list[str]:
        """Every index, sorted: the configured routes plus each
        directory under the root except "_"-prefixed side channels
        (``_metrics``, ``_staging``, ``_async``) and the
        ``dlq/<route>`` tables."""
        names = set(self.routes)
        if os.path.isdir(self.root):
            names.update(e for e in os.listdir(self.root)
                         if not e.startswith("_") and e != "dlq"
                         and os.path.isdir(self.path(e)))
        return sorted(names)

    def lock(self, name: str) -> threading.RLock:
        """The index's write lock: one per absolute path, so every store
        (and pipeline) in the process shares it."""
        return path_lock(self.path(name))

    def _held(self, name: str) -> set[str]:
        return set(_HOLDS.get(os.path.abspath(self.path(name)), ()))

    def manifest(self, name: str) -> dict | None:
        """The index's manifest, or None when it was never materialized
        (no manifest and no data files). A current manifest costs one
        open; an older layout is adopted first, once."""
        root = self.path(name)
        m = load_json(os.path.join(root, MANIFEST))
        if "closed" in m:
            return m
        with self.lock(name):  # re-read: a racer may have adopted it
            m = self._adopt(root, load_json(os.path.join(root, MANIFEST)))
            if m is not None:
                save_json(os.path.join(root, MANIFEST), m)
                with contextlib.suppress(FileNotFoundError):
                    os.remove(os.path.join(root, OLD_SETTINGS))
            return m

    def _adopt(self, root: str, m: dict) -> dict | None:
        """``m``, the manifest read from the index directory ``root``
        (``{}`` = none), in the current layout; None when ``root`` holds
        no index. Writes nothing: an older layout is adopted in memory."""
        if "closed" in m:
            return m
        if not m:
            files = _list_files(root)
            if not files:
                return None
            schema = self.spark.read.parquet(root).schema.jsonValue()
            m = {"version": 1, "files": files, "n_buckets": None,
                 "schema": schema}
        old = load_json(os.path.join(root, OLD_SETTINGS))
        return {**m, "blocks": sorted(old.get("blocks") or []),
                "closed": bool(old.get("closed"))}

    def frame(self, name: str, m: dict | None = None) -> DataFrame | None:
        """The index's rows as ``read.schema(s).parquet(*files)`` over
        manifest ``m`` (read now when not given), or None when not
        materialized. Built once per file set and schema, so a repeat
        read of an unchanged index launches no Spark job."""
        m = m or self.manifest(name)
        if m is None:
            return None
        root = self.path(name)
        key = json.dumps([m["files"], m["schema"]])
        hit = self._views.get(root)
        if hit is not None and hit[0] == key:
            return hit[1]
        schema = T.StructType.fromJson(m["schema"])
        files = [os.path.join(root, f)
                 for fs in m["files"].values() for f in fs]
        df = (
            self.spark.read.schema(schema).option("basePath", root)
            .parquet(*files)
            if files else self.spark.createDataFrame([], schema)
        )
        self._views[root] = (key, df)
        return df

    def size(self, name: str) -> int:
        """Bytes on disk under the index's directory, every file counted
        (held files too, until their release)."""
        return sum(map(os.path.getsize, _walk(self.path(name)).values()))

    def publish(self, name: str, df: DataFrame, replace=None,
                n_buckets: int | None = None) -> None:
        """Copy-on-write write of ``df`` into the index, the one write
        path of every index table: Spark writes the rows to a private
        staging dir (partitioned by ``_bucket`` when the frame has one),
        then :meth:`commit` publishes them."""
        stage = os.path.join(self.root, "_staging", uuid.uuid4().hex)
        writer = df.write
        if "_bucket" in df.columns:
            writer = writer.partitionBy("_bucket")
        writer.parquet(stage)
        self.commit(name, stage, df.schema, replace, n_buckets)

    def commit(self, name: str, stage: str, schema: T.StructType,
               replace=None, n_buckets: int | None = None) -> None:
        """Publish the part files staged under ``stage`` (moved in under
        their unique names, so no file a reader holds is overwritten) as
        the next version (:meth:`_transition`). Buckets in ``replace``
        (``None`` = all, empty = a pure append) hold exactly the new
        files, other buckets keep N's plus any new ones; the schema is
        the union of N's and ``schema``; ``n_buckets`` defaults to N's;
        ``blocks`` and ``closed`` carry over. A reader scanning N
        without a hold can race the GC."""
        root = self.path(name)

        def change(m):
            # moved in only now: staged files in a manifest-less
            # directory would look adoptable
            new = _list_files(stage)
            for f in (f for fs in new.values() for f in fs):
                os.makedirs(os.path.dirname(os.path.join(root, f)),
                            exist_ok=True)
                os.rename(os.path.join(stage, f), os.path.join(root, f))
            shutil.rmtree(stage)
            gone = ({str(b) for b in replace} if replace is not None
                    else set(m["files"]))
            files = {b: fs for b, fs in m["files"].items() if b not in gone}
            for b, fs in new.items():
                files[b] = files.get(b, []) + fs
            # union schema, the written frame's types winning; the bucket
            # partition column last, typed as partition inference types it
            cols = {f.name: f for f in T.StructType.fromJson(
                m["schema"] or {"fields": []})}
            cols.update((f.name, f) for f in schema)
            bucketed = cols.pop("_bucket", None) is not None
            fields = list(cols.values())
            if bucketed:
                fields.append(T.StructField("_bucket", T.IntegerType()))
            m.update(files=dict(sorted(files.items())),
                     n_buckets=n_buckets or m["n_buckets"],
                     schema=T.StructType(fields).jsonValue())

        self._transition(name, change, create=True)

    def drop(self, name: str, files) -> None:
        """Publish the next version without ``files`` (root-relative, as
        a manifest lists them); files committed since the caller read
        its version stay. A table left with no files loses its manifest,
        and its directory when nothing else is in it. A missing table is
        a no-op."""
        gone = set(files)
        root = self.path(name)
        with self.lock(name):
            m = self._transition(name, lambda m: m.update(files={
                b: keep for b, fs in m["files"].items()
                if (keep := [f for f in fs if f not in gone])}))
            if m is not None and not m["files"]:
                os.remove(os.path.join(root, MANIFEST))
                with contextlib.suppress(OSError):  # kept while not empty
                    os.rmdir(root)

    def update(self, name: str, change) -> dict:
        """Publish and return the next version with ``change`` (a
        function editing the manifest dict in place, e.g. its
        ``blocks``) applied; the file set is untouched. ``ValueError``
        when the index is not materialized."""
        m = self._transition(name, change)
        if m is None:
            raise ValueError(f"no such index {name!r}")
        return m

    def restore(self, src: str, name: str) -> dict:
        """Publish the index directory ``src`` (a snapshot's) as the
        index's next version: the files its manifest lists are copied in
        (:func:`_copy`: unchanged files are skipped), then its files,
        schema, ``n_buckets``, ``blocks`` and ``closed`` are published.
        An older layout in ``src`` is adopted in memory; nothing is
        written there. ``ValueError`` when ``src`` holds no index."""
        snap = self._adopt(src, load_json(os.path.join(src, MANIFEST)))
        if snap is None:
            raise ValueError(f"no index to restore in {src!r}")

        def change(m):
            _copy(src, self.path(name), _files(snap))
            m.update(snap)  # the version is N+1's, set after the change

        return self._transition(name, change, create=True)

    def _transition(self, name: str, change,
                    create: bool = False) -> dict | None:
        """The one way an index changes: under its lock, read manifest
        N, apply ``change`` to a copy of it, write that as version N+1,
        then GC the files only N lists. Returns N+1; None, and nothing
        written, when the index is not materialized, unless ``create``
        starts it from an empty version 0."""
        root = self.path(name)
        with self.lock(name):
            prev = self.manifest(name)
            if prev is None and not create:
                return None
            prev = prev or {"version": 0, "files": {}, "schema": None,
                            "n_buckets": None, "blocks": [], "closed": False}
            m = copy.deepcopy(prev)
            change(m)
            m["version"] = prev["version"] + 1
            os.makedirs(root, exist_ok=True)  # a write of no rows has no files
            save_json(os.path.join(root, MANIFEST), m)
            self._gc(name, set(_files(prev)) - set(_files(m)))
            return m

    def _gc(self, name: str, files) -> None:
        """Delete ``files`` (root-relative) that no hold lists, with
        their checksum siblings, and each bucket dir they leave empty."""
        root = self.path(name)
        for f in sorted(set(files) - self._held(name)):
            d, fn = os.path.split(os.path.join(root, f))
            for p in (os.path.join(d, fn), os.path.join(d, f".{fn}.crc")):
                with contextlib.suppress(FileNotFoundError):
                    os.remove(p)
            if d != root:  # rmdir only succeeds once the bucket is empty
                with contextlib.suppress(OSError):
                    os.rmdir(d)

    def hold(self, name: str) -> dict | None:
        """The index's manifest, read under its lock, with its files
        held: no GC deletes them until :meth:`release`. None (and
        nothing held) when the index is not materialized. Each hold
        needs its own release."""
        with self.lock(name):
            m = self.manifest(name)
            if m is not None:
                _HOLDS.setdefault(os.path.abspath(self.path(name)),
                                  collections.Counter()).update(_files(m))
            return m

    def release(self, name: str, m: dict) -> None:
        """End one :meth:`hold` of manifest ``m``, then delete the files
        no other hold and no current manifest lists."""
        root = self.path(name)
        with self.lock(name):
            held = _HOLDS.get(os.path.abspath(root))
            if held is None:
                return
            held -= collections.Counter(_files(m))
            current = load_json(os.path.join(root, MANIFEST))
            self._gc(name, set(_files(m)) - set(_files(current)))

    def delete(self, name: str) -> bool:
        """Remove the index's directory (False when there is none) and
        every cached frame under it; held files go with it."""
        path = self.path(name)
        with self.lock(name):
            if not os.path.isdir(path):
                return False
            shutil.rmtree(path)
        for key in [k for k in list(self._views)
                    if (k + os.sep).startswith(path + os.sep)]:
            self._views.pop(key, None)
        return True

    def mirror(self, name: str, dst: str) -> tuple[int, int]:
        """Copy one version of the index into ``dst`` (a snapshot's
        directory): the version is held for the copy, its files are
        copied (:func:`_copy`) and its manifest written, then files in
        ``dst`` that version does not list are removed. Returns
        (copied, skipped) data-file counts; (0, 0) when the index is
        not materialized."""
        m = self.hold(name)
        if m is None:
            return 0, 0
        try:
            copied, skipped = _copy(self.path(name), dst, _files(m))
            os.makedirs(dst, exist_ok=True)
            save_json(os.path.join(dst, MANIFEST), m)
        finally:
            self.release(name, m)
        keep = {*_files(m), MANIFEST}
        for d, _, fs in os.walk(dst, topdown=False):
            for f in fs:
                if os.path.relpath(os.path.join(d, f), dst) not in keep:
                    os.remove(os.path.join(d, f))
            if d != dst and not os.listdir(d):
                os.rmdir(d)
        return copied, skipped
