"""The pipeline's metadata store.

All pipeline metadata is small JSON documents written through
:func:`save_json`: the registries below (one file each under the index
root), each route's ``_manifest.json`` (:mod:`.store`) and the
async-search status documents. The write serializes first, then
replaces the target atomically through a private tmp file — a reader
never sees a partial document, and a value that fails to serialize
leaves nothing behind.
"""

from __future__ import annotations

import json
import os
import threading
import uuid

# registry name → its file under the index root (the "_" prefix keeps
# it invisible to parquet readers). Snapshots carry exactly these.
REGISTRIES = {
    "aliases": "_aliases.json",
    "ingest_pipelines": "_ingest_pipelines.json",
    "stored_scripts": "_stored_scripts.json",
    "index_templates": "_index_templates.json",
    "roles": "_roles.json",
    "field_masking": "_field_masking.json",
    "search_pipelines": "_search_pipelines.json",
    "monitors": "_monitors.json",
    "data_streams": "_data_streams.json",
}


_LOCKS: dict[str, threading.RLock] = {}
_LOCKS_GUARD = threading.Lock()


def path_lock(path: str) -> threading.RLock:
    """The in-process write lock of ``path``, one per absolute path."""
    with _LOCKS_GUARD:
        return _LOCKS.setdefault(os.path.abspath(path), threading.RLock())


def load_json(path: str) -> dict:
    """The document at ``path``; an absent file reads as ``{}``."""
    try:
        with open(path) as f:
            return json.load(f)
    except (FileNotFoundError, NotADirectoryError):
        return {}


def save_json(path: str, obj, default=None) -> None:
    """Atomic replace of ``path`` with ``obj`` (``default`` as in
    :func:`json.dumps`)."""
    text = json.dumps(obj, default=default)
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


class MetaStore:
    """The registries under one root. Every read goes to disk, so a
    write through another pipeline on the same root shows at once."""

    def __init__(self, root: str):
        self.root = root

    def path(self, name: str) -> str:
        return os.path.join(self.root, REGISTRIES[name])

    def read(self, name: str) -> dict:
        return load_json(self.path(name))

    def lock(self, name: str) -> threading.RLock:
        """The registry's write lock; hold it across a read and the
        writes that depend on it."""
        return path_lock(self.path(name))

    def put(self, name: str, key: str, value) -> None:
        with self.lock(name):
            reg = self.read(name)
            reg[key] = value
            os.makedirs(self.root, exist_ok=True)
            save_json(self.path(name), reg)

    def pop(self, name: str, key: str) -> bool:
        """Remove ``key``; False, and no write, when it was absent."""
        with self.lock(name):
            reg = self.read(name)
            if key not in reg:
                return False
            del reg[key]
            save_json(self.path(name), reg)
            return True

    def get(self, name: str, key: str):
        """``key``'s entry, else ``ValueError`` naming the entry kind
        (registry ``stored_scripts`` → "no such stored script 'k'")."""
        reg = self.read(name)
        if key not in reg:
            what = name.replace("_", " ").removesuffix("s")
            raise ValueError(f"no such {what} {key!r}")
        return reg[key]
