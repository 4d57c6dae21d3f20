"""Seeded inputs and the reference model for the pipeline benchmark.

Everything the program under test sees is written here as files: gzipped
DynamoDB export parts (``{"Item": {...}}`` per line) and CDC shard files
(one JSON record per line, the ``sharded-stream`` source format). The
same seed gives the same bytes.

Items carry a unique (PK, SK) each, so a scaled corpus never collapses
under the per-key upsert. The dirty-data hazards of the flights table are
kept on purpose: every item has an untyped ``"__id": {}`` attribute,
``number`` is N-typed on flights but S-typed on assignments, ``segments``
is N on some items and S on others, and booking/assignment items match no
route.

The reference model is a plain-Python last-write-wins map per route
(higher ``seq`` wins, REMOVE deletes the row outright, as the default
index sink does). ``route_summary`` reduces a route to a live count and
an order-free content digest that ``workloads.index_summary`` computes
the same way inside Spark.
"""

from __future__ import annotations

import bisect
import gzip
import json
import os
import random
import zlib

AIRPORTS = [
    "ATL", "BOS", "DEN", "DFW", "EWR", "IAD", "JFK", "LAS", "LAX", "MCO",
    "MIA", "MSP", "ORD", "PHX", "SEA", "SFO", "SLC", "AUS", "BNA", "CLT",
    "DTW", "HNL", "IAH", "MDW", "PDX", "PHL", "SAN", "SJC", "STL", "TPA",
]
# Origins reserved for "cold" items: the CDC generator never touches
# them, so a search over them has one right answer during a live stream.
COLD_AIRPORTS = ["ZQA", "ZQB"]
CLASSES = ["nonstop", "direct", "economy", "business"]
PASSENGERS = [f"Pax{i:03d}, Traveler" for i in range(200)]
ROUTES = ("fare", "flight")
# Columns of the content digest, as they appear in the index.
DIGEST_COLS = ("_id", "origin", "dest", "fare_class", "flight_number_raw",
               "seg_id")


def _iso(rng: random.Random, year: int = 2021) -> str:
    return (f"{year:04d}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
            f"T{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:00")


def _marshal(doc: dict) -> dict:
    out = {}
    for k, v in doc.items():
        if isinstance(v, bool):
            out[k] = {"BOOL": v}
        elif isinstance(v, int):
            out[k] = {"N": str(v)}
        else:
            out[k] = {"S": v}
    out["__id"] = {}  # untyped attribute the codec must drop
    return out


class Item:
    """One table item: its wire JSON plus the fields the model checks."""

    __slots__ = ("pk", "sk", "type", "wire", "fields", "month")

    def __init__(self, doc: dict):
        self.pk = doc["PK"]
        self.sk = doc["SK"]
        self.type = doc["type"]
        self.wire = json.dumps(_marshal(doc), sort_keys=True)
        number = doc.get("number")
        seg = doc.get("segId")
        self.fields = (
            doc.get("origin"), doc.get("dest"), doc.get("class"),
            None if number is None else str(number),
            None if seg is None else str(seg),
        )
        # month of the date a date_histogram buckets this item under
        when = doc.get("start") or doc.get("depart")
        self.month = when[:7] if when else None

    @property
    def id(self) -> str:
        return f"{self.pk}|{self.sk}"


def make_item(rng: random.Random, serial: int, kind: str,
              origin: str | None = None) -> Item:
    origin = origin or rng.choice(AIRPORTS)
    dest = rng.choice([a for a in AIRPORTS if a != origin])
    if kind == "fare":
        start = _iso(rng)
        klass = rng.choice(CLASSES)
        return Item({
            "PK": origin, "SK": f"{dest}#{start}#{klass}#{serial:08d}",
            "type": "fare", "origin": origin, "dest": dest,
            "start": start, "end": start[:11] + "23:59:00", "class": klass,
            "GSI1PK": dest, "GSI1SK": f"{origin}#{start}#{serial:08d}",
        })
    if kind == "flight":
        year = rng.choice((2021, 2021, 2021, 2018, 2023))
        depart = _iso(rng, year)
        seg = rng.randint(0, 2)
        doc = {
            "PK": origin, "SK": f"{origin}#{depart}#{serial}#{seg}",
            "type": "flight", "origin": origin, "dest": dest,
            "depart": depart, "number": 1000 + serial, "segId": seg,
            "GSI2PK": str(1000 + serial), "GSI2SK": str(seg),
        }
        if seg:
            doc["isSegment"] = True
        # segments: N on nonstop headers, a display string on the others
        doc["segments"] = 1 if serial % 2 else f"{{{origin}, {dest}}}"
        return Item(doc)
    pax = rng.choice(PASSENGERS)
    depart = _iso(rng)
    if kind == "assignment":
        seat = f"{rng.randint(1, 40)}{rng.choice('ABCDEF')}"
        return Item({
            "PK": pax, "SK": f"{depart}#{serial}#2#{seat}",
            "type": "assignment", "passenger": pax, "depart": depart,
            "number": str(1000 + serial),  # S-typed here, N on flights
            "segId": 2, "seat": seat, "SSR": "[wheelchair, vegan]",
        })
    return Item({
        "PK": pax, "SK": f"{depart}#{serial}", "type": "booking",
        "passenger": pax, "depart": depart, "segments": 2,
    })


def _kind(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.55:
        return "fare"
    if r < 0.88:
        return "flight"
    return "assignment" if r < 0.94 else "booking"


def gen_items(seed: int, n: int, cold_share: float = 0.01) -> list[Item]:
    """``n`` items, ~55% fare / 33% flight / 12% booking+assignment; a
    ``cold_share`` of the routed items has a reserved origin."""
    rng = random.Random(seed)
    out = []
    for i in range(n):
        kind = _kind(rng)
        cold = kind in ROUTES and rng.random() < cold_share
        out.append(make_item(rng, i, kind,
                             rng.choice(COLD_AIRPORTS) if cold else None))
    return out


def write_export(items: list[Item], out_dir: str, n_files: int = 8) -> int:
    """DynamoDB export layout: ``n_files`` gzipped parts of
    ``{"Item": ...}`` lines plus a manifest line the reader must skip.
    Returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for f in range(n_files):
        lines = [f'{{"Item": {it.wire}}}' for it in items[f::n_files]]
        if f == 0:
            lines.append('{"manifestFileVersion": "2020-06-30"}')
        data = gzip.compress(("\n".join(lines) + "\n").encode(), mtime=0)
        with open(os.path.join(out_dir, f"part-{f:05d}.json.gz"), "wb") as fh:
            fh.write(data)
        total += len(data)
    return total


class Model:
    """Last-write-wins reference: route → {_id: (seq, item)}."""

    def __init__(self, items: list[Item]):
        self.live: dict[str, dict[str, tuple[int, Item]]] = {
            r: {} for r in ROUTES}
        for it in items:
            if it.type in self.live:
                self.live[it.type][it.id] = (0, it)

    def apply(self, ev: "Event") -> None:
        key = ev.id
        if ev.name == "REMOVE":
            for route in ROUTES:  # deletes bypass routing
                cur = self.live[route].get(key)
                if cur is not None and cur[0] <= ev.seq:
                    del self.live[route][key]
            return
        table = self.live.get(ev.item.type)
        if table is None:
            return  # unrouted entity type
        cur = table.get(key)
        if cur is None or cur[0] <= ev.seq:
            table[key] = (ev.seq, ev.item)

    def route_summary(self, route: str) -> tuple[int, int]:
        return summarize(self.live[route].items())


def digest_row(doc_id: str, fields: tuple) -> int:
    parts = [doc_id] + ["~" if v is None else v for v in fields]
    return zlib.crc32("|".join(parts).encode())


def summarize(rows) -> tuple[int, int]:
    n, total = 0, 0
    for doc_id, (_seq, item) in rows:
        n += 1
        total += digest_row(doc_id, item.fields)
    return n, total


class Event:
    """One CDC record. ``item`` is the new image (None for REMOVE)."""

    __slots__ = ("seq", "name", "pk", "sk", "item", "shard", "line")

    def __init__(self, seq, name, pk, sk, item, shard):
        self.seq, self.name, self.pk, self.sk = seq, name, pk, sk
        self.item, self.shard, self.line = item, shard, None

    @property
    def id(self) -> str:
        return f"{self.pk}|{self.sk}"

    def json(self) -> str:
        return json.dumps({
            "seq": self.seq, "event_name": self.name,
            "event_ts": None, "pk": self.pk, "sk": self.sk,
            "new_image_json": None if self.item is None else self.item.wire,
        })


class CdcGenerator:
    """Seeded CDC event source over an exported item set.

    Mix: 70% MODIFY of Zipf-skewed live keys, 20% INSERT of new keys,
    10% REMOVE; plus ~0.5% exact re-deliveries and ~0.5% late lower-seq
    copies of earlier events. Events of one key always go to the same
    shard (hash of the key), as a DynamoDB stream keeps per-key order.
    Keys that receive a re-delivery or late copy are never removed
    afterwards, so the model does not depend on batch boundaries."""

    def __init__(self, seed: int, items: list[Item], n_shards: int = 4,
                 zipf_s: float = 1.1):
        self.rng = random.Random(seed * 7919 + 17)
        self.n_shards = n_shards
        self.items = items
        pool = [it for it in items if it.fields[0] not in COLD_AIRPORTS]
        self.rng.shuffle(pool)
        self.pool = pool  # Zipf rank order
        w, acc = [], 0.0
        for k in range(len(pool)):
            acc += 1.0 / (k + 1) ** zipf_s
            w.append(acc)
        self.cum = w
        self.current = {it.id: it for it in pool}  # live images
        self.protected: set[str] = set()
        self.history: list[Event] = []
        self.seq = 0
        self.serial = 10_000_000 + seed % 1000 * 100_000

    def initial_inserts(self) -> list[Event]:
        """One INSERT per item of the table, in table order."""
        return [self._emit("INSERT", it.pk, it.sk, it) for it in self.items]

    def _shard(self, key: str) -> int:
        return zlib.crc32(key.encode()) % self.n_shards

    def _zipf_key(self) -> str | None:
        for _ in range(8):
            i = bisect.bisect_left(self.cum, self.rng.random() * self.cum[-1])
            key = self.pool[min(i, len(self.pool) - 1)].id
            if key in self.current:
                return key
        return None

    def _emit(self, name, pk, sk, item) -> Event:
        self.seq += 1
        ev = Event(self.seq, name, pk, sk, item, self._shard(f"{pk}|{sk}"))
        self.history.append(ev)
        return ev

    def next_events(self) -> list[Event]:
        """The next scheduled record(s): usually one, sometimes followed
        by an exact re-delivery."""
        r = self.rng.random()
        if r < 0.005 and self.history:
            old = self.history[-1 - self.rng.randrange(
                min(50, len(self.history)))]
            if old.name != "REMOVE" and old.id in self.current:
                # late copy: an earlier, lower-seq event delivered again
                self.protected.add(old.id)
                late = Event(old.seq, old.name, old.pk, old.sk, old.item,
                             old.shard)
                return [late]
        r = self.rng.random()
        key = self._zipf_key()
        if r < 0.2 or key is None:
            self.serial += 1
            kind = _kind(self.rng)
            it = make_item(self.rng, self.serial, kind)
            self.current[it.id] = it
            ev = self._emit("INSERT", it.pk, it.sk, it)
        elif r < 0.3 and key not in self.protected:
            it = self.current.pop(key)
            ev = self._emit("REMOVE", it.pk, it.sk, None)
        else:
            old = self.current[key]
            it = _modified(self.rng, old)
            self.current[key] = it
            ev = self._emit("MODIFY", it.pk, it.sk, it)
        if ev.name != "REMOVE" and self.rng.random() < 0.005:
            self.protected.add(ev.id)
            dup = Event(ev.seq, ev.name, ev.pk, ev.sk, ev.item, ev.shard)
            return [ev, dup]
        return [ev]


def _modified(rng: random.Random, old: Item) -> Item:
    """New image of an existing item: same key, changed attributes."""
    doc = json.loads(old.wire)
    doc.pop("__id", None)
    plain = {k: v.get("S", v.get("N", v.get("BOOL")))
             for k, v in doc.items()}
    for k, v in doc.items():
        if "N" in v:
            plain[k] = int(v["N"])
    if old.type == "fare":
        plain["class"] = rng.choice(CLASSES)
    plain["dest"] = rng.choice([a for a in AIRPORTS if a != plain.get(
        "origin")])
    if "number" in plain and isinstance(plain["number"], int):
        plain["number"] = plain["number"] + 1
    return Item(plain)


class ShardWriter:
    """Appends events to ``shard_<n>.jsonl`` files, one line each, and
    records the line number every event landed on."""

    def __init__(self, root: str, n_shards: int):
        os.makedirs(root, exist_ok=True)
        self.root = root
        self.files = [open(os.path.join(root, f"shard_{i}.jsonl"), "a")
                      for i in range(n_shards)]
        self.lines = [0] * n_shards

    def append(self, events: list[Event]) -> None:
        for ev in events:
            f = self.files[ev.shard]
            f.write(ev.json() + "\n")
            ev.line = self.lines[ev.shard]
            self.lines[ev.shard] += 1
        for shard in {e.shard for e in events}:
            self.files[shard].flush()

    def close(self) -> None:
        for f in self.files:
            f.close()
