"""The benchmark's workloads, driven through the pipeline's public API.

``export_bootstrap``: repeated bootstraps of one export.
``search_mix``: a closed-loop client cycling a fixed request set over a
bootstrapped index. ``cdc_stream``: an open-loop CDC tail over a
stream-loaded index with a light open-loop reader beside it (run by
hand; not steady enough for a bounded check, see NOTES.md).

All return the same end-to-end metrics (names in ``E2E``) plus
workload-specific ones printed by name; traced runs add the per-layer
metrics of ``trace_metrics``. Every answer is checked against the
reference model in ``gen``. See NOTES.md for the reasoning.
"""

from __future__ import annotations

import ast
import bisect
import datetime as dt
from contextlib import nullcontext
import json
import os
import random
import statistics
import threading
import time

import gen
from spans import (TimingSink, Tracer, descendants, dir_files, median,
                   spark_job_counts)

# Input sizes (see NOTES.md for how they were chosen).
CDC_INDEX_ITEMS = 12_000
CDC_RATE = 50.0  # records/s, open loop (see NOTES.md)
CDC_READ_RATE = 0.5  # reader requests/s, open loop (see NOTES.md)
CDC_WARM_S = 8.0  # open-loop traffic before timing starts (see NOTES.md)
CDC_DRAIN_TIMEOUT_S = 60.0
BOOT_ITEMS = 6_000
BOOT_WARM = 2  # untimed bootstraps before timing
MIX_INDEX_ITEMS = 20_000
MIX_CHURN_EVENTS = 3_000
MIX_WARM_CYCLES = 2  # untimed cycles: the read path's JIT warm-up

# End-to-end metrics every workload reports (units). The latency pair is
# the workload's headline latency: bootstrap time on export_bootstrap,
# request latency on search_mix (mean over a request cycle, median over
# cycles; 90th percentile over requests), CDC lag on cdc_stream.
E2E = {
    "setup_s": "s",
    "latency_s": "s",
    "latency_p90_s": "s",
    "index_bytes_per_doc": "bytes",
}


def pctl(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q / 100 * len(s) + 0.5)) - 1))]


class Run:
    """One run's context: session, scratch dir, options, tracer, tallies
    of attempted and failed operations by kind."""

    def __init__(self, spark, work: str, seed: int, seconds: float,
                 tracer: Tracer | None, session_s: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.session_s = session_s
        self.attempted = 0
        self.failures: dict[str, int] = {}
        self.notes: dict[str, object] = {}
        # workload metrics outside E2E, printed by name: (value, unit)
        self.named: dict[str, tuple[float, str]] = {}
        self.sink = None
        self._lock = threading.Lock()

    def count(self, n: int = 1) -> None:
        with self._lock:
            self.attempted += n

    def fail(self, kind: str, n: int = 1) -> None:
        with self._lock:
            self.failures[kind] = self.failures.get(kind, 0) + n

    def pipeline(self, name: str):
        from opensearch_dynamodb_etl_cdk_spark.sources.connectors import (
            IndexMergeSink)
        from opensearch_dynamodb_etl_cdk_spark.streaming.pipeline import (
            FlightsEtlPipeline, PipelineConfig)

        root = os.path.join(self.work, name)
        cfg = PipelineConfig(index_root=root,
                             checkpoint_root=root + "_checkpoint")
        if self.tracer is not None:
            self.sink = TimingSink(IndexMergeSink(), self.tracer)
            return FlightsEtlPipeline(self.spark, cfg, sink=self.sink)
        return FlightsEtlPipeline(self.spark, cfg)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def phase(self, name: str, since: float) -> float:
        """Note a set-up phase's duration; returns the current time."""
        now = time.perf_counter()
        self.notes.setdefault("setup_phases_s", {})[name] = round(
            now - since, 3)
        return now


# -- checks against the reference model -----------------------------------

def index_summary(p, route: str) -> tuple[int, int]:
    """(live docs, content digest) of a route, computed in Spark the way
    ``gen.summarize`` computes it from the model."""
    from pyspark.sql import functions as F

    view = p.index_view(route)
    if view is None:
        return 0, 0
    row_text = F.concat_ws("|", *[
        F.coalesce(F.col(c).cast("string"), F.lit("~"))
        for c in gen.DIGEST_COLS])
    r = view.agg(F.count("*").alias("n"),
                 F.sum(F.crc32(row_text)).alias("d")).collect()[0]
    return int(r["n"]), int(r["d"] or 0)


def check_index(run: Run, p, model: gen.Model) -> bool:
    ok = True
    for route in gen.ROUTES:
        got = index_summary(p, route)
        want = model.route_summary(route)
        if got != want:
            run.fail(f"index_mismatch.{route}")
            run.notes[f"index_mismatch.{route}"] = {"got": got, "want": want}
            ok = False
    return ok


def doc_fields(doc: dict) -> tuple:
    seg = doc.get("seg_id")
    return (doc.get("origin"), doc.get("dest"), doc.get("fare_class"),
            doc.get("flight_number_raw"), None if seg is None else str(seg))


def dlq_rows(p) -> int:
    from pyspark.sql import functions as F

    m = p.read_metrics()
    if m is None:
        return 0
    return int(m.agg(F.sum("rows_dlq")).collect()[0][0] or 0)


def index_bytes(p) -> int:
    return sum(sum(dir_files(os.path.join(p.cfg.index_root, r)).values())
               for r in gen.ROUTES)


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    JVM and Spark's Python workers), sampled every 0.25 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._done = threading.Event()

    @staticmethod
    def tree_rss_kb() -> int:
        page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        total = 0
        for pid in [os.getpid()] + descendants():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * page_kb
            except (OSError, IndexError, ValueError):
                pass  # exited meanwhile
        return total

    def run(self):
        while not self._done.is_set():
            self.peak_kb = max(self.peak_kb, self.tree_rss_kb())
            self._done.wait(0.25)

    def stop(self) -> float:
        self._done.set()
        self.join(5)
        self.peak_kb = max(self.peak_kb, self.tree_rss_kb())
        return self.peak_kb / 1024


def as_dict(pr) -> dict:
    """A streaming progress report as a plain dict."""
    return pr if isinstance(pr, dict) else json.loads(pr.json)


def progress_start_s(pr: dict) -> float:
    ts = dt.datetime.strptime(pr["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=dt.timezone.utc).timestamp()


def progress_end_s(pr: dict) -> float:
    return progress_start_s(pr) + pr["durationMs"].get(
        "triggerExecution", 0) / 1000


def source_offsets(pr: dict, key: str) -> dict[str, int]:
    off = pr["sources"][0].get(key)
    if isinstance(off, str):
        # the Python data source's offset, as JSON or as a Python repr
        try:
            off = json.loads(off)
        except ValueError:
            off = ast.literal_eval(off)
    out = {}
    for name, entry in (off or {}).items():
        out[name] = int(entry["line"] if isinstance(entry, dict) else entry)
    return out


def data_batches(q) -> list[dict]:
    return [d for d in map(as_dict, q.recentProgress)
            if d["numInputRows"] > 0]


def committed_lines(q) -> dict[str, int] | None:
    pr = q.lastProgress
    return None if pr is None else source_offsets(as_dict(pr), "endOffset")


# -- cdc_stream -------------------------------------------------------------

def cdc_stream(run: Run) -> dict:
    from opensearch_dynamodb_etl_cdk_spark.sources.ddb_export import (
        read_export)

    t_setup = time.perf_counter()
    items = gen.gen_items(run.seed, CDC_INDEX_ITEMS)
    export = os.path.join(run.work, "export")
    if run.tracer:  # input of the isolated codec measurement
        gen.write_export(items, export)
    model = gen.Model(items)
    cold = sorted(it.id for it in items
                  if it.type in gen.ROUTES and it.fields[0] in gen.COLD_AIRPORTS)
    cdc = gen.CdcGenerator(run.seed, items)
    shards = os.path.join(run.work, "shards")
    writer = gen.ShardWriter(shards, cdc.n_shards)
    # the stream's first micro-batch loads the table from its INSERTs:
    # it builds the index and pays the stream's one-time costs
    appended = [(e, time.time()) for e in cdc.initial_inserts()]
    writer.append([e for e, _ in appended])
    t = run.phase("generate", t_setup)
    p = run.pipeline("cdc")
    q = p.start_stream(source="sharded-stream", trigger_once=False,
                       options={"shards_root": shards})
    try:
        if not _wait_committed(q, writer, 150.0):
            raise RuntimeError("initial load did not commit in 150 s")
        t = run.phase("initial_load", t)

        rss = RssSampler()
        rss.start()
        reads: list[tuple[str, float]] = []
        lateness: list[float] = []
        # traffic starts CDC_WARM_S before timing: the first batches after
        # the load still warm the JVM up
        t_warm = time.time() + 0.2
        t0 = t_warm + CDC_WARM_S
        gen_thread = threading.Thread(
            target=_generate, args=(run, cdc, writer, appended, lateness,
                                    t_warm, t0))
        reader = threading.Thread(
            target=_read_loop, args=(run, p, q, appended, cold, reads,
                                     t_warm, t0))
        gen_thread.start()
        reader.start()
        time.sleep(max(0.0, t0 - time.time()))
        run.phase("warm_traffic", t)
        setup_s = run.session_s + time.perf_counter() - t_setup
        backlog_start = _backlog(q, writer)
        gen_thread.join()
        backlog = _backlog(q, writer)
        reader.join()
        drained = _wait_committed(q, writer, CDC_DRAIN_TIMEOUT_S)
        peak_mb = rss.stop()
        all_batches = data_batches(q)
        batches = [b for b in all_batches if progress_start_s(b) >= t0]
        first_epoch = min((b["batchId"] for b in batches), default=0)
        final = committed_lines(q) or {}
    finally:
        q.stop()
    writer.close()

    # lag: an event's due time → end of the micro-batch that committed it
    ends: dict[str, list[tuple[int, float]]] = {}
    for pr in all_batches:
        for name, line in source_offsets(pr, "endOffset").items():
            ends.setdefault(name, []).append((line, progress_end_s(pr)))
    lags = []
    timed = [(ev, due) for ev, due in appended if due >= t0]
    for ev, due in timed:
        run.count()
        name = f"shard_{ev.shard}.jsonl"
        lst = ends.get(name, [])
        i = bisect.bisect_right([ln for ln, _ in lst], ev.line)
        if i < len(lst):
            lags.append(lst[i][1] - due)
        else:
            run.fail("event_not_committed")
    for ev, _ in appended:
        if ev.line < final.get(f"shard_{ev.shard}.jsonl", 0):
            model.apply(ev)
    check_index(run, p, model)
    n_dlq = dlq_rows(p)
    if n_dlq:
        run.fail("dlq_rows", n_dlq)
    run.notes.update({
        "events_timed": len(timed), "drained": drained,
        "timed_batches_rows_ms": [
            (b["numInputRows"], b["durationMs"].get("triggerExecution"))
            for b in batches],
    })
    live = sum(len(model.live[r]) for r in gen.ROUTES)
    metrics = {
        "setup_s": setup_s,
        "latency_s": pctl(lags, 50),
        "latency_p90_s": pctl(lags, 90),
        "index_bytes_per_doc": index_bytes(p) / max(1, live),
    }
    run.named.update({
        "cdc_lag_p50_s": (pctl(lags, 50), "s"),
        "cdc_lag_p99_s": (pctl(lags, 99), "s"),
        "search_p50_s": (median([s for k, s in reads if k == "search"]), "s"),
        "get_p50_s": (median([s for k, s in reads if k == "get"]), "s"),
        "generator_lateness_p99_s": (pctl(lateness, 99), "s"),
        "backlog_at_start_events": (backlog_start, "count"),
        "backlog_at_end_events": (backlog, "count"),
        "peak_rss_mb": (peak_mb, "MB"),
    })
    extra = {"pipeline": p, "batches": batches, "export": export,
             "events": [e for e, _ in appended], "query_run_id": str(q.runId),
             "first_epoch": first_epoch, "group_batches": len(all_batches)}
    return metrics, extra


def _backlog(q, writer: gen.ShardWriter) -> int:
    """Records appended but not yet committed."""
    done = committed_lines(q) or {}
    return sum(n - done.get(f"shard_{i}.jsonl", 0)
               for i, n in enumerate(writer.lines))


def _wait_committed(q, writer: gen.ShardWriter, timeout: float) -> bool:
    want = {f"shard_{i}.jsonl": n for i, n in enumerate(writer.lines) if n}
    deadline = time.time() + timeout
    while time.time() < deadline:
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        got = committed_lines(q) or {}
        if all(got.get(k, 0) >= n for k, n in want.items()):
            return True
        time.sleep(0.1)
    return False


def _generate(run, cdc, writer, appended, lateness, t_warm, t0) -> None:
    """Open loop: record k is due at t_warm + k / rate whatever the
    pipeline does; lateness is how far behind schedule the append
    happened."""
    k = 0
    while True:
        due = t_warm + k / CDC_RATE
        if due >= t0 + run.seconds:
            return
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        evs = cdc.next_events()
        writer.append(evs)
        appended.extend((e, due) for e in evs)
        if due >= t0:
            lateness.append(time.time() - due)
        k += 1


def _read_loop(run, p, q, appended, cold, reads, t_warm, t0) -> None:
    """Open-loop reader: alternates ``get_doc`` of the latest committed
    upsert with a term search over the cold origins (an answer no CDC
    event changes). Latency runs from the request's due time. A request
    that raises or answers wrong is retried once (see ``_retry``); only
    a second miss counts as a failed operation."""
    body = {"query": {"terms": {"origin": gen.COLD_AIRPORTS}},
            "size": 10, "sort": [{"_id": {"order": "asc"}}]}
    want_hits = cold[:10]
    k = 0
    while True:
        due = t_warm + k / CDC_READ_RATE
        if due >= t0 + run.seconds:
            return
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        kind = "get" if k % 2 == 0 else "search"
        timed = due >= t0
        if timed:
            run.count()
        if run.tracer:
            run.tracer.set_request(f"read-{k}")
            run.spark.sparkContext.setJobGroup(f"read-{k}", kind)
        try:
            if kind == "get":
                ok = _retry(run, lambda: _check_get(run, p, q, appended))
            else:
                ok = _retry(run, lambda: _search_ids(run, p, "fare,flight",
                                                     body) == want_hits)
        finally:
            if run.tracer:
                run.tracer.set_request(None)
        if timed:
            if ok is None:
                run.fail(f"read_error.{kind}")
            elif not ok:
                run.fail(f"wrong_answer.{kind}")
            reads.append((kind, time.time() - due))
        k += 1


def _retry(run, fn):
    """Run a checked read; on an error or a wrong answer (a read that
    raced a bucket rewrite) run it once more. Each first-try miss is
    noted under ``read_conflicts`` by cause. Returns True, False (wrong
    twice) or None (raised twice)."""
    result = None
    for _ in (0, 1):
        try:
            if fn():
                return True
            cause, result = "wrong_answer", False
        except Exception as exc:  # a read racing a merge; keep running
            msg = str(exc)
            cause = ("FILE_NOT_EXIST" if "FILE_NOT_EXIST" in msg
                     or "FileNotFound" in msg else type(exc).__name__)
            result = None
        with run._lock:
            c = run.notes.setdefault("read_conflicts", {})
            c[cause] = c.get(cause, 0) + 1
    return result


def _check_get(run, p, q, appended) -> bool:
    """get_doc of the newest committed upsert of a routed item. Right if
    the document shows that event's image or a later one, or is gone
    because a later REMOVE was appended."""
    done = committed_lines(q) or {}
    target = None
    for ev, _ in reversed(appended):
        if (ev.name != "REMOVE" and ev.item.type in gen.ROUTES
                and ev.line < done.get(f"shard_{ev.shard}.jsonl", 0)):
            target = ev
            break
    if target is None:
        return True
    with run.span("pipeline.get_doc"):
        doc = p.get_doc(target.item.type, target.id)
    later = [e for e, _ in appended if e.id == target.id and e.seq >= target.seq]
    if doc is None:
        return any(e.name == "REMOVE" for e in later)
    seq = doc["_seq"] // 2
    images = {e.seq: e.item for e in later if e.name != "REMOVE"}
    return seq in images and doc_fields(doc) == images[seq].fields


def _search_ids(run, p, pattern: str, body: dict) -> list[str]:
    with run.span("pipeline.search"):
        res = p.search(pattern, body)
        with run.span("search.collect"):
            rows = res["hits"].collect() if res["hits"] is not None else []
    return [r["_id"] for r in rows]


# -- export_bootstrap -------------------------------------------------------

def export_bootstrap(run: Run) -> dict:
    """Repeated ``bootstrap(read_export(...))`` of one export into fresh
    index roots, each checked against the model."""
    from opensearch_dynamodb_etl_cdk_spark.sources.ddb_export import (
        read_export)

    t_setup = time.perf_counter()
    items = gen.gen_items(run.seed, BOOT_ITEMS)
    export = os.path.join(run.work, "export")
    gen.write_export(items, export)
    model = gen.Model(items)
    t = run.phase("generate", t_setup)
    # the first bootstraps of a JVM are still compiling; bill them to
    # set-up
    for k in range(BOOT_WARM):
        run.pipeline(f"boot-warm-{k}").bootstrap(
            read_export(run.spark, export))
    run.phase("warm_up", t)
    setup_s = run.session_s + time.perf_counter() - t_setup

    rss = RssSampler()
    rss.start()
    durations, built = [], []
    t0 = time.perf_counter()
    while not durations or time.perf_counter() - t0 < run.seconds:
        p = run.pipeline(f"boot-{len(durations)}")
        run.count()
        t = time.perf_counter()
        with run.span("pipeline.bootstrap"):
            p.bootstrap(read_export(run.spark, export))
        durations.append(time.perf_counter() - t)
        built.append(p)
    peak_mb = rss.stop()
    for p in built:  # after timing: every bootstrap is one answer
        check_index(run, p, model)

    extra = {"pipeline": p, "export": export, "first_epoch": 0}
    if run.tracer:  # the read, stream and sink layers report here too
        for req in mix_requests(random.Random(run.seed), model):
            run.tracer.set_request(f"req-{req[0]}-{req[1]}")
            run.spark.sparkContext.setJobGroup(req[0], req[1])
            _issue(run, p, req, count=False)
        run.tracer.set_request(None)
        extra.update(_churn(run, p, items, model))
        check_index(run, p, model)
    n_dlq = dlq_rows(p)
    if n_dlq:
        run.fail("dlq_rows", n_dlq)
    live = sum(len(model.live[r]) for r in gen.ROUTES)
    run.notes.update({"bootstraps": len(durations),
                      "bootstrap_s": [round(d, 3) for d in durations]})
    run.named.update({
        "bootstrap_items_per_s": (len(items) / median(durations), "items/s"),
        "peak_rss_mb": (peak_mb, "MB"),
    })
    metrics = {
        "setup_s": setup_s,
        "latency_s": median(durations),
        "latency_p90_s": pctl(durations, 90),
        "index_bytes_per_doc": index_bytes(p) / max(1, live),
    }
    return metrics, extra


# -- search_mix -------------------------------------------------------------

def search_mix(run: Run) -> dict:
    from opensearch_dynamodb_etl_cdk_spark.sources.ddb_export import (
        read_export)

    t_setup = time.perf_counter()
    items = gen.gen_items(run.seed, MIX_INDEX_ITEMS)
    export = os.path.join(run.work, "export")
    gen.write_export(items, export)
    t = run.phase("generate", t_setup)
    p = run.pipeline("mix")
    with run.span("pipeline.bootstrap"):
        p.bootstrap(read_export(run.spark, export))
    t = run.phase("bootstrap", t)
    model = gen.Model(items)
    cycle = mix_requests(random.Random(run.seed), model)
    for _ in range(MIX_WARM_CYCLES):  # untimed, billed to set-up
        t_cycle = time.perf_counter()
        for req in cycle:
            _issue(run, p, req, count=False)
    # whole cycles only, so every run weighs the request kinds alike; as
    # many as the last warm cycle's pace fits in --seconds
    n_cycles = max(1, round(run.seconds / (time.perf_counter() - t_cycle)))
    run.phase("warm_up", t)
    setup_s = run.session_s + time.perf_counter() - t_setup

    rss = RssSampler()
    rss.start()
    lat: list[tuple[str, float]] = []
    t0 = time.perf_counter()
    for _ in range(n_cycles):
        for req in cycle:
            if run.tracer:
                run.tracer.set_request(f"req-{len(lat)}")
                run.spark.sparkContext.setJobGroup(f"req-{len(lat)}", req[0])
            t = time.perf_counter()
            _issue(run, p, req)
            lat.append((req[0], time.perf_counter() - t))
    elapsed = time.perf_counter() - t0
    if run.tracer:
        run.tracer.set_request(None)
    peak_mb = rss.stop()

    extra = {"pipeline": p, "export": export, "first_epoch": 0}
    if run.tracer:
        extra.update(_churn(run, p, items, model))
    check_index(run, p, model)
    n_dlq = dlq_rows(p)
    if n_dlq:
        run.fail("dlq_rows", n_dlq)
    all_s = [s for _, s in lat]
    n = len(cycle)
    cycle_means = [statistics.fmean(all_s[i:i + n])
                   for i in range(0, len(all_s), n)]
    search_s = [s for k, s in lat if k in SEARCH_KINDS]
    run.named.update({
        "search_p50_s": (median(search_s), "s"),
        "search_p90_s": (pctl(search_s, 90), "s"),
        "search_qps": (len(lat) / elapsed, "req/s"),
        "get_p50_s": (median([s for k, s in lat if k in GET_KINDS]), "s"),
        "agg_p50_s": (median([s for k, s in lat if k in AGG_KINDS]), "s"),
        "peak_rss_mb": (peak_mb, "MB"),
    })
    run.notes.update({
        "requests": len(lat),
        "per_kind_p50_s": {k: round(median([s for kk, s in lat if kk == k]),
                                    4) for k in sorted({k for k, _ in lat})},
    })
    live = sum(len(model.live[r]) for r in gen.ROUTES)
    metrics = {
        "setup_s": setup_s,
        "latency_s": median(cycle_means),
        "latency_p90_s": pctl(all_s, 90),
        "index_bytes_per_doc": index_bytes(p) / max(1, live),
    }
    return metrics, extra


def _churn(run: Run, p, items, model: gen.Model) -> dict:
    """Traced runs only: one CDC micro-batch over the served index after
    timing, so the stream and sink layers report on this workload too."""
    cdc = gen.CdcGenerator(run.seed, items)
    shards = os.path.join(run.work, "shards")
    writer = gen.ShardWriter(shards, cdc.n_shards)
    events = []
    while len(events) < MIX_CHURN_EVENTS:
        evs = cdc.next_events()
        writer.append(evs)
        events.extend(evs)
    writer.close()
    q = p.start_stream(source="sharded-stream", trigger_once=True,
                       options={"shards_root": shards})
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"churn stream failed: {q.exception()}")
    for ev in events:
        model.apply(ev)
    batches = data_batches(q)
    return {"batches": batches, "events": events,
            "query_run_id": str(q.runId), "group_batches": len(batches)}


SEARCH_KINDS = ("term", "bool_range_sort", "count")
AGG_KINDS = ("terms_agg", "date_histogram", "sql_group_by")
GET_KINDS = ("get_doc", "mget")
DATE_FIELD = {"fare": "start_ts", "flight": "depart_ts",
              "fare,flight": "depart_ts"}


def _docs(model: gen.Model, pattern: str):
    for route in pattern.split(","):
        yield from model.live[route].items()


# The request cycle: (kind, index pattern). Four search, four
# aggregation and four by-id requests, spread over the patterns.
MIX_CYCLE = (
    ("term", "fare"), ("bool_range_sort", "flight"),
    ("terms_agg", "fare,flight"), ("date_histogram", "fare"),
    ("count", "fare,flight"), ("sql_group_by", "flight"),
    ("mget", "fare"), ("get_doc", "flight"),
    ("term", "fare,flight"), ("date_histogram", "fare,flight"),
    ("get_doc", "fare"), ("mget", "flight"),
)


def mix_requests(rng: random.Random, model: gen.Model) -> list[tuple]:
    """The request cycle as (kind, pattern, argument, expected). Expected
    answers come from the model, computed before timing."""
    return [_request(rng, model, kind, pat) for kind, pat in MIX_CYCLE]


def _request(rng, model, kind, pat) -> tuple:
    docs = list(_docs(model, pat))
    if kind == "term":
        d = rng.choice(gen.AIRPORTS)
        ids = sorted(k for k, (_, it) in docs if it.fields[1] == d)
        return (kind, pat, {"query": {"term": {"dest": d}}, "size": 10,
                            "sort": [{"_id": {"order": "asc"}}]}, ids[:10])
    if kind == "bool_range_sort":
        o = rng.choice(gen.AIRPORTS)
        ids = sorted((k for k, (_, it) in docs
                      if it.fields[0] == o and "C" <= it.fields[1] < "P"),
                     reverse=True)
        return (kind, pat, {
            "query": {"bool": {"filter": [
                {"term": {"origin": o}},
                {"range": {"dest": {"gte": "C", "lt": "P"}}}]}},
            "size": 10, "sort": [{"_id": {"order": "desc"}}]}, ids[:10])
    if kind in ("terms_agg", "sql_group_by"):
        by_dest: dict[str, int] = {}
        for _, (_, it) in docs:
            by_dest[it.fields[1]] = by_dest.get(it.fields[1], 0) + 1
        if kind == "terms_agg":
            return (kind, pat, {"size": 0, "aggs": {"a": {"terms": {
                "field": "dest", "size": 10}}}}, by_dest)
        src = " UNION ALL ".join(f"SELECT dest FROM {r}"
                                 for r in pat.split(","))
        return (kind, pat,
                f"SELECT dest, COUNT(*) AS n FROM ({src}) t GROUP BY dest",
                by_dest)
    if kind == "date_histogram":
        field = DATE_FIELD[pat]
        by_month: dict[str, int] = {}
        for _, (_, it) in docs:
            if field == "start_ts" or it.type == "flight":
                by_month[it.month] = by_month.get(it.month, 0) + 1
        body = {"size": 0, "aggs": {"h": {"date_histogram": {
            "field": field, "calendar_interval": "month"}}}}
        if pat == "fare,flight":
            # fares have no depart_ts; the union would bucket them under
            # a null key, so the request scopes itself to the field
            body["query"] = {"exists": {"field": field}}
        return (kind, pat, body, by_month)
    if kind == "count":
        o = rng.choice(gen.AIRPORTS)
        return (kind, pat, {"query": {"term": {"origin": o}}},
                sum(1 for _, (_, it) in docs if it.fields[0] == o))
    live = sorted(model.live[pat])
    if kind == "mget":
        picks = rng.sample(live, 9)
        return (kind, pat, picks + [f"{picks[0]}#absent"], set(picks))
    doc_id = rng.choice(live)
    return (kind, pat, doc_id, model.live[pat][doc_id][1].fields)


def _issue(run: Run, p, req, count: bool = True) -> None:
    """Send one request and check its answer; errors and wrong answers
    are tallied and noted, never raised."""
    kind, target, arg, want = req
    if count:
        run.count()
    try:
        got = _answer(run, p, kind, target, arg)
    except Exception as exc:  # tallied as a failed operation
        if count:
            run.fail(f"error.{kind}")
            run.notes.setdefault("errors", []).append(
                f"{kind} {target}: {type(exc).__name__}: {str(exc)[:200]}")
        return
    if count and not _matches(kind, got, want):
        run.fail(f"wrong_answer.{kind}")
        run.notes.setdefault("wrong_answers", []).append(
            f"{kind} {target}: got {str(got)[:300]} want {str(want)[:300]}")


def _answer(run, p, kind, target, arg):
    if kind in ("term", "bool_range_sort"):
        return _search_ids(run, p, target, arg)
    if kind in ("terms_agg", "date_histogram"):
        with run.span("pipeline.search"):
            res = p.search(target, arg)
        buckets = res["aggregations"][next(iter(arg["aggs"]))]["buckets"]
        if kind == "date_histogram":
            return {str(b["key"])[:7]: b["doc_count"] for b in buckets
                    if b["doc_count"]}
        return {b["key"]: b["doc_count"] for b in buckets}
    if kind == "count":
        with run.span("pipeline.count"):
            return p.count(target, arg)
    if kind == "sql_group_by":
        with run.span("pipeline.sql"):
            rows = p.sql(arg).collect()
        return {r["dest"]: r["n"] for r in rows}
    if kind == "mget":
        with run.span("pipeline.mget"):
            rows = p.mget(target, arg).collect()
        return {r["_id"] for r in rows}
    with run.span("pipeline.get_doc"):
        doc = p.get_doc(target, arg)
    return None if doc is None else doc_fields(doc)


def _matches(kind, got, want) -> bool:
    if kind != "terms_agg":
        return got == want
    # a top-10 by count: every returned count exact, none left out that
    # beats a returned one (ties at the cut may go either way)
    if any(want.get(k) != n for k, n in got.items()):
        return False
    rest = [n for k, n in want.items() if k not in got]
    return len(got) == min(10, len(want)) and (
        not rest or max(rest) <= min(got.values()))


WORKLOADS = {"export_bootstrap": export_bootstrap, "cdc_stream": cdc_stream,
             "search_mix": search_mix}


# -- traced runs: per-layer metrics ----------------------------------------

SELF_TIME_SPANS = ("pipeline.search",
                   "pipeline.multi_index_view", "search.compile_query",
                   "search.execute_search", "search.collect",
                   "pipeline.get_doc", "sink.write_route")


def install_wrappers(tracer: Tracer) -> None:
    """Span the package's internal layer boundaries from outside."""
    from opensearch_dynamodb_etl_cdk_spark.operators import search as ops
    from opensearch_dynamodb_etl_cdk_spark.streaming.pipeline import (
        FlightsEtlPipeline)

    tracer.wrap(FlightsEtlPipeline, "multi_index_view",
                "pipeline.multi_index_view")
    tracer.wrap(ops, "compile_query", "search.compile_query")
    tracer.wrap(ops, "execute_search", "search.execute_search")


def _noop_s(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def trace_metrics(run: Run, extra: dict) -> dict[str, tuple[float, str]]:
    from pyspark.sql import functions as F

    from opensearch_dynamodb_etl_cdk_spark.operators.upsert import (
        latest_by_key)
    from opensearch_dynamodb_etl_cdk_spark.sources.ddb_export import (
        read_export)

    tr, p, spark = run.tracer, extra["pipeline"], run.spark
    sc = spark.sparkContext
    out: dict[str, tuple[float, str]] = {}
    out["session.start_s"] = (run.session_s, "s")

    # codec and upsert cost, isolated on this run's export (second of two
    # passes, so one-time plan costs stay out)
    export = extra["export"]
    read_s = [_noop_s(read_export(spark, export)) for _ in range(2)][-1]
    xform_s = [_noop_s(p.transform_export(read_export(spark, export)))
               for _ in range(2)][-1]
    latest_s = [_noop_s(latest_by_key(p.transform_export(
        read_export(spark, export)))) for _ in range(2)][-1]
    out["ddb_export.read_s"] = (read_s, "s")
    out["ddb.unmarshal_s"] = (max(0.0, xform_s - read_s), "s")
    out["upsert.latest_by_key_s"] = (max(0.0, latest_s - xform_s), "s")

    batches = extra["batches"]
    by_line = {(f"shard_{e.shard}.jsonl", e.line): e for e in extra["events"]}
    kpe = []
    for pr in batches:
        lo, hi = (source_offsets(pr, "startOffset"),
                  source_offsets(pr, "endOffset"))
        evs = [by_line[(s, ln)] for s, end in hi.items()
               for ln in range(lo.get(s, 0), end) if (s, ln) in by_line]
        if evs:
            kpe.append(len({e.id for e in evs}) / len(evs))
    out["upsert.keys_per_event"] = (median(kpe), "ratio")

    m = p.read_metrics()
    routed = {r["route"]: int(r["n"]) for r in m.groupBy("route").agg(
        F.sum("rows_routed").alias("n")).collect()} if m is not None else {}
    out["routing.rows_routed.fare"] = (routed.get("fare", 0), "count")
    out["routing.rows_routed.flight"] = (routed.get("flight", 0), "count")
    out["routing.rows_dropped"] = (routed.get("dropped", 0), "count")
    out["dlq.rows"] = (dlq_rows(p), "count")

    writes = [w for w in run.sink.writes
              if w["epoch"] >= extra["first_epoch"]]
    rows = sum(pr["numInputRows"] for pr in batches)
    out["sink.write_route_s"] = (median([w["s"] for w in writes]), "s")
    out["sink.buckets_rewritten"] = (
        median([w["buckets"] for w in writes]), "count")
    out["sink.files_written"] = (median([w["files"] for w in writes]),
                                 "count")
    out["sink.bytes_written_per_event"] = (
        sum(w["bytes"] for w in writes) / max(1, rows), "bytes")
    overhead = []
    for pr in batches:
        sink_s = sum(w["s"] for w in writes if w["epoch"] == pr["batchId"])
        overhead.append(pr["durationMs"].get("addBatch", 0) / 1000 - sink_s)
    out["pipeline.batch_overhead_s"] = (median(overhead), "s")
    jobs, tasks = spark_job_counts(sc, extra["query_run_id"])
    n = max(1, extra["group_batches"])
    out["pipeline.spark_jobs_per_batch"] = (jobs / n, "count")
    out["pipeline.spark_tasks_per_batch"] = (tasks / n, "count")

    def dur(key):  # mean: these are whole milliseconds, often tied
        xs = [pr["durationMs"].get(key, 0) for pr in batches]
        return statistics.fmean(xs) if xs else 0.0

    out["stream.trigger_ms"] = (dur("triggerExecution"), "ms")
    out["stream.query_planning_ms"] = (dur("queryPlanning"), "ms")
    out["stream.wal_commit_ms"] = (dur("walCommit"), "ms")
    out["stream.commit_offsets_ms"] = (dur("commitOffsets"), "ms")
    out["stream_source.latest_offset_ms"] = (dur("latestOffset"), "ms")
    out["stream_source.rows_per_batch"] = (
        median([pr["numInputRows"] for pr in batches]), "count")

    files = {}
    for r in gen.ROUTES:
        files.update({(r, k): v for k, v in dir_files(
            os.path.join(p.cfg.index_root, r)).items()})
    out["index.files"] = (len(files), "count")
    out["index.bytes"] = (sum(files.values()), "bytes")

    ms = lambda name: median(tr.durations(name)) * 1000  # noqa: E731
    out["pipeline.resolve_ms"] = (ms("pipeline.multi_index_view"), "ms")
    out["search.compile_ms"] = (ms("search.compile_query"), "ms")
    out["search.execute_ms"] = (ms("search.execute_search"), "ms")
    out["search.collect_ms"] = (ms("search.collect"), "ms")
    reqs = sorted({s[5] for s in tr.spans if s[5]})
    counts = [spark_job_counts(sc, r) for r in reqs]
    out["search.spark_jobs_per_request"] = (
        median([c[0] for c in counts]), "count")
    out["search.spark_tasks_per_request"] = (
        median([c[1] for c in counts]), "count")

    self_t = tr.self_times()
    for name in SELF_TIME_SPANS:
        out[f"self.{name}_s"] = (self_t.get(name, 0.0), "s")
    out["reads.conflicts"] = (
        sum(run.notes.get("read_conflicts", {}).values()), "count")
    out["trace.spans"] = (len(tr.spans), "count")
    out["trace.overhead_s"] = (len(tr.spans) * tr.span_cost_s(), "s")
    return out
