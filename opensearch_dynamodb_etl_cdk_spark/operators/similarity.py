"""Similarity search over embedding columns (SURVEY §2.10 E3; driver
charter: ANN over ``array<float>``).

Three tiers:

1. ``brute_force_topk`` — exact cosine top-k for one query vector.
   Expression-based (oracle-checkable); physical plan is scan →
   project → TakeOrderedAndProject: no shuffle of the corpus, only
   top-k per partition then k·partitions rows to the driver-side heap.
2. ``topk_join`` — exact top-k for a *set* of query vectors: broadcast
   the queries (small side), cosine per (doc, query), window top-k per
   query. The corpus never shuffles; the window partitions by query id.
3. ``lsh_ann_topk`` — the 100 TB path: random-hyperplane LSH buckets
   (deterministic seeded planes), candidate = same bucket in any of
   ``n_tables`` tables (multi-probe over 1-bit flips optional), exact
   re-rank of candidates only. Recall tunable via tables × bits.

The numpy/Arrow batch path (``cosine_scores_pandas``) exists for bench
comparisons: per-batch matrix multiply beats per-row expression folds
once dims × rows get large, at the cost of leaving codegen.
"""

from __future__ import annotations

import json
import math
import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from pyspark.sql.types import ArrayType, DoubleType

# schema object (not a DDL string) for the centroid literal: skips the
# per-call DDL parse in from_json
_CENTS_TYPE = ArrayType(ArrayType(DoubleType()))

from ..functions.vectors import (
    cosine,
    dot,
    int8_scale,
    l2_norm,
    quantize_int8,
)


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = df.select(
        F.col(id_col),
        cosine(F.col(vec_col), q).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def topk_join(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact top-k per query vector; queries broadcast (dimension-table
    pattern — corpus-side no shuffle)."""
    scored = df.crossJoin(F.broadcast(queries)).select(
        F.col(q_id_col),
        F.col(id_col),
        cosine(F.col(vec_col), F.col(q_vec_col)).alias("score"),
    )
    w = W.partitionBy(q_id_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def _hyperplanes(dim: int, bits: int, table: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed * 1_000_003 + table)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def bucket_signature(vec_col, planes: list[list[float]]):
    """Sign-bit bucket id for one LSH table, as a pure expression."""
    bit_exprs = []
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(x) for x in plane])
        bit = F.when(dot(F.col(vec_col) if isinstance(vec_col, str) else vec_col, p) > 0,
                     F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        bit_exprs.append(bit)
    sig = bit_exprs[0]
    for b in bit_exprs[1:]:
        sig = sig + b
    return sig


def query_signatures(
    query_vec: list[float], bits: int = 8, n_tables: int = 8, seed: int = 42
) -> list[tuple[int, int]]:
    """Driver-side (table, bucket) signature pairs for ONE query vector —
    bits × n_tables dot products in plain Python (microseconds; never a
    Spark job). Must stay bit-identical to :func:`bucket_signature`."""
    dim = len(query_vec)
    out = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, bits, t, seed)
        sig = sum(
            (1 << i)
            for i, plane in enumerate(planes)
            if sum(a * b for a, b in zip(query_vec, plane)) > 0
        )
        out.append((t, sig))
    return out


def build_lsh_index(
    df: DataFrame,
    bits: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Materialized LSH index: one (id, table, bucket) row per vector per
    table — the build-once / query-many path (the reference's whole
    design: materialize the index, query it repeatedly, never rescan the
    source per search — custom_resource.py:343-383).

    All signatures come from one codegen projection over a single corpus
    scan (explode of n_tables structs); the output is three narrow
    columns — at 100 TB the index is ~n_tables × 20 bytes/vector, cheap
    to persist partitioned by ``table`` and sorted/z-ordered by
    ``bucket`` so bucket-equality predicates prune row groups."""
    if dim is None:
        dim = df.select(F.size(F.col(vec_col))).first()[0]
    entries = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, bits, t, seed)
        entries.append(
            F.struct(
                F.lit(t).alias("table"),
                bucket_signature(vec_col, planes).cast("long").alias("bucket"),
            )
        )
    return df.select(
        F.col(id_col), F.explode(F.array(*entries)).alias("tb")
    ).select(id_col, F.col("tb.table").alias("table"), F.col("tb.bucket").alias("bucket"))


def lsh_candidate_ids(
    index: DataFrame,
    query_vec: list[float],
    bits: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    probe_flips: int = 0,
) -> DataFrame:
    """Candidate ids for one query from the materialized index: an OR of
    n_tables ``(table = t AND bucket IN (...))`` predicates — pushable
    (shows up in PushedFilters on a parquet-persisted index), so only
    matching row groups are read. Candidates ≈ corpus × n_tables /
    2^bits ≪ corpus.

    ``probe_flips=1`` enables multi-probe: each table also probes the
    ``bits`` buckets at hamming distance 1 from the query signature
    (sign bits nearest the hyperplane flip first) — recall rises
    without growing the index, candidates grow ×(1 + bits)."""
    pred = None
    for t, b in query_signatures(query_vec, bits, n_tables, seed):
        buckets = [b]
        if probe_flips >= 1:
            buckets += [b ^ (1 << i) for i in range(bits)]
        p = (F.col("table") == t) & F.col("bucket").isin(buckets)
        pred = p if pred is None else (pred | p)
    return index.filter(pred).select(id_col).distinct()


def query_lsh_topk(
    df: DataFrame,
    index: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    probe_flips: int = 0,
) -> DataFrame:
    """ANN top-k against a *materialized* index: bucket lookup →
    broadcast-semi-join the candidate ids against the corpus → exact
    cosine re-rank of candidates only. The corpus is scanned once with
    an id-equality semi join (broadcast: |candidates| ≪ corpus) — no
    per-query signature folds over the full corpus. ``probe_flips``
    passes through to :func:`lsh_candidate_ids` (multi-probe)."""
    cands = lsh_candidate_ids(
        index, query_vec, bits, n_tables, seed, id_col, probe_flips
    )
    candidates = df.join(F.broadcast(cands), on=id_col, how="left_semi")
    return brute_force_topk(candidates, query_vec, k, id_col, vec_col)


def query_lsh_topk_multi(
    df: DataFrame,
    index: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    bits: int = 8,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Batch ANN: signature-frame the query set with the SAME
    :func:`build_lsh_index` expressions, join query buckets to the index
    on (table, bucket) — the bucket-key join, linear in index size — then
    exact re-rank per query. Query side is broadcast (small)."""
    q_idx = build_lsh_index(
        queries, bits, n_tables, seed, id_col=q_id_col, vec_col=q_vec_col,
        dim=len(queries.select(q_vec_col).head()[0]),
    )
    pairs = (
        index.join(F.broadcast(q_idx), on=["table", "bucket"])
        .select(q_id_col, id_col)
        .distinct()
    )
    scored = (
        df.join(F.broadcast(pairs), on=id_col)  # corpus never shuffles
        .join(F.broadcast(queries), on=q_id_col)
        .select(
            F.col(q_id_col),
            F.col(id_col),
            cosine(F.col(vec_col), F.col(q_vec_col)).alias("score"),
        )
    )
    w = W.partitionBy(q_id_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def lsh_ann_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """One-shot approximate top-k (no index on disk): same bucket
    semantics as the materialized path, evaluated in a single corpus
    scan. Use :func:`build_lsh_index` + :func:`query_lsh_topk` when the
    corpus is queried more than once — this variant re-folds signatures
    per call and exists for ad-hoc queries and as the semantics oracle
    for the indexed path (both produce identical candidates)."""
    dim = len(query_vec)
    cand_pred = None
    for t in range(n_tables):
        planes = _hyperplanes(dim, bits, t, seed)
        sig = bucket_signature(vec_col, planes)
        q_sig = sum(
            (1 << i)
            for i, plane in enumerate(planes)
            if sum(a * b for a, b in zip(query_vec, plane)) > 0
        )
        pred = sig == F.lit(q_sig).cast("long")
        cand_pred = pred if cand_pred is None else (cand_pred | pred)
    candidates = df.filter(cand_pred)
    return brute_force_topk(candidates, query_vec, k, id_col, vec_col)


def ivf_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 3,
) -> list[list[float]]:
    """IVF coarse-quantizer centroids: deterministic hash-sample init
    refined by distributed Lloyd (k-means) iterations.

    Init: the n vectors with the smallest xxhash64(id) — deterministic,
    seed-free. Refinement: each iteration assigns every vector to its
    max-cosine centroid in one codegen scan (:func:`ivf_assign`) and
    recomputes each centroid as the per-dimension mean of its members.
    The means are ``dim`` scalar aggregates per cell (no explode — the
    shuffle carries n_centroids × dim partials, not corpus rows), with
    sums in decimal so the result is bit-identical across partitionings
    and re-runs — centroids computed at build time and again at query
    time must agree exactly or indexed/one-shot paths diverge. Empty
    cells keep their previous centroid. Driver traffic per iteration is
    n_centroids × dim doubles.

    At 100 TB the centroid set is computed once on a sample partition
    set and reused; refinement cost is refine_iters corpus scans, each
    a map-side partial-agg with a tiny shuffle.
    """
    rows = (
        df.select(F.col(vec_col).alias("v"), F.xxhash64(F.col(id_col).cast("string")).alias("h"))
        .orderBy("h")
        .limit(n_centroids)
        .collect()
    )
    cents = [[float(x) for x in r.v] for r in rows]
    if not cents or refine_iters <= 0:
        return cents
    dim = len(cents[0])
    # per-dimension decimal means via posexplode: ONE decimal-sum
    # aggregate over (cluster, dim) keys instead of `dim` separate agg
    # columns — same cast → exact-decimal-sum → /count → double
    # expression per element, so the means are bit-identical (asserted
    # when this replaced the wide agg), but the analyzed/codegen'd plan
    # is constant-size in `dim` (the wide form paid ~0.4 s/iteration of
    # plan+codegen overhead at dim=64). The shuffle still carries only
    # n_centroids × dim decimal partials after map-side partial agg.
    mean_col = (
        (F.sum(F.col("__x").cast("decimal(38,18)")) / F.count(F.lit(1)))
        .cast("double")
        .alias("__m")
    )
    for _ in range(refine_iters):
        stats = (
            ivf_assign(df, cents, vec_col)
            .select("_cluster", F.posexplode(F.col(vec_col)).alias("__j", "__x"))
            .groupBy("_cluster", "__j")
            .agg(mean_col)
            .collect()
        )
        new = [list(c) for c in cents]
        for r in stats:
            new[r["_cluster"]][r["__j"]] = float(r["__m"])
        if new == cents:  # converged early
            break
        cents = new
    return cents


def _sql_double(x: float) -> str:
    """Render a Python float as a Spark SQL DOUBLE literal that parses
    back to the identical bits (repr round-trips; the parser uses
    correctly-rounded Double.parseDouble)."""
    x = float(x)
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if x == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return f"{x!r}D"


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    cluster_col: str = "_cluster",
) -> DataFrame:
    """Assign each vector to its max-cosine centroid, as a pure
    expression: array of (score, cid) structs → array_max picks the
    best (struct ordering compares score first, cid breaks ties).
    At scale this column is materialized once next to the vectors
    (narrow int) and queries touch only probed clusters.

    The expression is generated as ONE compact SQL string (a single
    parse instead of thousands of py4j Column calls — the per-call
    driver cost that dominated Lloyd refinement): the centroid table
    and its norms are emitted once as ``array(...)`` literals that
    constant-fold into codegen *reference* objects, and the
    per-centroid cosine is a ``transform`` over centroid indices whose
    lambdas reproduce :func:`functions.vectors.dot` / ``l2_norm``
    exactly (same zip_with/aggregate shape, same left-to-right fold),
    so scores are bit-identical to the original per-centroid-literal
    expression while the analyzed plan stays ~constant-size in
    ``n_centroids × dim`` (the old form serialized an 8×64-literal
    tree into every task binary: measured 0.28 s build + 0.8-1.0 s/scan
    vs 0.14 s + 0.17 s for this form on the same data). Centroid norms
    are pre-folded driver-side with the identical IEEE op sequence
    (x*x accumulated left-to-right, ``math.sqrt``).

    Raises ``ValueError`` on an empty centroid list (the pre-r13
    expression form returned a null cluster column instead; no current
    caller passes empty centroids — they guard or train first)."""
    if not centroids:
        raise ValueError("ivf_assign: centroids must be non-empty")
    v = f"`{vec_col}`"
    n = len(centroids)
    norms = []
    finite = True
    for c in centroids:
        acc = 0.0
        for x in c:
            x = float(x)
            finite = finite and math.isfinite(x)
            acc += x * x
        norms.append(math.sqrt(acc))
    if finite:
        # centroid table as a JSON literal + from_json: Catalyst
        # constant-folds JsonToStructs(Literal) at optimization time to
        # the IDENTICAL array<array<double>> literal the SQL text below
        # produces (Jackson's Double.parseDouble is correctly rounded,
        # same bits as repr round-trip; equality asserted in the JVM
        # when this landed) — but skips the ~0.1 s ANTLR parse of ~500
        # double literals that dominated each Lloyd iteration's driver
        # time. Non-finite centroids (json can't carry inf/nan) keep
        # the _sql_double path.
        # coerced copy: numpy rows / scalars are not JSON-serializable
        cents_col = F.from_json(
            F.lit(json.dumps([[float(x) for x in c] for c in centroids])),
            _CENTS_TYPE,
        )
    else:
        cents_col = F.expr("array(" + ", ".join(
            "array(" + ", ".join(_sql_double(x) for x in c) + ")"
            for c in centroids
        ) + ")")
    nbs_sql = "array(" + ", ".join(_sql_double(x) for x in norms) + ")"
    assign_sql = f"""
    array_max(transform(sequence(0, {n - 1}),
      i -> struct(
        (aggregate(zip_with({v}, __ivf_c[i], (x, y) -> CAST(x AS DOUBLE) * y),
                   0.0D, (acc, x) -> acc + x)
         / (SQRT(aggregate(transform({v},
                                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                           0.0D, (acc, x) -> acc + x)) * __ivf_nb[i])) AS s,
        i AS c))).c
    """
    return (
        df.withColumn("__ivf_c", cents_col)
        .withColumn("__ivf_nb", F.expr(nbs_sql))
        .withColumn(cluster_col, F.expr(assign_sql))
        .drop("__ivf_c", "__ivf_nb")
    )


def build_ivf_index(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "_cluster",
) -> DataFrame:
    """Materialized IVF cell assignment: (id, cluster) — two narrow
    columns computed in one codegen scan, persisted once (partition the
    parquet by ``cluster`` at scale so probes prune partitions). Queries
    then read only probed cells instead of re-assigning the corpus."""
    return ivf_assign(df, centroids, vec_col, cluster_col).select(id_col, cluster_col)


def ivf_probes(
    centroids: list[list[float]], query_vec: list[float], n_probe: int = 4
) -> list[int]:
    """Driver-side: ids of the n_probe centroids nearest the query."""

    def cos(a: list[float], b: list[float]) -> float:
        dot_ = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot_ / (na * nb) if na and nb else 0.0

    return sorted(
        range(len(centroids)), key=lambda i: cos(query_vec, centroids[i]), reverse=True
    )[:n_probe]


def query_ivf_topk(
    df: DataFrame,
    index: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "_cluster",
) -> DataFrame:
    """IVF ANN against a materialized cell-assignment index: the cluster
    ∈ probes filter is a pushable IN-predicate on the index scan; the
    candidate ids broadcast-semi-join the corpus; exact re-rank of
    candidates only (≈ corpus × n_probe / n_centroids rows)."""
    probes = ivf_probes(centroids, query_vec, n_probe)
    cands = index.filter(F.col(cluster_col).isin(probes)).select(id_col)
    candidates = df.join(F.broadcast(cands), on=id_col, how="left_semi")
    return brute_force_topk(candidates, query_vec, k, id_col, vec_col)


def ivf_ann_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: probe the n_probe centroids nearest the
    query, exact cosine re-rank only within those cells. Recall is
    tunable via n_probe/n_centroids; candidates ≈ corpus × n_probe /
    n_centroids."""
    cents = ivf_centroids(df, n_centroids, id_col, vec_col)
    probes = ivf_probes(cents, query_vec, n_probe)
    assigned = ivf_assign(df, cents, vec_col)
    candidates = assigned.filter(F.col("_cluster").isin(probes)).drop("_cluster")
    return brute_force_topk(candidates, query_vec, k, id_col, vec_col)


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "q_vec",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Add symmetric-int8 codes + per-vector scale next to the float
    embeddings — one codegen projection, no shuffle. At 100 TB the
    (codes, scale) pair is 4× smaller than float32 on disk and in
    shuffle; scoring on codes keeps 4× more vectors per scan byte, with
    the float column kept for exact re-rank of the short candidate
    list only."""
    scale = int8_scale(F.col(vec_col))
    return df.withColumn(scale_col, scale).withColumn(
        q_col, quantize_int8(F.col(vec_col), F.col(scale_col))
    )


def _quantize_py(vec: list[float]) -> list[int]:
    """Driver-side int8 codes for one query vector — bit-identical to
    :func:`~..functions.vectors.quantize_int8` (HALF_UP = away from
    zero; Python's built-in round is banker's and must not be used)."""
    m = max((abs(float(x)) for x in vec), default=0.0)
    scale = m / 127.0 if m > 0 else 1.0
    return [
        int(math.copysign(math.floor(abs(float(x) / scale) + 0.5), x))
        for x in vec
    ]


def int8_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_col: str = "q_vec",
) -> DataFrame:
    """Exact-over-codes cosine top-k: score int8 codes against the int8
    query. The per-vector scales cancel inside cosine (cos(s·q, t·p) =
    cos(q, p)), so no dequantize pass is needed — the scan reads ONLY
    the narrow code column. ``df`` must carry ``q_col`` (from
    :func:`quantize_embeddings`, precomputed/persisted at scale)."""
    if q_col not in df.columns:
        df = quantize_embeddings(df, vec_col=vec_col, q_col=q_col)
    q = F.array(*[F.lit(int(c)).cast("tinyint") for c in _quantize_py(query_vec)])
    scored = df.select(
        F.col(id_col), cosine(F.col(q_col), q).alias("score")
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def int8_rerank_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    prefilter: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_col: str = "q_vec",
) -> DataFrame:
    """Two-stage retrieval: int8 scan selects ``prefilter`` candidates
    (narrow-column pass), float re-rank returns the exact-cosine top-k
    over those candidates only. The float column is read for ≤
    ``prefilter`` rows via a broadcast semi-join — at 100 TB the wide
    scan never happens."""
    cands = int8_topk(
        df, query_vec, k=prefilter, id_col=id_col, vec_col=vec_col, q_col=q_col
    ).select(id_col)
    candidates = df.join(F.broadcast(cands), on=id_col, how="left_semi")
    return brute_force_topk(candidates, query_vec, k, id_col, vec_col)


def cosine_scores_pandas(
    df: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched numpy scoring (bench path): per-batch matrix multiply.

    Same scores as the expression path (double accumulation in numpy
    differs in summation order — do not use where bit-exact oracle
    comparison matters; use for throughput)."""
    import numpy as np
    import pandas as pd

    q = None

    def score_batches(it):
        nonlocal q
        for pdf in it:
            if q is None:
                q = np.asarray(query_vec, dtype=np.float64)
                q = q / np.linalg.norm(q)
            m = np.stack(pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64)))
            norms = np.linalg.norm(m, axis=1)
            scores = (m @ q) / np.where(norms == 0, 1.0, norms)
            yield pd.DataFrame({id_col: pdf[id_col], "score": scores})

    out_schema = f"{id_col} long, score double"
    return df.select(id_col, vec_col).mapInPandas(score_batches, out_schema)


def refresh_lsh_index(
    index: DataFrame,
    changed: DataFrame | None = None,
    deleted_ids: DataFrame | None = None,
    bits: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental maintenance of the materialized LSH index under CDC:
    signatures are recomputed ONLY for the changed vectors (delta-sized
    work — the same expressions as :func:`build_lsh_index`, so the
    refreshed index is bit-identical to a full rebuild), stale rows for
    changed/deleted ids drop via an anti-join on the id (broadcast — a
    micro-batch delta is always small), and the fresh signatures union
    in. Cost ∝ |delta| + one pass over the index; never a corpus
    re-scan. Callers persist the result partitioned by ``table`` exactly
    as the built index (the keyed-merge analog for the ANN tier)."""
    if changed is not None:
        # the dim probe needs a row; delete-only micro-batches hand over
        # an EMPTY upsert frame — fold it into the no-change path
        first = changed.select(vec_col).head()
        if first is None:
            changed = None
        else:
            dim = len(first[0])
    return _refresh_index_rows(
        index, changed, deleted_ids, id_col,
        lambda c: build_lsh_index(
            c, bits, n_tables, seed, id_col, vec_col, dim=dim
        ),
    )


def _refresh_index_rows(index, changed, deleted_ids, id_col, build):
    """Shared delta-maintenance shape for materialized ANN indexes:
    drop rows for changed/deleted ids (broadcast anti-join — a
    micro-batch delta is always small), union freshly-built rows for
    the changed vectors. Fully lazy; linear in |index| + |delta|."""
    drop = None
    if changed is not None:
        drop = changed.select(id_col)
    if deleted_ids is not None:
        ids = deleted_ids.select(id_col)
        drop = ids if drop is None else drop.unionByName(ids)
    out = index
    if drop is not None:
        out = out.join(F.broadcast(drop.distinct()), on=id_col, how="left_anti")
    if changed is not None:
        out = out.unionByName(build(changed))
    return out


def refresh_ivf_index(
    index: DataFrame,
    centroids: list[list[float]],
    changed: DataFrame | None = None,
    deleted_ids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "_cluster",
) -> DataFrame:
    """Incremental IVF cell-assignment maintenance under CDC (the
    :func:`refresh_lsh_index` twin): changed vectors re-assign against
    the SAME stored centroids (delta-sized codegen work — cell geometry
    is frozen between retrains, so the refreshed index equals a full
    re-assignment bit-for-bit), stale/deleted rows drop via a broadcast
    anti-join. Centroid RETRAINING is a separate, deliberate operation:
    at scale you re-derive centroids from a deterministic sample only
    when drift warrants paying a full re-assignment. Unlike the LSH
    twin there is no data probe — cell assignment needs only the given
    centroids, so the refresh plan stays fully lazy (an empty delta
    composes through the anti-join and union as a no-op)."""
    return _refresh_index_rows(
        index, changed, deleted_ids, id_col,
        lambda c: build_ivf_index(c, centroids, id_col, vec_col, cluster_col),
    )


# -- product quantization (ADC) ------------------------------------------
# Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
# Search" (TPAMI 2011) — the memory-compressed ANN tier: split the
# vector into m subspaces, k-means each subspace to k codewords, store
# each vector as m small codes (here 64 float32 dims → m=8 codes ≈ 32×
# compression), and score queries against a per-query lookup table
# (asymmetric distance computation) instead of the raw vectors.


def _subspace_slice(vec_col, start: int, length: int):
    return F.slice(vec_col, start + 1, length)  # F.slice is 1-based


def _assign_l2_code(slice_col, codewords: list[list[float]]):
    """Nearest codeword by L2 over one subspace slice — array of
    (negdist², code) structs, array_max picks min distance (ties → the
    LARGEST code under struct ordering; deterministic either way, and
    both engines of this codebase share the rule)."""
    cells = F.array(*[
        F.struct(
            (-F.aggregate(
                F.zip_with(
                    slice_col,
                    F.array(*[F.lit(float(x)) for x in cw]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )).alias("s"),
            F.lit(i).alias("c"),
        )
        for i, cw in enumerate(codewords)
    ])
    return F.array_max(cells).getField("c")


def train_pq(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 3,
) -> list[list[list[float]]]:
    """Train per-subspace codebooks: the same deterministic
    hash-sample init + distributed Lloyd as the IVF centroids, but per
    subspace and under L2 (codebooks minimize RECONSTRUCTION error;
    cosine is the query-time metric, computed against the
    reconstruction). All m subspaces train in the SAME scan per
    iteration: assignment is m codegen argmin columns, the update one
    groupBy per subspace over (code, dim-slice partial sums) — shuffle
    carries m × k × (dim/m) = k × dim decimal partials, not corpus
    rows. Returns ``codebooks[j][code] = codeword`` (m × k × dim/m,
    driver-side — tiny, broadcast into every later expression)."""
    dim_row = df.select(F.size(vec_col).alias("d")).limit(1).collect()
    if not dim_row:
        return []
    dim = dim_row[0]["d"]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    seeds = (
        df.select(vec_col, F.xxhash64(F.col(id_col).cast("string")).alias("h"))
        .orderBy("h")
        .limit(k)
        .collect()
    )
    books = [
        [[float(x) for x in r[vec_col]][j * sub:(j + 1) * sub] for r in seeds]
        for j in range(m)
    ]
    for _ in range(iters):
        assigned = df.select(vec_col, *[
            _assign_l2_code(
                _subspace_slice(F.col(vec_col), j * sub, sub), books[j]
            ).alias(f"_c{j}")
            for j in range(m)
        ])
        new = [list(map(list, b)) for b in books]
        for j in range(m):
            mean_cols = [
                (
                    F.sum(
                        F.col(vec_col).getItem(j * sub + i)
                        .cast("decimal(38,18)")
                    ) / F.count(F.lit(1))
                ).cast("double").alias(f"_d{i}")
                for i in range(sub)
            ]
            stats = assigned.groupBy(f"_c{j}").agg(*mean_cols).collect()
            for r in stats:
                new[j][r[f"_c{j}"]] = [float(r[f"_d{i}"]) for i in range(sub)]
        if new == books:
            break
        books = new
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Vectors → (id, codes array<int>, recon_norm): one codegen scan,
    m argmin columns. ``recon_norm`` = ‖reconstruction‖ (subspaces are
    orthogonal, so the squared norm is the sum of the chosen codewords'
    squared norms — an m-lookup against a literal table, no vector
    math). The output is the narrow frame that persists as the PQ
    index: m small ints + one float per vector."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    code_cols = [
        _assign_l2_code(
            _subspace_slice(F.col(vec_col), j * sub, sub), codebooks[j]
        ).alias(f"_c{j}")
        for j in range(m)
    ]
    norm2 = [  # norm2[j][code] = ‖codeword‖²
        [sum(x * x for x in cw) for cw in codebooks[j]]
        for j in range(m)
    ]
    out = df.select(F.col(id_col), *code_cols)
    norm_expr = sum(
        F.element_at(
            F.array(*[F.lit(v) for v in norm2[j]]), F.col(f"_c{j}") + 1
        )
        for j in range(m)
    )
    return out.select(
        id_col,
        F.array(*[F.col(f"_c{j}") for j in range(m)]).alias("codes"),
        F.sqrt(norm_expr).alias("recon_norm"),
    )


def query_pq_topk(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k: per-query lookup table LUT[j][code] = ⟨q_j, codeword⟩
    computed driver-side (m × k floats), then score = Σ_j LUT[j][codes_j]
    / (‖q‖·recon_norm) — the EXACT cosine between the query and each
    vector's PQ reconstruction, evaluated as m array lookups + one
    divide per row, never touching the original vectors. TakeOrdered
    top-k; ties break on id."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    q = [float(x) for x in query_vec]
    qnorm = sum(x * x for x in q) ** 0.5
    lut = [
        [sum(q[j * sub + i] * cw[i] for i in range(sub))
         for cw in codebooks[j]]
        for j in range(m)
    ]
    ip = sum(
        F.element_at(
            F.array(*[F.lit(v) for v in lut[j]]),
            F.element_at(F.col("codes"), j + 1) + 1,
        )
        for j in range(m)
    )
    score = ip / (F.lit(qnorm) * F.col("recon_norm"))
    return (
        codes.select(id_col, score.alias("_score"))
        .orderBy(F.col("_score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def pq_rerank_topk(
    df: DataFrame,
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    pool: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage PQ search: ADC shortlists ``pool`` candidates from the
    compressed codes, then the exact cosine re-ranks ONLY those (a
    broadcast semi-join on the candidate ids against the full vectors —
    the corpus is touched for pool rows, not scanned). The standard
    recall-repair for PQ's quantization loss."""
    cand = query_pq_topk(codes, codebooks, query_vec, k=pool, id_col=id_col)
    qarr = F.array(*[F.lit(float(x)) for x in query_vec])
    from ..functions.vectors import cosine

    return (
        df.join(F.broadcast(cand.select(id_col)), on=id_col, how="left_semi")
        .select(id_col, cosine(F.col(vec_col), qarr).alias("_score"))
        .orderBy(F.col("_score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def build_ivfpq(
    df: DataFrame,
    n_centroids: int = 16,
    m: int = 16,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 2,
):
    """IVF-PQ (the FAISS IVFPQ layout, Jégou et al. 2011 §V): coarse
    IVF centroids partition the corpus; each vector's RESIDUAL from its
    centroid is product-quantized. Residuals concentrate near zero, so
    the same codebook budget quantizes them far better than raw
    vectors — the standard billion-scale trade.

    Returns ``(index, centroids, codebooks)`` where ``index`` is the
    narrow frame (id, _cluster, codes, recon_norm) and ``recon_norm`` =
    ‖centroid + residual-reconstruction‖, computed at build time from
    the subspace decomposition (‖c + r̂‖² = Σ_j ‖c_j + cw_{j,code_j}‖²,
    an (n_centroids × m × k)-entry literal lookup — no vector math at
    query time).

    Scale shape: centroid training + residual PQ training are the
    existing scan-shaped Lloyd loops; encoding is ONE pass (cluster
    argmax + m code argmins + the norm lookups, all codegen); the
    persisted index is ~(4 + m) bytes of codes per vector."""
    cents = ivf_centroids(df, n_centroids, id_col, vec_col, refine_iters=iters)
    cent_arr = F.array(*[
        F.array(*[F.lit(float(x)) for x in c]) for c in cents
    ])
    assigned = ivf_assign(df, cents, vec_col).withColumn(
        "_res",
        F.zip_with(
            F.col(vec_col),
            F.element_at(cent_arr, F.col("_cluster") + 1),
            lambda a, b: a - b,
        ),
    )
    books = train_pq(
        assigned, m=m, k=k, id_col=id_col, vec_col="_res", iters=iters
    )
    sub = len(books[0][0])
    # norm²[cluster][j][code] = ‖centroid_slice + codeword‖²
    nt = [
        [
            [
                sum(
                    (c[j * sub + i] + cw[i]) ** 2 for i in range(sub)
                )
                for cw in books[j]
            ]
            for j in range(m)
        ]
        for c in cents
    ]
    code_cols = [
        _assign_l2_code(
            _subspace_slice(F.col("_res"), j * sub, sub), books[j]
        ).alias(f"_c{j}")
        for j in range(m)
    ]
    enc = assigned.select(F.col(id_col), F.col("_cluster"), *code_cols)
    norm2 = sum(
        F.element_at(
            F.element_at(
                F.array(*[
                    F.array(*[F.lit(v) for v in nt[cl][j]])
                    for cl in range(len(cents))
                ]),
                F.col("_cluster") + 1,
            ),
            F.col(f"_c{j}") + 1,
        )
        for j in range(m)
    )
    index = enc.select(
        id_col,
        "_cluster",
        F.array(*[F.col(f"_c{j}") for j in range(m)]).alias("codes"),
        F.sqrt(norm2).alias("recon_norm"),
    )
    return index, cents, books


def query_ivfpq_topk(
    index: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ ADC search: probe the nprobe max-cosine cells (driver
    arithmetic over the tiny centroid list → a pushable IN-predicate on
    the cluster column — partition pruning on a cluster-partitioned
    index), then score survivors as ⟨q, c + r̂⟩ = cellIP[cluster] +
    Σ_j LUT[j][code_j], normalized by ‖q‖·recon_norm — the exact cosine
    to each vector's IVF-PQ reconstruction, via m+1 array lookups per
    row."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    q = [float(x) for x in query_vec]
    qnorm = sum(x * x for x in q) ** 0.5

    def cos_c(c):
        ip = sum(a * b for a, b in zip(q, c))
        cn = sum(x * x for x in c) ** 0.5
        return ip / (qnorm * cn) if cn else -2.0

    order = sorted(
        range(len(centroids)), key=lambda i: (-cos_c(centroids[i]), i)
    )
    probes = order[:nprobe]
    cell_ip = [sum(a * b for a, b in zip(q, c)) for c in centroids]
    lut = [
        [sum(q[j * sub + i] * cw[i] for i in range(sub))
         for cw in codebooks[j]]
        for j in range(m)
    ]
    ip = F.element_at(
        F.array(*[F.lit(v) for v in cell_ip]), F.col("_cluster") + 1
    ) + sum(
        F.element_at(
            F.array(*[F.lit(v) for v in lut[j]]),
            F.element_at(F.col("codes"), j + 1) + 1,
        )
        for j in range(m)
    )
    score = ip / (F.lit(qnorm) * F.col("recon_norm"))
    return (
        index.filter(F.col("_cluster").isin(probes))
        .select(id_col, score.alias("_score"))
        .orderBy(F.col("_score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivfpq_rerank_topk(
    df: DataFrame,
    index: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    pool: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ with exact re-rank (the production FAISS pattern): cell
    pruning + ADC shortlist a ``pool`` from the compressed index, the
    exact cosine re-ranks only those rows (broadcast semi-join against
    the raw vectors). ADC alone carries the quantization loss (recon
    cosine ≈ 0.85 at 16× on this fixture); the pool stage is what
    restores recall — same division of labor as the int8 and flat-PQ
    rerank paths."""
    cand = query_ivfpq_topk(
        index, centroids, codebooks, query_vec,
        k=pool, nprobe=nprobe, id_col=id_col,
    )
    qarr = F.array(*[F.lit(float(x)) for x in query_vec])
    from ..functions.vectors import cosine

    return (
        df.join(F.broadcast(cand.select(id_col)), on=id_col, how="left_semi")
        .select(id_col, cosine(F.col(vec_col), qarr).alias("_score"))
        .orderBy(F.col("_score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def binary_signature(
    vec_col, dim: int, word_bits: int = 32
) -> list[Column]:
    """Sign-bit quantization: bit ``i`` of word ``w`` is set iff
    component ``w·word_bits + i`` is positive — a ``dim``-float vector
    collapses to ``ceil(dim/word_bits)`` longs (32 bits per word keeps
    every partial sum far from the BIGINT sign bit, so an identical-
    arithmetic SQL twin is safe; 64-bit words would need the
    engine-specific ``1<<63`` wrap). The 1-bit code underlying the
    public kNN binary-vector space: 64-256× smaller than float32,
    Hamming distance in two popcounts."""
    col = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    words = []
    for w in range((dim + word_bits - 1) // word_bits):
        acc = F.lit(0).cast("long")
        for i in range(min(word_bits, dim - w * word_bits)):
            acc = acc + F.when(
                F.element_at(col, w * word_bits + i + 1) > 0,
                F.lit(1 << i).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        words.append(acc)
    return words


def _binary_words_py(vec: list[float], word_bits: int = 32) -> list[int]:
    """Driver-side twin of :func:`binary_signature` for the query."""
    words = []
    for w in range((len(vec) + word_bits - 1) // word_bits):
        acc = 0
        for i in range(min(word_bits, len(vec) - w * word_bits)):
            if vec[w * word_bits + i] > 0:
                acc |= 1 << i
        words.append(acc)
    return words


def binary_hamming_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    candidates: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary-quantized ANN: Hamming distance between sign-bit codes
    shortlists ``candidates`` (default 4k) nearest codes, then exact
    cosine re-ranks the shortlist — the public binary-space kNN shape.

    Scale shape: the signature is a per-row codegen fold (never
    materialized unless the caller persists it), the shortlist is ONE
    TakeOrdered over two xor+popcount longs — at 100 TB the scan reads
    float vectors but shuffles only ``candidates`` rows, and a
    persisted signature table turns the scan itself into 2 longs/row
    (64 dims: 8 bytes vs 256)."""
    dim = len(query_vec)
    cand_n = int(candidates) if candidates is not None else max(4 * k, k)
    sig = binary_signature(vec_col, dim)
    qw = _binary_words_py([float(x) for x in query_vec])
    dist = None
    for s, q in zip(sig, qw):
        term = F.bit_count(s.bitwiseXOR(F.lit(q).cast("long")))
        dist = term if dist is None else dist + term
    shortlist = (
        df.select(F.col(id_col), F.col(vec_col), dist.alias("hamming"))
        .orderBy(F.col("hamming").asc(), F.col(id_col).asc())
        .limit(cand_n)
    )
    qarr = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        shortlist.select(
            F.col(id_col),
            F.col("hamming"),
            cosine(F.col(vec_col), qarr).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )
