"""Deduplication operators for large-scale training-data pipelines
(driver charter; SURVEY §2.10 E1/E2):

- exact (hash-groupBy), normalized-exact
- MinHash + LSH banding (shingle → minhash → band → bucket self-join →
  exact-Jaccard verify)
- SimHash (64-bit, pigeonhole chunk blocking, hamming verify)
- n-gram Jaccard with deterministic blocking (oracle-checkable)

Scale design: every candidate-generation step is a groupBy/join on a
bounded-size key (hash, band bucket, simhash chunk) — never an
unblocked O(n²) self-join. Verification joins only touch candidate
pairs. The heaviest shuffle is |docs| × bands rows of (bucket, id) —
linear in corpus size. Skewed buckets (boilerplate docs) are capped by
``max_bucket`` to bound the quadratic within-bucket blowup; AQE
skew-join handles residual imbalance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.text import (
    hamming64,
    normalize_text,
    shingles_from_tokens,
    tokens,
)
from ..session import min_partitions, persist_slot


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One representative (min id) per exact text; group key is md5(text)
    so the shuffle carries 16-byte keys, not full documents."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_dups"))
    )


def normalized_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup after analyzer normalization (case/punct/whitespace)."""
    return (
        df.groupBy(F.md5(normalize_text(F.col(text_col))).alias("norm_hash"))
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_dups"))
    )


def _shingle_frame(
    df: DataFrame, text_col: str, id_col: str, shingle_k: int
) -> DataFrame:
    # two-step projection: tokenize once, THEN shingle (the shingle expr
    # references the token array 4×; inlining the regex split per
    # reference measured ~9× slower). min_partitions parallelizes the
    # interpreted array work when the scan was a single small file.
    tk = min_partitions(df).select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
    return tk.select(
        F.col(id_col),
        F.array_distinct(shingles_from_tokens(F.col("toks"), shingle_k)).alias(
            "shingle_set"
        ),
    )


def _signature_cols(
    sh: DataFrame, id_col: str, num_hashes: int
) -> DataFrame:
    """(id, h0..h{n-1}) minhash signature, codegen-friendly shape.

    Each shingle STRING is hashed exactly once (xxhash64); the hash
    family is derived from that 8-byte value (h_i = xxhash64(x, i),
    constant-width input) — 64× less string hashing than hashing the
    shingle per function. Explode → project → partial min-agg keeps the
    whole pipeline in whole-stage codegen (array lambdas would fall
    back to interpreted eval), and the shuffle carries one row per doc
    with n_hashes longs."""
    ex = sh.select(F.col(id_col), F.explode("shingle_set").alias("s")).select(
        id_col, F.xxhash64("s").alias("x")
    )
    # hash family computed in the PROJECTION (whole-stage codegen), agg
    # sees plain columns — measured ~40% faster than min(xxhash64(...))
    # inside the aggregate update loop
    proj = ex.select(
        id_col,
        *[F.xxhash64(F.col("x"), F.lit(i)).alias(f"x{i}") for i in range(num_hashes)],
    )
    return proj.groupBy(id_col).agg(
        *[F.min(f"x{i}").alias(f"h{i}") for i in range(num_hashes)]
    )


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 3,
) -> DataFrame:
    """id + minhash signature (array<long>) + shingle set per doc."""
    sh = _shingle_frame(df, text_col, id_col, shingle_k)
    sig = _signature_cols(sh, id_col, num_hashes)
    return sig.join(sh, id_col).select(
        id_col,
        F.array(*[f"h{i}" for i in range(num_hashes)]).alias("signature"),
        "shingle_set",
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.7,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard ≥ threshold).

    banding: r = num_hashes/bands rows per band; two docs collide in a
    band iff their signature slice matches exactly → candidate. Exact
    Jaccard on the shingle sets verifies (no false positives; recall
    governed by (1-t^r)^b).

    Physical shape (100 TB design): the banded frame is 3 narrow longs
    × bands per doc — linear in corpus size — and is persisted so the
    bucket-size cap and the self-join probe the SAME materialization
    instead of recomputing the shingle→hash pipeline per branch. Only
    candidate pairs (tiny) ever see the shingle arrays again, via two
    keyed joins for the exact-Jaccard verify."""
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    r = num_hashes // bands
    # persisted: consumed three times (signature build + both verify
    # joins); shingling is interpreted array work, worth paying once
    sh = persist_slot(
        "minhash_shingles", _shingle_frame(df, text_col, id_col, shingle_k)
    )
    sig = _signature_cols(sh, id_col, num_hashes)

    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.col(f"h{b * r + j}") for j in range(r)]).alias("bucket"),
        )
        for b in range(bands)
    ]
    banded = persist_slot(
        "minhash_banded",
        sig.select(id_col, F.explode(F.array(*band_structs)).alias("bk"))
        .select(id_col, "bk.band", "bk.bucket"),
    )

    # cap pathological buckets (boilerplate floods): quadratic blowup guard
    counts = banded.groupBy("band", "bucket").agg(F.count("*").alias("n"))
    capped = banded.join(
        counts.filter(F.col("n") <= max_bucket).select("band", "bucket"),
        ["band", "bucket"],
    )

    left = capped.select("band", "bucket", F.col(id_col).alias("id_a"))
    right = capped.select("band", "bucket", F.col(id_col).alias("id_b"))
    cand = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    cand = cand.join(
        sh.select(F.col(id_col).alias("id_a"), F.col("shingle_set").alias("sh_a")),
        "id_a",
    ).join(
        sh.select(F.col(id_col).alias("id_b"), F.col("shingle_set").alias("sh_b")),
        "id_b",
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    ).cast("double")
    return (
        cand.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def dedup_by_pairs(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Drop the higher-id member of every near-dup pair (single-pass
    approximation of connected components — exact CC needs iteration,
    documented trade-off for pipeline use)."""
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def simhash_frame(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash) via explode → hash-once → 64 partial-agg bit sums —
    the codegen shape (the per-row ``simhash64`` expression folds arrays
    in interpreted eval; this computes the identical signature: per-token
    vote_b = ±1, sum > 0 ⇒ bit set, duplicates counted)."""
    ex = min_partitions(df).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("t")
    ).select(id_col, F.xxhash64("t").alias("x"))
    aggs = [
        F.sum(F.shiftright(F.col("x"), b).bitwiseAND(F.lit(1)).cast("long")).alias(
            f"s{b}"
        )
        for b in range(64)
    ] + [F.count("*").alias("n")]
    v = ex.groupBy(id_col).agg(*aggs)
    packed = F.lit(0).cast("long")
    for b in range(64):
        bitval = F.lit(-(1 << 63) if b == 63 else (1 << b)).cast("long")
        packed = packed.bitwiseOR(
            F.when(F.col(f"s{b}") * 2 - F.col("n") > 0, bitval).otherwise(
                F.lit(0).cast("long")
            )
        )
    sig = v.select(F.col(id_col), packed.alias("simhash"))
    # docs with zero tokens vanish in the explode; rejoin as signature 0
    # (simhash64's fold over an empty array yields all-zero votes)
    return df.select(id_col).join(sig, id_col, "left").select(
        id_col, F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash")
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash: block on each of the four 16-bit chunks
    (pigeonhole: hamming ≤ 3 ⇒ at least one chunk identical), verify
    hamming over the full 64 bits."""
    sh = persist_slot("simhash_frame", simhash_frame(df, text_col, id_col))
    chunked = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("simhash"), c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ck"),
    ).select(id_col, "simhash", "ck.chunk", "ck.key")
    left = chunked.select("chunk", "key", F.col(id_col).alias("id_a"), F.col("simhash").alias("h_a"))
    right = chunked.select("chunk", "key", F.col(id_col).alias("id_b"), F.col("simhash").alias("h_b"))
    return (
        left.join(right, ["chunk", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", hamming64(F.col("h_a"), F.col("h_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def blocked_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    block_cols: tuple[str, ...] = ("lang",),
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs within deterministic blocks.

    Unlike LSH this is deterministic and SQL-expressible (the DuckDB
    oracle runs the same blocked all-pairs) — the oracle-checkable
    member of the dedup family. Blocks must be chosen so |block| stays
    modest (here: language)."""
    tk = min_partitions(df).select(
        *[F.col(c) for c in block_cols],
        F.col(id_col),
        tokens(F.col(text_col)).alias("toks"),
    )
    sh = tk.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col),
        F.array_distinct(shingles_from_tokens(F.col("toks"), shingle_k)).alias("sh"),
    )
    left = sh.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("id_a"),
        F.col("sh").alias("sh_a"),
    )
    right = sh.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("id_b"),
        F.col("sh").alias("sh_b"),
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    ).cast("double")
    return (
        left.join(right, list(block_cols))
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    max_bucket: int = 2000,
    index: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed (the scale
    path for embedding dedup — driver charter E2 'embedding-cosine
    near-dup').

    Candidates are id pairs sharing a random-hyperplane bucket in any
    table (reuses :mod:`operators.similarity`'s index expressions; pass
    a persisted ``build_lsh_index`` frame via ``index`` to skip the
    signature scan). Quadratic work happens only within buckets, capped
    at ``max_bucket`` rows (boilerplate/skew guard, same convention as
    MinHash banding); the exact cosine verify touches candidate pairs
    only — never an unblocked O(n²) self-join.
    """
    from .similarity import build_lsh_index
    from ..functions.vectors import cosine

    idx = index if index is not None else build_lsh_index(
        df, bits=bits, n_tables=n_tables, seed=seed,
        id_col=id_col, vec_col=vec_col,
    )
    sized = idx.withColumn(
        "__bn", F.count("*").over(Window.partitionBy("table", "bucket"))
    )
    bounded = sized.filter(F.col("__bn") <= max_bucket).drop("__bn")
    a, b = bounded.alias("a"), bounded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a", "id_b",
            cosine(F.col("__va"), F.col("__vb")).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def repeated_ngram_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_docs: int = 2,
    key: str = "hash",
) -> DataFrame:
    """Cross-document repeated n-gram spans — the distributed
    approximation of exact-substring training-data dedup (suffix-array
    style: a token window appearing in ≥ ``min_docs`` documents marks
    memorizable boilerplate). Per document: total token windows, windows
    shared with other documents, and the repeated fraction.

    Plan (linear, three bounded shuffles — the shape that survives
    100 TB):

    1. tokenize once, derive all ``size − n + 1`` sliding windows in a
       codegen projection, explode to (doc, window-key) rows;
    2. per-key distinct-doc counts (map-side partial agg; the shuffle
       carries the key + doc id only — with ``key="hash"`` an 8-byte
       xxhash64, never document text);
    3. equi-join the per-key counts back and reduce per document.

    ``key="text"`` keeps the raw n-gram string as the group key — exact
    (no collision risk) and what the DuckDB oracle mirrors;
    ``key="hash"`` is the at-scale default (8-byte shuffle keys; an
    xxhash64 collision merging two distinct grams is ~2⁻⁶⁴ per pair and
    only perturbs counts, never correctness of the pipeline gate).
    """
    toks = tokens(F.col(text_col))
    tk = min_partitions(df).select(
        F.col(id_col), toks.alias("__toks")
    ).filter(F.size("__toks") >= n)
    gram = F.array_join(
        F.slice(F.col("__toks"), F.col("__i"), F.lit(n)), " "
    )
    keyed = gram if key == "text" else F.xxhash64(gram)
    w = tk.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.lit(1), F.size("__toks") - (n - 1))
        ).alias("__i"),
        F.col("__toks"),
    ).select(F.col(id_col), keyed.alias("__g"))
    counts = w.groupBy("__g").agg(
        F.count_distinct(F.col(id_col)).alias("__nd")
    )
    flagged = w.join(counts, "__g").select(
        F.col(id_col), (F.col("__nd") >= min_docs).alias("__rep")
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(F.col("__rep").cast("long")).alias("n_repeated"),
        (
            F.sum(F.col("__rep").cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("repeated_frac"),
    )


def keep_best_per_cluster(
    df: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """The APPLY step of near-dup curation: label duplicate clusters
    (connected components over the verified pair list) and keep ONE
    representative per cluster — the highest-``quality_col`` member,
    ties to the smallest id. Documents in no cluster survive untouched.

    Shape: components iterate on the (tiny) edge list, never the
    corpus; the corpus is touched by one LEFT join against the node
    labels (broadcast-sized for realistic dup rates) and one
    row_number window partitioned by cluster — both keyed, both
    skew-bounded by the largest dup cluster.
    """
    from pyspark.sql import Window

    from .graph import connected_components

    comps = connected_components(pairs.select("id_a", "id_b"))
    labeled = df.join(
        comps.withColumnRenamed("node", "__node"),
        df[id_col] == F.col("__node"),
        "left",
    )
    cluster = F.coalesce(F.col("component_id"), F.col(id_col))
    w = Window.partitionBy(cluster).orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    return (
        labeled.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__node", "component_id")
    )


def split_sentences(col: Column) -> Column:
    """Sentence segmentation as one codegen expression: mark each
    terminator+whitespace boundary with a newline, split on it, drop
    empties. Deliberately lookbehind-free so an RE2-based oracle
    (DuckDB) can reproduce it byte-for-byte."""
    marked = F.regexp_replace(col, r"([.!?])\s+", "$1\n")
    return F.filter(
        F.transform(F.split(marked, "\n"), lambda s: F.trim(s)),
        lambda s: s != "",
    )


def sentence_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 3,
) -> DataFrame:
    """Corpus-level sentence deduplication (the C4/RefinedWeb move:
    boilerplate sentences repeat across crawled pages and memorize
    badly): every sentence of ``min_tokens``+ whitespace tokens keeps
    ONLY its globally-first occurrence — ordered by (doc id, position),
    so the rule is deterministic and resumable — and is dropped
    everywhere else, including repeats inside the same document.
    Shorter sentences always stay (greetings/headers below the length
    bar carry no dedup signal). Documents reassemble in original
    sentence order; a document whose every sentence was dropped keeps
    an empty string.

    Spark shape: ONE posexplode of the sentence array (generator,
    streamed), a keyed min-aggregate on the sentence text (shuffle =
    |sentences|, map-side combined), an inner re-join on the keeper
    (sentence, id, pos) triple for eligible rows, and one groupBy(id)
    to reassemble — no window over the whole corpus, no driver
    collect. At 100 TB the sentence shuffle dominates and is linear in
    corpus size."""
    sents = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(split_sentences(F.col(text_col))).alias(
            "__pos", "__s"
        ),
    )
    eligible = F.size(F.split(F.col("__s"), r"\s+")) >= min_tokens
    keepers = (
        sents.filter(eligible)
        .groupBy("__s")
        .agg(F.min(F.struct("__id", "__pos")).alias("__keep"))
        .select(
            "__s",
            F.col("__keep.__id").alias("__kid"),
            F.col("__keep.__pos").alias("__kpos"),
        )
    )
    kept = sents.filter(~eligible).unionByName(
        sents.filter(eligible)
        .join(keepers, "__s")
        .filter(
            (F.col("__id") == F.col("__kid"))
            & (F.col("__pos") == F.col("__kpos"))
        )
        .select("__id", "__pos", "__s")
    )
    rebuilt = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__s"))),
                lambda x: x["__s"],
            ),
            " ",
        ).alias("__text"),
        F.count(F.lit(1)).alias("__n_kept"),
    )
    out = (
        df.join(rebuilt, df[id_col] == rebuilt["__id"], "left")
        .withColumn(text_col, F.coalesce(F.col("__text"), F.lit("")))
        .withColumn(
            "n_sentences_kept", F.coalesce(F.col("__n_kept"), F.lit(0))
        )
        .drop("__id", "__text", "__n_kept")
    )
    return out
