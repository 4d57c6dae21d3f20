"""Text-analysis column expressions for the documents pipeline
(SURVEY §2.10 E4; driver charter: language-ID, quality scoring, token
counting, fingerprinting). All JVM-side expressions — no Python in the
hot path — so they pipeline into scans at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..session import persist_slot

TOKEN_SPLIT_RE = r"[^\p{L}\p{Nd}]+"

# Minimal per-language stopword sets for the n-gram/stopword language-ID
# heuristic. Deterministic and tiny by design — this is a heuristic
# operator, not a model.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "a", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "ist", "den", "im"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "que"],
    "zh": ["de", "le", "shi", "zai", "he", "you", "wo", "ta", "men", "bu"],
}


def tokens(col: Column) -> Column:
    """Standard-analyzer approximation: lowercase, split on non-alphanum."""
    return F.filter(F.split(F.lower(col), TOKEN_SPLIT_RE), lambda t: t != "")


def token_count_from(toks: Column) -> Column:
    return F.size(toks).cast("bigint")


def token_count(col: Column) -> Column:
    return token_count_from(tokens(col))


def normalize_text(col: Column) -> Column:
    """Canonical form for normalized dedup: analyzed tokens re-joined."""
    return F.array_join(tokens(col), " ")


def shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """Word k-shingles from an already-materialized token array.

    Callers should project the token array in a SEPARATE select first:
    this expression references ``toks`` four times, and if ``toks`` is
    the raw ``tokens(text)`` expression Catalyst's CollapseProject
    re-inlines the regex split per reference (~9× slower measured).
    """
    n = F.size(toks)
    return F.when(n < k, F.array(F.array_join(toks, " "))).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        )
    )


def shingles(col: Column, k: int = 3) -> Column:
    """Word k-shingles over the analyzed tokens (for MinHash / Jaccard).
    Prefer the two-step ``tokens`` → ``shingles_from_tokens`` projection
    in per-row-heavy pipelines (see shingles_from_tokens)."""
    return shingles_from_tokens(tokens(col), k)


def char_ngrams(col: Column, n: int = 3) -> Column:
    """Character n-grams of the normalized text (language-ID features)."""
    s = normalize_text(col)
    length = F.length(s)
    return F.when(length < n, F.array(s)).otherwise(
        F.transform(
            F.sequence(F.lit(1), length - n + 1), lambda i: F.substring(s, i, n)
        )
    )


def fingerprint(col: Column, k: int = 8) -> Column:
    """Deterministic document fingerprint: md5 of the first-k analyzed
    tokens — the classic 'prefix fingerprint' for clustering near-identical
    heads; portable across engines (md5 is everywhere)."""
    return F.md5(F.array_join(F.slice(tokens(col), 1, k), " "))


def stopword_hits_from(toks: Column, lang: str) -> Column:
    """Number of *distinct* stopwords of `lang` present (set semantics —
    matches DuckDB list_intersect for oracle checks)."""
    return F.size(
        F.array_intersect(toks, F.array(*[F.lit(w) for w in STOPWORDS[lang]]))
    )


def stopword_hits(col: Column, lang: str) -> Column:
    return stopword_hits_from(tokens(col), lang)


def langid_from(
    toks: Column, langs: tuple[str, ...] = ("en", "es", "de", "fr", "zh")
) -> Column:
    """Stopword-vote language ID with deterministic first-wins tie-break.
    Project the token array in a separate select first (see
    shingles_from_tokens) — this references it once per language."""
    hits = {lang: stopword_hits_from(toks, lang) for lang in langs}
    best = F.greatest(*hits.values()) if len(hits) > 1 else list(hits.values())[0]
    expr = F.lit("und")
    for lang in reversed(langs):  # earlier langs win ties → build in reverse
        expr = F.when(hits[lang] == best, F.lit(lang)).otherwise(expr)
    return F.when(best == 0, F.lit("und")).otherwise(expr)


def langid(col: Column, langs: tuple[str, ...] = ("en", "es", "de", "fr", "zh")) -> Column:
    return langid_from(tokens(col), langs)


def punct_ratio(col: Column) -> Column:
    stripped = F.regexp_replace(col, r"[^.,!?;:]", "")
    return F.length(stripped).cast("double") / F.length(col).cast("double")


def mean_token_len(col: Column) -> Column:
    toks = tokens(col)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    # token-less docs: NULL mean, not an ANSI divide-by-zero
    return F.when(
        F.size(toks) > 0, total.cast("double") / F.size(toks).cast("double")
    )


def stopword_ratio_from(toks: Column, lang: str = "en") -> Column:
    """Share of token *occurrences* that are stopwords (quality signal).
    Token-less docs score 0.0 (ANSI mode would otherwise raise on the
    divide — punctuation-only docs DO occur in real corpora)."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(
        F.size(toks) > 0, hits.cast("double") / F.size(toks).cast("double")
    ).otherwise(F.lit(0.0))


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    return stopword_ratio_from(tokens(col), lang)


def quality_score_from(text_col: Column, toks: Column) -> Column:
    """Composite [0,1] quality heuristic: penalize extreme punctuation,
    very short docs, and all-stopword docs. Deterministic expression —
    portable to the SQL oracle. ``toks`` should be a materialized token
    array column (referenced twice)."""
    n = token_count_from(toks)
    len_term = F.least(n.cast("double") / F.lit(20.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(text_col) * 5.0, F.lit(1.0))
    sw = stopword_ratio_from(toks)
    sw_term = F.lit(1.0) - F.abs(sw - F.lit(0.4))
    return (len_term + punct_term + sw_term) / F.lit(3.0)


def quality_score(col: Column) -> Column:
    return quality_score_from(col, tokens(col))


def rolling_hash(col: Column, base: int = 31, mod: int = (1 << 31) - 1) -> Column:
    """Karp–Rabin polynomial rolling hash over the code points of the
    normalized text: h = (h·base + codepoint) mod m, folded left to
    right. Pure integer arithmetic (every step < 2^36, ANSI-safe) and
    engine-portable — DuckDB computes the identical value, unlike
    xxhash64/md5-based fingerprints."""
    s = normalize_text(col)
    cps = F.transform(
        F.sequence(F.lit(1), F.length(s)),
        lambda i: F.ascii(F.substring(s, i, F.lit(1))).cast("long"),
    )
    return F.aggregate(
        cps,
        F.lit(0).cast("long"),
        lambda acc, cp: F.pmod(acc * base + cp, F.lit(mod).cast("long")),
    )


# BPE-ish pre-tokenizer: contraction suffixes, letter runs, digit runs,
# punctuation runs, each optionally space-prefixed (GPT-2-style pattern
# minus lookaheads, so the same regex runs on Java regex and RE2).
BPE_ISH_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def bpe_ish_tokens(col: Column) -> Column:
    """Pre-tokenization the way byte-pair-encoding tokenizers split text
    before merges: words, numbers, punctuation runs, contractions —
    the unit LLM data pipelines budget by ("token counting" charter op).
    """
    return F.regexp_extract_all(col, F.lit(BPE_ISH_RE), 0)


def bpe_ish_token_count(col: Column) -> Column:
    return F.size(bpe_ish_tokens(col)).cast("bigint")


def simhash64(col: Column) -> Column:
    """64-bit SimHash over analyzed tokens, pure expressions: per-token
    xxhash64, per-bit ±1 votes, sign → bit. Near-duplicate docs differ in
    few bits (hamming via bit_count(a ^ b)).

    Bit positions are unrolled with Python ints (shift amounts are
    static; pyspark's shiftright takes int numBits, not a Column): one
    small fold per bit rather than one fold carrying a 64-wide array —
    same op count, linear expression tree, and ANSI-safe arithmetic
    (votes are bounded by token count; the sign bit is the long min
    literal, never a shifted 1)."""
    toks = tokens(col)

    def bit_vote(b: int) -> Column:
        return F.aggregate(
            toks,
            F.lit(0).cast("long"),
            lambda acc, t: acc
            + F.when(
                F.shiftright(F.xxhash64(t), b).bitwiseAND(F.lit(1)) == 1,
                F.lit(1).cast("long"),
            ).otherwise(F.lit(-1).cast("long")),
        )

    packed = F.lit(0).cast("long")
    for b in range(64):
        vote = bit_vote(b)
        bitval = F.lit(-(1 << 63) if b == 63 else (1 << b)).cast("long")
        packed = packed.bitwiseOR(
            F.when(vote > 0, bitval).otherwise(F.lit(0).cast("long"))
        )
    return packed


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def bigram_logprob_scores(
    docs,
    model_docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
):
    """Stupid-backoff bigram language-model quality scores — the
    KenLM-style fluency signal a training-data pipeline uses to rank or
    filter documents (high average log-probability ≈ natural text; the
    lowest-scoring tail is boilerplate/garbage).

    ``model_docs`` supplies the LM counts (a held-out/train split —
    scoring the corpus against itself makes every bigram "seen");
    ``docs`` is scored. Per document: mean over its bigrams of
    log₂ P(w|prev), where P = C(prev,w)/C(prev) when the model saw the
    bigram, else ``alpha`` · C(w)/T (unknown words carry a 0.5
    pseudo-count).

    Scale shape (100 TB): the model is three keyed aggregates (unigram,
    bigram, context counts) — shuffle keys are one or two short tokens;
    scoring is keyed joins of the document bigram stream against those
    count tables, never a broadcast of an unbounded vocabulary; the
    per-document mean is one groupBy on the document id. The bigram
    stream is produced by transform+explode over each token array (a
    generator — no join with itself, no window).
    """
    tk = lambda frame: frame.select(  # noqa: E731
        F.col(id_col), tokens(F.col(text_col)).alias("t")
    )
    bigram_pairs = (
        "explode(transform(sequence(1, size(t) - 1), "
        "i -> struct(t[i-1] AS prev, t[i] AS w)))"
    )
    bg = (
        tk(docs)
        .filter(F.size("t") >= 2)
        .select(F.col(id_col), F.expr(bigram_pairs).alias("b"))
        .select(id_col, "b.prev", "b.w")
    )
    mbg = (
        tk(model_docs)
        .filter(F.size("t") >= 2)
        .select(F.expr(bigram_pairs).alias("b"))
        .select("b.prev", "b.w")
        .groupBy("prev", "w")
        .agg(F.count("*").alias("cpw"))
    )
    ctx = mbg.groupBy("prev").agg(F.sum("cpw").alias("cp"))
    mtok = tk(model_docs).select(F.explode("t").alias("w"))
    # the unigram table is the model's bounded vocabulary (~10^7 rows
    # at 100 TB) — persist it so the total-token subquery below and the
    # scoring join share ONE tokenize+aggregate pass of the model
    # corpus instead of two (broadcast subqueries do not participate
    # in exchange reuse, measured: ReusedExchange never fires here).
    # Lifetime: the returned query is lazy, so the persist cannot be
    # released here; the "lm_unigram" persist slot tracks it and frees
    # the session's PREVIOUS call's table, bounding a long-lived session
    # at one pinned vocabulary table (a stale unpersist is always safe —
    # Spark recomputes if that query ever re-runs).
    uni = persist_slot(
        "lm_unigram", mtok.groupBy("w").agg(F.count("*").alias("cw"))
    )
    # T = Σ cw exactly (bigint sum over the unigram table) — same
    # value the former count(*) over the token stream produced
    tot = uni.agg(F.sum("cw").cast("double").alias("T"))

    lp = F.when(
        F.col("cpw").isNotNull(),
        F.log2(F.col("cpw").cast("double") / F.col("cp").cast("double")),
    ).otherwise(
        F.log2(
            F.lit(alpha)
            * F.coalesce(F.col("cw").cast("double"), F.lit(0.5))
            / F.col("T")
        )
    )
    return (
        bg.join(mbg, ["prev", "w"], "left")
        .join(ctx, "prev", "left")
        .join(uni, "w", "left")
        .crossJoin(F.broadcast(tot))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.sum(lp) / F.count("*"), 6).alias("avg_logp"),
        )
    )


def chunk_documents(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 128,
    overlap: int = 0,
):
    """Split documents into fixed-size token windows with optional
    overlap — the standard pre-training / RAG chunking step.

    Pure Column algebra end to end: tokenize once, derive the window
    start positions with ``sequence`` (stride = chunk − overlap), slice
    each window and explode. One narrow projection + one generate — no
    shuffle, no UDF; at 100 TB this is a map-only pass whose output
    rows are exactly the training samples. The trailing window is kept
    even when short (dropping it would silently lose corpus tail
    tokens); empty documents yield no chunks.

    Output: (id, chunk_id, n_tokens, chunk_text) with chunk_id the
    0-based window index.
    """
    if chunk_tokens < 1:
        raise ValueError("chunk_tokens must be >= 1")
    if not (0 <= overlap < chunk_tokens):
        raise ValueError("overlap must be in [0, chunk_tokens)")
    stride = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    # window starts 1, 1+stride, ... covering every token; a doc with
    # n <= chunk tokens gets exactly one window
    starts = F.sequence(
        F.lit(1),
        F.greatest(
            (F.ceil((F.size(toks) - F.lit(chunk_tokens))
                    / F.lit(stride)) * F.lit(stride)) + F.lit(1),
            F.lit(1),
        ),
        F.lit(stride),
    )
    chunks = F.transform(
        starts,
        lambda s, i: F.struct(
            i.alias("chunk_id"),
            F.slice(toks, s, chunk_tokens).alias("toks"),
        ),
    )
    out = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.filter(chunks, lambda c: F.size(c["toks"]) > 0)
            ).alias("c"),
        )
        .select(
            "id",
            F.col("c.chunk_id").alias("chunk_id"),
            F.size("c.toks").alias("n_tokens"),
            F.array_join("c.toks", " ").alias("chunk_text"),
        )
    )
    return out
