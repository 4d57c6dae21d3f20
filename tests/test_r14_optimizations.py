"""Round-14 optimization internals: persist-slot lifetime registries,
the FLAC fixed-predictor overflow guard, and the JPEG bit reader's
pre-unstuffed clean-prefix semantics."""
from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

import opensearch_dynamodb_etl_cdk_spark.operators.multimodal as M
from opensearch_dynamodb_etl_cdk_spark.functions import text as TXT
from opensearch_dynamodb_etl_cdk_spark import session as SES
from opensearch_dynamodb_etl_cdk_spark.operators import dedup as D


# ---------------------------------------------------------------- persist
# slots: each operator call releases the PREVIOUS call's pinned frames, so
# a long-lived session holds at most one call's worth of cached blocks per
# operator while the just-returned lazy query still sees live caches.

def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_minhash_slot_releases_previous_call(spark):
    # NOTE: storageLevel is CacheManager plan-keyed, so the second call
    # must use DIFFERENT input or the re-persisted identical plan makes
    # the old handles read as still-cached.
    texts = [f"the quick brown fox jumps over dog {i % 3}" for i in range(12)]
    d = _docs(spark, texts)
    first = D.minhash_lsh_pairs(d, num_hashes=8, bands=4)
    rows1 = sorted(map(tuple, first.collect()))  # materialize persists
    slots = SES._PERSIST_SLOTS[spark]
    held = list(slots["minhash_shingles"]) + list(slots["minhash_banded"])
    assert all(f.storageLevel.useMemory for f in held)
    d2 = _docs(spark, texts + ["an extra different document"])
    D.minhash_lsh_pairs(d2, num_hashes=8, bands=4)
    # building the second query must have released the first call's frames
    assert all(not f.storageLevel.useMemory for f in held)
    # the first query still computes correctly (recompute from lineage)
    assert sorted(map(tuple, first.collect())) == rows1


def test_persist_slots_are_per_session(spark):
    """Two sessions sharing one SparkContext keep separate slots: a call
    on the second session must not release the first session's frames."""
    s1, s2 = spark.newSession(), spark.newSession()
    texts = [f"the quick brown fox jumps over dog {i % 3}" for i in range(12)]
    D.minhash_lsh_pairs(_docs(s1, texts), num_hashes=8, bands=4).count()
    held = list(SES._PERSIST_SLOTS[s1]["minhash_shingles"])
    assert all(f.storageLevel.useMemory for f in held)
    D.minhash_lsh_pairs(
        _docs(s2, texts + ["an extra different document"]),
        num_hashes=8, bands=4,
    ).count()
    assert all(f.storageLevel.useMemory for f in held)
    assert SES._PERSIST_SLOTS[s2]["minhash_shingles"] != held


def test_simhash_slot_releases_previous_call(spark):
    d = _docs(spark, ["alpha beta gamma delta"] * 6)
    D.simhash_pairs(d).count()
    held = list(SES._PERSIST_SLOTS[spark]["simhash_frame"])
    assert all(f.storageLevel.useMemory for f in held)
    D.simhash_pairs(_docs(spark, ["epsilon zeta eta theta"] * 5))
    assert all(not f.storageLevel.useMemory for f in held)


def test_lm_unigram_slot_releases_previous_call(spark):
    docs = _docs(spark, ["a b c", "b c d"])
    model = _docs(spark, ["a b c d a b", "c d a b c d"])
    r1 = TXT.bigram_logprob_scores(docs, model)
    rows1 = sorted((r.doc_id, r.n_bigrams, r.avg_logp) for r in r1.collect())
    held = list(SES._PERSIST_SLOTS[spark]["lm_unigram"])
    assert held and all(f.storageLevel.useMemory for f in held)
    model2 = _docs(spark, ["a b c d a b", "c d a b c d", "e f"])
    TXT.bigram_logprob_scores(docs, model2)
    assert all(not f.storageLevel.useMemory for f in held)
    rows2 = sorted(
        (r.doc_id, r.n_bigrams, r.avg_logp)
        for r in TXT.bigram_logprob_scores(docs, model).collect()
    )
    assert rows1 == rows2


# ------------------------------------------------------- FLAC overflow guard

def test_fixed_reconstruct_adversarial_matches_exact():
    rng = random.Random(3)
    for order in (1, 2, 3, 4):
        for mag in (1 << 57, 1 << 58, 1 << 60, (1 << 62) + 7):
            warm = [rng.randrange(-mag, mag) for _ in range(order)]
            res = [rng.randrange(-mag, mag) for _ in range(64)]
            assert M._fixed_reconstruct(warm, res, order) == \
                M._fixed_reconstruct_exact(warm, res, order)


def test_fixed_reconstruct_in_range_matches_exact():
    rng = random.Random(4)
    for order in (0, 1, 2, 3, 4):
        warm = [rng.randrange(-(1 << 23), 1 << 23) for _ in range(order)]
        res = [rng.randrange(-(1 << 24), 1 << 24) for _ in range(512)]
        assert M._fixed_reconstruct(warm, res, order) == \
            M._fixed_reconstruct_exact(warm, res, order)


# ------------------------------------------------------ JPEG clean prefix

def test_bitreader_stuffed_bytes_and_errors():
    r = M._BitReader(b"\xff\x00\xab")
    assert r.bits(16) == 0xFFAB
    with pytest.raises(ValueError, match="truncated"):
        r.bit()
    # a real marker raises only when a bit past the prefix is needed
    r = M._BitReader(b"\xa5\xff\xd9")
    assert r.bits(8) == 0xA5
    with pytest.raises(ValueError, match="unexpected marker 0xffd9"):
        r.bit()
    # lone trailing 0xFF == truncation (the old per-byte walk consumed
    # the 0xFF then raised looking for the pair byte)
    r = M._BitReader(b"\x12\xff")
    assert r.bits(8) == 0x12
    with pytest.raises(ValueError, match="truncated"):
        r.bit()


def test_jpeg_decode_with_stuffing_roundtrip():
    # dense random pixels with a flat quant table produce entropy
    # streams that actually contain stuffed 0xFF00 pairs
    rng = random.Random(1)
    px = bytes(rng.randrange(256) for _ in range(32 * 32))
    blob = M.encode_jpeg(32, 32, pixels=px, quant=[1] * 64)
    assert b"\xff\x00" in blob
    f = M.decode_jpeg(blob)
    assert f["width"] == 32 and f["height"] == 32
