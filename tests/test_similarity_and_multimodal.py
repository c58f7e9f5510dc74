from __future__ import annotations

from pyspark.sql import types as T

from flink_streaming_twitter_spark.operators.multimodal import (
    decode_media,
    frame_sample,
    payload_metadata,
)
from flink_streaming_twitter_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_topk,
)

VECS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [1.0, 0.0, 0.0, 0.0]),  # identical to 0
    (2, [0.9, 0.1, 0.0, 0.0]),  # close to 0
    (3, [0.0, 1.0, 0.0, 0.0]),  # orthogonal to 0
    (4, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
]

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("mime", T.StringType()),
    ]
)


def _emb(spark):
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    return spark.createDataFrame(VECS, schema)


def test_brute_force_ranks_by_cosine(spark):
    emb = _emb(spark)
    out = brute_force_topk(emb, emb.filter("vec_id = 0"), k=4).collect()
    order = [r.vec_id for r in sorted(out, key=lambda r: r.rank)]
    assert order == [1, 2, 3, 4]
    sims = {r.vec_id: r.sim for r in out}
    assert sims[1] == 1.0 and sims[4] == -1.0 and sims[3] == 0.0


def test_unscorable_vectors_excluded_from_all_ann_tiers(spark):
    """NULL and all-zero embeddings (encoder failures in real corpora)
    are cosine-unscorable and must take part in NEITHER role: no
    sim=NULL rows in a ranking, no spurious bucket-0 neighbors from the
    sign-hash's otherwise(0) branch, no zero-norm centroid. Gate corpora
    carry no such rows (measured at every SF), so this contract is
    pinned here rather than by the driver oracles."""
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    # id 5: NULL, id 6: all-zero, ids 7/8 (round 10): non-finite
    # components — a NaN norm would otherwise rank ABOVE every real
    # cosine in BOTH engines (shared NaN-is-largest convention), i.e.
    # one float glitch tops every neighbor list
    bad = [
        (5, None),
        (6, [0.0, 0.0, 0.0, 0.0]),
        (7, [float("nan"), 0.1, 0.1, 0.1]),
        (8, [float("inf"), 0.1, 0.1, 0.1]),
    ]
    emb = spark.createDataFrame(VECS + bad, schema)
    for tier, out in [
        ("brute", brute_force_topk(emb, emb, k=10)),
        ("lsh", lsh_topk(emb, emb, k=10, num_planes=8, dim=4)),
        # seed_mod=2/rem=0 makes the zero vector (id 6) and the inf
        # vector (id 8) would-be centroids — the c_norm filter must
        # drop those cells, not crash
        ("ivf", ivf_topk(emb, emb, k=10, nprobe=2, seed_mod=2, seed_rem=0)),
    ]:
        rows = out.collect()
        assert rows, tier  # scorable pairs still flow
        assert {r.q_id for r in rows}.isdisjoint({5, 6, 7, 8}), tier
        assert {r.vec_id for r in rows}.isdisjoint({5, 6, 7, 8}), tier
        assert all(r.sim is not None for r in rows), tier
        import math

        assert all(math.isfinite(r.sim) for r in rows), tier
    # zero-row corpus stays a clean empty result
    assert brute_force_topk(emb.filter("vec_id < 0"), emb, k=3).count() == 0


def test_embedding_cosine_dedup_survives_unscorable_vectors(spark, sf_dir, tmp_path):
    """dedup_embedding_cosine inherits the ANN unscorable-vector
    contract (round-9 NULL-corpus oracle audit: the ANN tiers filtered
    on the carried norm but this fourth dedup modality didn't — one
    zero-norm encoder-failure row crashed the whole pass with ANSI
    DIVIDE_BY_ZERO, and a NULL embedding would crash the DuckDB oracle's
    list_inner_product too). Adding unscorable rows must leave the pair
    output IDENTICAL, not raise."""
    from pyspark.sql import functions as F

    from flink_streaming_twitter_spark.plans.similarity import dedup_embedding_cosine
    from flink_streaming_twitter_spark.sources.files import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    bad = emb.limit(2).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.when(F.col("vec_id") % 2 == 0, F.lit(None))
        .otherwise(F.array(*[F.lit(0.0)] * dim))
        .cast("array<float>")
        .alias("embedding"),
        F.col("label"),
    )
    aug_dir = str(tmp_path / "aug")
    emb.unionByName(bad).coalesce(1).write.parquet(f"{aug_dir}/embeddings.parquet")

    base = {tuple(r) for r in dedup_embedding_cosine(spark, sf_dir).collect()}
    aug = {tuple(r) for r in dedup_embedding_cosine(spark, aug_dir).collect()}
    assert aug == base
    assert base  # non-vacuous: the gate corpus has near-dup vectors


def test_lsh_bucket_mates_include_identical_vector(spark):
    emb = _emb(spark)
    out = lsh_topk(emb, emb.filter("vec_id = 0"), k=4, num_planes=8, dim=4).collect()
    ids = {r.vec_id for r in out}
    assert 1 in ids  # identical vector always lands in the same bucket
    assert 4 not in ids  # opposite vector flips every hyperplane sign


def test_lsh_multiprobe_expands_candidates_deterministically(spark):
    emb = _emb(spark)
    q = emb.filter("vec_id = 0")
    single = {r.vec_id for r in lsh_topk(emb, q, k=4, num_planes=8, dim=4).collect()}
    multi = {
        r.vec_id
        for r in lsh_topk(emb, q, k=4, num_planes=8, dim=4, n_probes=3).collect()
    }
    assert single <= multi  # probing more buckets only adds candidates
    assert 1 in multi  # identical vector still present
    # deterministic: same call, same result
    multi2 = {
        r.vec_id
        for r in lsh_topk(emb, q, k=4, num_planes=8, dim=4, n_probes=3).collect()
    }
    assert multi == multi2


def test_ivf_probes_nearest_cells(spark):
    emb = _emb(spark)
    # mod=2/rem=0 -> centroids {0,2,4}: three cells spanning the space.
    # With nprobe=2 the query (vec 0) probes its own cell and the nearest
    # other; vec 1 (identical, assigned to cell 0) must rank first.
    out = ivf_topk(emb, emb.filter("vec_id = 0"), k=4, nprobe=2, seed_mod=2, seed_rem=0).collect()
    best = min(out, key=lambda r: r.rank)
    assert best.vec_id == 1 and best.sim == 1.0
    # vec 4 (opposite) lives in the farthest cell, which nprobe=2 skips
    assert 4 not in {r.vec_id for r in out}


def _media(spark):
    rows = [
        (1, b"\xff\xd8\xff\xe0" + b"x" * 20, "image/jpeg"),
        (2, b"\x89PNG\r\n\x1a\n" + b"y" * 9, "image/png"),
        (3, b"RIFFxxxxWAVE", "audio/wav"),
        (4, b"\x00payload", "application/octet-stream"),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_payload_metadata_sniffs_magic_bytes(spark):
    out = {r.media_id: r for r in payload_metadata(_media(spark)).collect()}
    assert out[1].sniffed_format == "jpeg"
    assert out[2].sniffed_format == "png"
    assert out[3].sniffed_format == "riff-wav"
    assert out[4].sniffed_format == "unknown"
    assert out[1].byte_len == 24 and len(out[1].sha256) == 64


def test_decode_media_stub_is_deterministic_arrow_batched(spark):
    decoded = decode_media(_media(spark))
    rows1 = {r.media_id: r for r in decoded.collect()}
    rows2 = {r.media_id: r for r in decode_media(_media(spark)).collect()}
    assert rows1.keys() == rows2.keys() == {1, 2, 3, 4}
    for mid in rows1:
        a, b = rows1[mid], rows2[mid]
        assert (a.width, a.height, a.n_frames) == (b.width, b.height, b.n_frames)
        assert len(a.feature) == 8 and a.feature == b.feature
        assert 1 <= a.width <= 64 and 1 <= a.height <= 64


def test_null_and_empty_payloads_survive_decode_and_frame_sample(spark):
    """Failed media downloads arrive as NULL (or zero-length) payloads;
    one bytes(None) TypeError in a mapInPandas worker fails the WHOLE
    decode job, so the kernel must degrade per-row instead. Contract:
    NULL payload → row kept with NULL decode fields (quarantine
    downstream); empty payload → stub decode as usual; frame_sample
    drops NULL-n_frames rows via the NULL-propagating sequence."""
    rows = [
        (1, b"\xff\xd8\xff\xe0" + b"x" * 20, "image/jpeg"),
        (2, None, "image/png"),
        (3, b"", "application/octet-stream"),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)

    dec = {r.media_id: r for r in decode_media(media).collect()}
    assert dec.keys() == {1, 2, 3}  # no row lost, no crash
    assert dec[2].width is None and dec[2].feature is None and dec[2].byte_len is None
    assert dec[1].byte_len == 24 and len(dec[1].feature) == 8
    assert dec[3].byte_len == 0 and dec[3].n_frames == 1

    sampled = {r.media_id for r in frame_sample(decode_media(media), every_n=4).collect()}
    assert sampled == {1, 3}  # the NULL-decode row has no frames to sample


def test_frame_sample_keeps_every_nth(spark):
    decoded = decode_media(_media(spark))
    frames = frame_sample(decoded, every_n=4).collect()
    by_media = {}
    for r in frames:
        by_media.setdefault(r.media_id, []).append(r.frame_idx)
    for mid, idxs in by_media.items():
        assert all(i % 4 == 0 for i in idxs)


def test_decode_cache_keyed_per_session_and_sf_dir(spark):
    """The decode-once persist() cache is keyed per (session, sf_dir)
    (ADVICE r4): building plans for TWO sf dirs must leave both caches
    pinned (a build-all-then-evaluate driver keeps every decode-once
    guarantee), and re-building for the SAME key must supersede that
    key's previous cache while LEAVING THE NEW PLAN CACHED — Spark's
    CacheManager keys entries by logical-plan equality, so the wrong
    supersede order (persist new, then unpersist old) silently drops
    the shared entry and this test's final storageLevel check fails."""
    from flink_streaming_twitter_spark.plans import misc

    a, b = "/root/testdata/sf0.001", "/root/testdata/sf0.01"
    misc.multimodal_decode_stats(spark, a)
    cached_a1 = misc._DECODED_CACHE[(id(spark), a)]
    misc.multimodal_decode_stats(spark, b)
    # building b's plan must NOT evict a's still-lazy cache
    assert misc._DECODED_CACHE[(id(spark), a)] is cached_a1
    assert cached_a1.storageLevel.useMemory or cached_a1.storageLevel.useDisk
    # a second plan for the SAME key supersedes the first — the dict
    # stays bounded at one entry per key, and the NEW plan is cached
    n_keys_before = len(misc._DECODED_CACHE)
    misc.multimodal_decode_stats(spark, a)
    cached_a2 = misc._DECODED_CACHE[(id(spark), a)]
    assert cached_a2 is not cached_a1
    assert len(misc._DECODED_CACHE) == n_keys_before
    assert cached_a2.storageLevel.useMemory or cached_a2.storageLevel.useDisk
    # b's cache survived both rebuilds of a
    bb = misc._DECODED_CACHE[(id(spark), b)]
    assert bb.storageLevel.useMemory or bb.storageLevel.useDisk


# ---------------------------------------------------------------------------
# Planted-neighbor recall: ANN quality pinned on STRUCTURED data.
#
# SCALE.md's recall table has two regimes: the sf0.1 synthetics (near-
# orthogonal — "recall is undefined-by-data") and the x100 replicas
# (exact-duplicate vectors — recall 1.00 by construction). Neither
# exercises the interesting middle: non-identical true neighbors that an
# index can genuinely miss. This corpus plants them deterministically:
# 10 md5-derived base vectors, each with 5 perturbed copies
# (base + 0.3*delta, cosine >= 0.93 to its base), plus 200 independent
# noise vectors (every non-planted cosine <= 0.38 — verified by the
# brute-force assertion below). The planted set IS the true top-5, so
# recall is well-defined, and every operator is deterministic, so the
# recall values are pinned exactly, not bounded loosely.
# ---------------------------------------------------------------------------

_PLANT_DIM = 64
_PLANT_NQ = 10  # base vectors, ids 0..9 (the query set)
_PLANT_NPL = 5  # planted neighbors per base, ids 100 + 10*i + j
_PLANT_NN = 200  # noise vectors, ids 1000 + k
_PLANT_EPS = 0.3


def _md_vals(tag: str, n: int) -> list[float]:
    """n deterministic pseudo-random thousandths in [-1, 1] (same
    md5-rational scheme as operators.similarity.hyperplane, different
    tag namespace)."""
    import hashlib

    return [
        ((int(hashlib.md5(f"{tag}-{t}".encode()).hexdigest()[:15], 16) % 2001) - 1000)
        / 1000.0
        for t in range(n)
    ]


def _planted_corpus(spark):
    rows = []
    bases = {}
    for i in range(_PLANT_NQ):
        bases[i] = _md_vals(f"pb-{i}", _PLANT_DIM)
        rows.append((i, bases[i]))
    for i in range(_PLANT_NQ):
        for j in range(_PLANT_NPL):
            delta = _md_vals(f"pd-{i}-{j}", _PLANT_DIM)
            rows.append(
                (100 + 10 * i + j,
                 [b + _PLANT_EPS * d for b, d in zip(bases[i], delta)])
            )
    for k in range(_PLANT_NN):
        rows.append((1000 + k, _md_vals(f"pn-{k}", _PLANT_DIM)))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    return spark.createDataFrame(rows, schema)


def _recall_at_5(rows) -> float:
    """Fraction of planted neighbors retrieved, over all queries."""
    hit = sum(
        1 for r in rows if 100 + 10 * r.q_id <= r.vec_id < 100 + 10 * (r.q_id + 1)
    )
    return hit / (_PLANT_NQ * _PLANT_NPL)


def test_brute_force_recall_is_exactly_the_planted_set(spark):
    """Exact top-5 == the 5 planted neighbors for EVERY query — this both
    validates brute_force_topk on structured data and certifies the
    corpus separation every other recall number below divides by."""
    emb = _planted_corpus(spark)
    out = brute_force_topk(emb, emb.filter("vec_id < 10"), k=_PLANT_NPL).collect()
    assert _recall_at_5(out) == 1.0
    # and the planted cosines clear the noise floor with margin
    assert min(r.sim for r in out) >= 0.93


def test_lsh_recall_rises_with_multiprobe_on_planted_corpus(spark):
    """Single-probe LSH (8 planes) misses planted neighbors that a 0.3
    perturbation pushed across a hyperplane; multi-probe (flipping the
    2 lowest-margin planes) recovers a deterministic, pinned share of
    them. The dial the docstring sells — probes buy recall at fixed
    re-hash cost — measured, not asserted."""
    emb = _planted_corpus(spark)
    q = emb.filter("vec_id < 10")
    r1 = _recall_at_5(
        lsh_topk(emb, q, k=_PLANT_NPL, num_planes=8, dim=_PLANT_DIM).collect()
    )
    r3 = _recall_at_5(
        lsh_topk(emb, q, k=_PLANT_NPL, num_planes=8, dim=_PLANT_DIM, n_probes=3).collect()
    )
    assert r1 == 0.60  # 30/50 — deterministic planes, pinned exactly
    assert r3 == 0.76  # 38/50
    assert r3 > r1


def test_ivf_recall_rises_with_nprobe_on_planted_corpus(spark):
    """IVF with ~16 deterministic cells: nprobe=1 already catches 90%
    (a planted neighbor usually quantizes to its base's cell — the
    argmax survives a 0.3 perturbation), nprobe=3 catches 98%. Pinned
    exactly; the one stray is a neighbor whose nearest centroid is not
    among its query's three probed cells."""
    emb = _planted_corpus(spark)
    q = emb.filter("vec_id < 10")
    r1 = _recall_at_5(
        ivf_topk(emb, q, k=_PLANT_NPL, nprobe=1, seed_mod=16, seed_rem=7).collect()
    )
    r3 = _recall_at_5(
        ivf_topk(emb, q, k=_PLANT_NPL, nprobe=3, seed_mod=16, seed_rem=7).collect()
    )
    assert r1 == 0.90  # 45/50
    assert r3 == 0.98  # 49/50
    assert r3 > r1
