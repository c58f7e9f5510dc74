"""Dedup operator semantics on a corpus with known duplicate structure."""

from __future__ import annotations

import pytest

from flink_streaming_twitter_spark.operators.dedup import (
    exact_dedup,
    lsh_verified_jaccard,
    minhash_lsh_dedup,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (2, "The  Quick  Brown Fox jumps over the lazy dog"),  # normalized dup of 0
    (3, "the quick brown fox jumps over the sleepy dog"),  # near dup (1 word)
    (4, "completely different content about spark engines and distributed joins"),
    (5, "another unrelated document mentioning streaming watermarks and windows"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup_normalizes_case_and_whitespace(spark):
    out = exact_dedup(_docs(spark)).collect()
    groups = {r.kept_doc_id: r.dup_cnt for r in out}
    # 0,1,2 collapse (case/whitespace normalization); 3,4,5 survive alone
    assert groups == {0: 3, 3: 1, 4: 1, 5: 1}


def test_null_text_takes_no_part_in_any_dedup_tier(spark):
    """Family contract: NULL text (failed fetch / encoder failure) is
    unknown content, not equal content — such docs must appear in NO
    dedup output, neither as representatives nor as duplicates. Before
    the exact_dedup fix, md5(NULL)=NULL grouped all NULL docs as mutual
    duplicates of the min-id one; the window partition in the cluster
    queries' exact-evidence had the same hole. Gate corpora carry no
    NULL texts, so this contract is pinned here, not by the driver."""
    from flink_streaming_twitter_spark.plans.dedup import _dup_evidence

    rows = DOCS + [(90, None), (91, None), (92, None)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    null_ids = {90, 91, 92}

    out = exact_dedup(docs).collect()
    groups = {r.kept_doc_id: r.dup_cnt for r in out}
    assert groups == {0: 3, 3: 1, 4: 1, 5: 1}  # identical to the NULL-free corpus

    for name, pairs_df in [
        ("minhash", minhash_lsh_dedup(docs)),
        ("ngram", ngram_jaccard_pairs(docs)),
        ("simhash", simhash_near_pairs(docs)),
        ("lsh_exact", lsh_verified_jaccard(docs)),
    ]:
        pairs = {(r.doc_a, r.doc_b) for r in pairs_df.collect()}
        ids = {i for p in pairs for i in p}
        assert ids.isdisjoint(null_ids), name
        assert (0, 1) in pairs, name  # real dups still found

    evidence = _dup_evidence(docs).collect()
    ev_ids = {r.src for r in evidence} | {r.dst for r in evidence}
    assert ev_ids.isdisjoint(null_ids)
    assert any(r.src == 0 for r in evidence)  # real evidence still flows


def test_zero_token_text_takes_no_part_in_any_shingle_tier(spark):
    """Round-10 twin of the NULL-text contract (caught by the Unicode
    edge-corpus audit): a doc whose text the ``\\w`` tokenizer matches
    NOTHING in — empty string, whitespace-only, emoji-only, CJK script —
    has no shingle evidence and must appear in no shingle-tier output.
    Before the fix every such doc got the single shingle md5(''), so
    they ALL paired mutually at est/exact Jaccard 1.0 ("no evidence" as
    "perfect match"), while the DuckDB oracles dropped them through an
    unrelated sh=NULL accident. The EXACT tier legitimately still
    groups the empty and whitespace docs (identical normalized-empty
    text), and SimHash drops zero-token docs via explode — both
    asserted too."""
    # 81 is spaces-only (trim() strips spaces, not tabs, in BOTH engines
    # — so only the all-space doc normalizes to the same empty text 80
    # has); 83 is tab-bearing whitespace, still zero-token
    rows = DOCS + [(80, ""), (81, "   "), (82, "日本語のテキスト 中文文本"), (83, " \t ")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    contentless = {80, 81, 82, 83}

    for name, pairs_df in [
        ("minhash", minhash_lsh_dedup(docs)),
        ("ngram", ngram_jaccard_pairs(docs)),
        ("simhash", simhash_near_pairs(docs)),
        ("lsh_exact", lsh_verified_jaccard(docs)),
    ]:
        pairs = {(r.doc_a, r.doc_b) for r in pairs_df.collect()}
        ids = {i for p in pairs for i in p}
        assert ids.isdisjoint(contentless), name
        assert (0, 1) in pairs, name  # real dups still found

    # exact tier: '' and spaces-only NORMALIZE to the same empty text —
    # that IS exact evidence, kept deliberately (both engines compute
    # the same md5 of the collapsed text); the tab doc trims to a
    # residual tab (trim strips spaces only) and stays its own group
    groups = {r.kept_doc_id: r.dup_cnt for r in exact_dedup(docs).collect()}
    assert groups[80] == 2  # 80 + 81 share the normalized-empty key
    assert groups[82] == 1  # CJK text is unique content, kept alone
    assert groups[83] == 1


def test_dedup_oracles_agree_with_operators_on_null_bearing_corpus(spark):
    """The gate corpora carry no NULL texts, so the driver hash can never
    certify NULL handling — pin operator-vs-DuckDB agreement here on a
    corpus that HAS them (VERDICT r8: DEDUP_EXACT_SQL and _clusters_sql's
    exact_pairs CTE kept keying NULL text after the operators stopped;
    DuckDB's PARTITION BY md5(NULL) puts every NULL-text doc in one
    partition). With the round-9 WHERE text IS NOT NULL in both
    fragments, 'the oracles see identical inputs' holds by construction:
    exact dedup drops NULL docs entirely, the cluster query keeps them as
    SINGLETON clusters (they are nodes, never edge endpoints)."""
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from flink_streaming_twitter_spark.operators.graph import connected_components
    from flink_streaming_twitter_spark.plans import params as P
    from flink_streaming_twitter_spark.plans.dedup import (
        DEDUP_EXACT_SQL,
        _cluster_output,
        _clusters_sql,
        _dup_evidence,
        _minhash_lsh_sql,
    )

    rows = DOCS + [(90, None), (91, None), (92, None)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    got_exact = {tuple(r) for r in exact_dedup(docs).collect()}
    comp = connected_components(
        _dup_evidence(docs), nodes=docs.select(F.col("doc_id").alias("id"))
    )
    got_clusters = {tuple(r) for r in _cluster_output(comp).collect()}

    def _mh(max_bucket):
        return {
            (r.doc_a, r.doc_b, round(r.est_jaccard, 9))
            for r in minhash_lsh_dedup(
                docs,
                num_perm=P.MINHASH_PERMS,
                bands=P.MINHASH_BANDS,
                est_threshold=P.MINHASH_EST_THRESHOLD,
                shingle_k=P.SHINGLE_K,
                max_bucket=max_bucket,
            ).collect()
        }

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    exp_exact = {tuple(r) for r in con.execute(DEDUP_EXACT_SQL).fetchall()}
    exp_clusters = {tuple(r) for r in con.execute(_clusters_sql()).fetchall()}
    exp_mh = {
        (a, b, round(j, 9)) for a, b, j in con.execute(_minhash_lsh_sql()).fetchall()
    }
    exp_mh_capped = {
        (a, b, round(j, 9))
        for a, b, j in con.execute(_minhash_lsh_sql(cap=P.LSH_CAP_BINDING)).fetchall()
    }
    con.close()

    assert got_exact == exp_exact
    assert got_clusters == exp_clusters
    # shingle-tier oracles carry the same filter since round 9 (before,
    # NULL docs got an all-NULL signature whose pairs only vanished
    # because the est threshold is > 0 — agreement by accident)
    assert _mh(None) == exp_mh and exp_mh
    # binding cap: docs 0/1/2 share identical signatures (occupancy 3),
    # so cap=2 drops their buckets on BOTH sides identically
    assert _mh(P.LSH_CAP_BINDING) == exp_mh_capped
    assert exp_mh_capped < exp_mh
    # and the intended semantics, not merely mutual agreement: NULL docs
    # are absent from exact output, singleton self-clusters in clusters
    assert all(kept not in {90, 91, 92} for _, kept, _ in exp_exact)
    for nid in (90, 91, 92):
        assert (nid, nid, 1) in got_clusters
    # real duplicate structure still present (0,1,2 collapse under 0)
    assert (1, 0, 0) in got_clusters and (2, 0, 0) in got_clusters


def test_pipeline_entries_ignore_null_text_docs(spark, sf_dir, tmp_path):
    """The composed pipeline entries inherit the NULL-text contract:
    adding failed-fetch docs (NULL text) to a corpus must leave
    q_corpus_pipeline and q_incremental_dedup output IDENTICAL — before
    the head filter, every NULL doc shared the single md5(NULL) digest,
    the k=1 cap kept exactly one of them (a phantom train/val/test row),
    and a NULL digest bypassed the incremental archive anti-join
    entirely."""
    from pyspark.sql import functions as F

    from flink_streaming_twitter_spark.plans.pipeline import (
        q_corpus_pipeline,
        q_incremental_dedup,
    )
    from flink_streaming_twitter_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    nulled = (
        docs.limit(3)
        .withColumn("doc_id", F.col("doc_id") + 10_000_000)
        .withColumn("text", F.lit(None).cast("string"))
    )
    aug_dir = str(tmp_path / "aug")
    docs.unionByName(nulled).coalesce(1).write.parquet(f"{aug_dir}/documents.parquet")

    for entry in (q_corpus_pipeline, q_incremental_dedup):
        base = {tuple(r) for r in entry(spark, sf_dir).collect()}
        aug = {tuple(r) for r in entry(spark, aug_dir).collect()}
        assert aug == base, entry.__name__
        assert base  # the comparison is not vacuous


def test_minhash_identical_docs_have_est_one(spark):
    pairs = {(r.doc_a, r.doc_b): r.est_jaccard for r in minhash_lsh_dedup(_docs(spark)).collect()}
    assert pairs[(0, 1)] == 1.0  # identical text → identical signatures
    assert (0, 4) not in pairs and (4, 5) not in pairs


def test_ngram_jaccard_finds_near_dup_and_scores_exactly(spark):
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs(_docs(spark)).collect()}
    assert pairs[(0, 1)] == 1.0
    # docs 0 and 3 differ in 1 of 9 words → shingle sets overlap 4/10
    assert (0, 3) not in pairs or pairs[(0, 3)] < 1.0
    assert (0, 4) not in pairs


def test_lsh_verified_jaccard_scores_exactly_on_candidates(spark):
    """Two-tier pipeline: every emitted pair carries the TRUE Jaccard
    (identical to the exact all-pairs join for pairs LSH surfaces)."""
    exact = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs(_docs(spark)).collect()}
    tiered = {
        (r.doc_a, r.doc_b): r.jaccard for r in lsh_verified_jaccard(_docs(spark)).collect()
    }
    assert tiered  # identical docs always collide in every band
    for pair, j in tiered.items():
        assert exact[pair] == j  # subset with exact scores
    assert tiered[(0, 1)] == 1.0


def test_simhash_identical_docs_distance_zero(spark):
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_near_pairs(_docs(spark)).collect()}
    assert pairs[(0, 1)] == 0
    assert pairs[(0, 2)] == 0  # same token set after lowering
    assert (0, 4) not in pairs


def test_ngram_jaccard_blocked_decomposition_matches_global(spark):
    """An exact PPJoin over groups with DISJOINT shingle sets equals the
    union of per-group exact joins — the decomposition SCALE.md's
    round-6 x100 t=0.5 recall denominator was measured with after the
    global join proved disk-bound (a pair with Jaccard > 0 must share a
    shingle, so verified shingle-disjoint blocks cannot interact).
    Salting mirrors that corpus's replica scheme: a per-group token inside
    every 3-shingle makes cross-group shingle sets disjoint; per-block
    document frequencies reorder the prefix heuristic, so this also
    re-pins that prefix filtering is lossless under ANY df order."""
    from pyspark.sql import functions as F

    base = [t for _, t in DOCS]
    rows = []
    for g in range(3):  # 3 "replicas", ids g*100 + i
        for i, t in enumerate(base):
            words = t.split()
            salted = []
            for w_idx in range(0, len(words) - 1, 2):
                salted += [words[w_idx], words[w_idx + 1], f"z{g}"]
            if len(words) % 2:
                salted.append(words[-1])
            rows.append((g * 100 + i, " ".join(salted)))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    global_pairs = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, threshold=0.5, shingle_k=3).collect()
    }
    blocked_pairs = set()
    for g in range(3):
        blocked_pairs |= {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in ngram_jaccard_pairs(
                docs.filter((F.col("doc_id") >= g * 100) & (F.col("doc_id") < (g + 1) * 100)),
                threshold=0.5,
                shingle_k=3,
            ).collect()
        }
    assert global_pairs == blocked_pairs
    # every pair is within-group, and each group found its near-dups
    assert global_pairs and all(a // 100 == b // 100 for a, b, _ in global_pairs)
    assert len(global_pairs) % 3 == 0  # isomorphic groups -> identical pair sets


def test_hash_bits_60_eliminates_31bit_collision_false_positive(spark):
    """'tok402 tok402 tok402' and 'tok78442 tok78442 tok78442' are a REAL
    md5_int31 collision (both hash to 131683038; found by birthday search
    — the same regime the x100 probe measured: 22 collisions at ~3e5
    shingles). As single-shingle documents they are a Jaccard-1.0 "pair"
    under 31-bit hashing and share NOTHING under 60-bit — the exact
    operator's hash_bits=60 deploy setting removes the false positive
    while keeping genuine near-dups."""
    docs = spark.createDataFrame(
        [
            (0, "tok402 tok402 tok402"),
            (1, "tok78442 tok78442 tok78442"),  # 31-bit collider with doc 0
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "the quick brown fox jumps over the sleepy dog"),  # true near-dup
        ],
        ["doc_id", "text"],
    )
    pairs31 = {
        (r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    pairs60 = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.5, hash_bits=60).collect()
    }
    assert (0, 1) in pairs31  # the collision-induced false positive
    assert (0, 1) not in pairs60  # gone at deploy width
    assert (2, 3) in pairs31 and (2, 3) in pairs60  # real pair kept by both

def test_lsh_default_cap_loses_only_oversized_bucket_pairs(spark):
    """The DEFAULT_LSH_MAX_BUCKET wiring, pinned as a complete
    characterization rather than an example: with a cap, the surviving
    candidate set is EXACTLY the pairs that share at least one
    non-oversized band bucket — i.e. the only pairs lost are those whose
    every collision happened inside a capped (boilerplate) bucket.
    Corpus: 12 identical boilerplate docs (one hot bucket per band,
    occupancy 12 > cap 8) plus the known near-dup corpus (bucket
    occupancy <= 3)."""
    import itertools

    from pyspark.sql import functions as F

    from flink_streaming_twitter_spark.operators.dedup import (
        _bucket_self_join,
        banded_signatures,
        doc_shingle_sets,
        lsh_candidate_pairs,
        minhash_signatures,
        oversized_buckets,
    )
    from flink_streaming_twitter_spark.plans import params as P

    cap = 8
    boiler = [(100 + i, "copyright acme corp all rights reserved terms apply") for i in range(12)]
    docs = spark.createDataFrame(DOCS + boiler, ["doc_id", "text"])
    sigs = minhash_signatures(
        doc_shingle_sets(docs, k=P.SHINGLE_K), P.MINHASH_PERMS
    ).persist()
    banded = banded_signatures(sigs, P.MINHASH_PERMS, P.MINHASH_BANDS)

    def bucket_pairs(max_bucket):
        joined, _ = _bucket_self_join(banded, ["band", "sig"], max_bucket)
        return {
            (r.doc_a, r.doc_b)
            for r in joined.select(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .distinct()
            .collect()
        }

    uncapped = bucket_pairs(None)
    capped = bucket_pairs(cap)
    # lsh_candidate_pairs runs the same join under the default cap, which
    # an occupancy of 12 leaves inert
    default = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(sigs, P.MINHASH_PERMS, P.MINHASH_BANDS).collect()
    }
    assert default == uncapped

    # ground truth from the banded table itself: bucket -> member ids
    buckets: dict = {}
    for r in banded.collect():
        buckets.setdefault((r.band, r.sig), []).append(r.doc_id)
    small_bucket_pairs = {
        (a, b)
        for members in buckets.values()
        if len(members) <= cap
        for a, b in itertools.combinations(sorted(members), 2)
    }
    assert capped == small_bucket_pairs  # exact characterization
    assert capped < uncapped  # the cap did bind (boilerplate pairs lost)
    lost = uncapped - capped
    assert lost == {(a, b) for a, b in itertools.combinations(range(100, 112), 2)}
    # near-dup corpus pairs all survive (their buckets are tiny)
    assert all(a < 100 and b < 100 for a, b in capped)
    assert (0, 1) in capped

    # drop accounting surfaces exactly the hot buckets (one per band)
    dropped = oversized_buckets(banded, ["band", "sig"], cap).collect()
    assert {r.occupancy for r in dropped} == {12}
    assert len(dropped) == P.MINHASH_BANDS
    sigs.unpersist()


def test_accounting_surface_reports_exactly_the_dropped_buckets(spark):
    """ADVICE r8 / VERDICT r9 item 4: deploy callers get cap-loss
    accounting WITHOUT a second manual oversized_buckets call —
    ``accounting=True`` on minhash_lsh_dedup returns (pairs,
    dropped_buckets), where the ledger holds exactly the
    capped (band, sig) keys with their occupancy. Pins: (a) the pairs
    frame is unchanged vs accounting=False; (b) a binding cap reports
    precisely the hot buckets (one per band, occupancy = boilerplate
    count); (c) a disabled cap (max_bucket=None) reports an EMPTY ledger
    of the same schema, so metrics-sink wiring is unconditional."""
    from flink_streaming_twitter_spark.operators.dedup import DEFAULT_LSH_MAX_BUCKET
    from flink_streaming_twitter_spark.plans import params as P

    cap = 8
    boiler = [(100 + i, "copyright acme corp all rights reserved terms apply") for i in range(12)]
    docs = spark.createDataFrame(DOCS + boiler, ["doc_id", "text"])

    fn = minhash_lsh_dedup
    pairs_df, dropped_df = fn(docs, max_bucket=cap, accounting=True)
    assert dropped_df.columns == ["band", "sig", "occupancy"]
    dropped = dropped_df.collect()
    assert len(dropped) == P.MINHASH_BANDS, fn.__name__  # one hot bucket/band
    assert {r.occupancy for r in dropped} == {12}, fn.__name__
    got_pairs = {(r.doc_a, r.doc_b) for r in pairs_df.collect()}
    plain = {(r.doc_a, r.doc_b) for r in fn(docs, max_bucket=cap).collect()}
    assert got_pairs == plain, fn.__name__  # accounting never alters pairs
    assert all(a < 100 for a, _ in got_pairs), fn.__name__  # boilerplate capped

    # inert-cap and disabled-cap ledgers are empty but well-formed
    _, none_dropped = fn(docs, max_bucket=None, accounting=True)
    assert none_dropped.columns == ["band", "sig", "occupancy"]
    assert none_dropped.count() == 0, fn.__name__
    _, default_dropped = fn(docs, max_bucket=DEFAULT_LSH_MAX_BUCKET, accounting=True)
    assert default_dropped.count() == 0, fn.__name__


@pytest.mark.parametrize(
    "corpus_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_default_cap_inert_and_binding_cap_diverges_on_gate_corpus(spark, corpus_dir):
    """Two facts about the cap on BOTH real gate corpora (sf0.001 — the
    unit-test fixture — and sf0.01 — the SF the driver gate actually
    hashes at):

    1. The deploy default (DEFAULT_LSH_MAX_BUCKET) is INERT — max band-
       bucket occupancy is far below it. The gate's deploy-default LSH
       entries verify against UNCAPPED oracles (plans/dedup.py module
       docstring), which is only sound while this holds; if corpus
       regeneration ever grows an oversized bucket this assertion fails
       with the occupancy number instead of an opaque driver hash
       mismatch.
    2. LSH_CAP_BINDING genuinely binds there — dedup_minhash_lsh_capped
       returns strictly fewer pairs than the uncapped form, so its green
       driver row certifies the cap's filtering semantics, not a no-op.
    """
    from flink_streaming_twitter_spark.operators.dedup import (
        DEFAULT_LSH_MAX_BUCKET,
        banded_signatures,
        doc_shingle_sets,
        minhash_signatures,
    )
    from flink_streaming_twitter_spark.plans import params as P
    from flink_streaming_twitter_spark.sources.files import load_table

    docs = load_table(spark, corpus_dir, "documents")
    sigs = minhash_signatures(doc_shingle_sets(docs, k=P.SHINGLE_K), P.MINHASH_PERMS)
    banded = banded_signatures(sigs, P.MINHASH_PERMS, P.MINHASH_BANDS)
    max_occ = banded.groupBy("band", "sig").count().agg({"count": "max"}).collect()[0][0]
    assert max_occ < DEFAULT_LSH_MAX_BUCKET, (
        f"gate corpus grew a band bucket of occupancy {max_occ} >= cap "
        f"{DEFAULT_LSH_MAX_BUCKET}: the deploy-default LSH entries verify "
        "against UNCAPPED oracles and are no longer comparable — parameterize "
        "their oracles with the occupancy filter (see _minhash_lsh_sql(cap=))"
    )
    # the binding gate entry must actually drop something (occupancy-3
    # buckets exist: 28 -> 22 pairs at sf0.001, 25 -> 22 at sf0.01,
    # measured r8)
    assert max_occ > P.LSH_CAP_BINDING
    uncapped = minhash_lsh_dedup(
        docs, num_perm=P.MINHASH_PERMS, bands=P.MINHASH_BANDS,
        est_threshold=P.MINHASH_EST_THRESHOLD, shingle_k=P.SHINGLE_K,
        max_bucket=None,
    ).count()
    capped = minhash_lsh_dedup(
        docs, num_perm=P.MINHASH_PERMS, bands=P.MINHASH_BANDS,
        est_threshold=P.MINHASH_EST_THRESHOLD, shingle_k=P.SHINGLE_K,
        max_bucket=P.LSH_CAP_BINDING,
    ).count()
    assert capped < uncapped


def test_simhash_pairs_collapse_to_cluster_representatives(spark):
    """The documented SimHash DEPLOY composition (SCALE.md): raw
    Hamming<=h pairs are output-bound (a cluster of c docs emits
    c(c-1)/2 pairs), so the deliverable is pairs -> connected components
    -> one representative per cluster, never the pair stream itself.
    Corpus: two near-dup families (0/1/2/3 and the 12 identical
    boilerplate docs) -> the composition must collapse each family to
    ONE kept representative (min doc_id) with output rows == documents,
    not pairs."""
    from pyspark.sql import functions as F

    from flink_streaming_twitter_spark.operators.graph import connected_components

    boiler = [(100 + i, "copyright acme corp all rights reserved terms apply") for i in range(12)]
    docs = spark.createDataFrame(DOCS + boiler, ["doc_id", "text"])
    pairs = simhash_near_pairs(docs, max_hamming=3)
    n_pairs = pairs.count()
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    comp = connected_components(edges, nodes=docs.select(F.col("doc_id").alias("id")))
    out = comp.select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        (F.col("id") == F.col("comp")).cast("int").alias("is_kept"),
    )
    rows = out.collect()
    # output scales with documents, not pairs (the boilerplate family
    # alone contributes C(12,2)=66 pairs but exactly 12 output rows)
    assert len(rows) == len(DOCS) + len(boiler) < n_pairs
    kept = {r.doc_id for r in rows if r.is_kept}
    clusters: dict = {}
    for r in rows:
        clusters.setdefault(r.cluster_id, set()).add(r.doc_id)
    # every cluster keeps exactly its min doc_id
    assert all(min(members) in kept for members in clusters.values())
    assert all(r.cluster_id == min(clusters[r.cluster_id]) for r in rows)
    # the boilerplate family collapsed to one representative (doc 100)
    assert clusters[100] >= set(range(100, 112))
    assert 100 in kept and not (kept & set(range(101, 112)))


def test_char_mode_pairs_cjk_twins_that_word_mode_cannot_see(spark):
    """The char-shingle tier's reason to exist (round 11, VERDICT r10
    item 2): near-identical CJK docs have ZERO word-tier evidence (the
    ASCII ``\\w`` tokenizer matches nothing), so word-mode MinHash can
    never pair them — char-5-gram MinHash must. No-evidence docs
    (empty / whitespace-only / control-only — cleaned text empty) stay
    out of the char tier exactly like the word tier's zero-token
    contract."""
    rows = DOCS + [
        (90, "日本語のテキスト 中文文本"),
        (91, "日本語のテキスト 中文文本也"),  # one appended char: J=0.9
        (92, ""),
        (93, " \t "),
        (94, "\x01\x02"),  # control-only: cleaned text is empty
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    from flink_streaming_twitter_spark.plans.dedup import CHAR_SHINGLE_K

    char_pairs = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_dedup(
            docs, shingle_k=CHAR_SHINGLE_K, shingle_mode="char"
        ).collect()
    }
    assert (90, 91) in char_pairs
    assert (0, 1) in char_pairs  # ASCII exact dups still pair in char mode
    assert not [p for p in char_pairs if {92, 93, 94} & set(p)]

    word_pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_dedup(docs).collect()}
    assert (90, 91) not in word_pairs  # no word evidence exists for CJK


def test_char_mode_nfc_unifies_combining_and_precomposed_accents(spark):
    """Byte-distinct, NFC-identical texts ("cafe" + COMBINING ACUTE vs
    precomposed "café") are invisible to the exact tier but must carry
    IDENTICAL char-shingle sets — est_jaccard 1.0 — because
    char_normalized_text canonicalizes (NFC) before slicing."""
    combining = "café résumé"
    precomposed = "café résumé"
    docs = spark.createDataFrame(
        [(0, combining), (1, precomposed)], ["doc_id", "text"]
    )
    pairs = minhash_lsh_dedup(docs, shingle_k=5, shingle_mode="char").collect()
    assert [(r.doc_a, r.doc_b, r.est_jaccard) for r in pairs] == [(0, 1, 1.0)]


def test_char_mode_short_text_yields_single_whole_string_shingle(spark):
    """Texts shorter than k produce exactly one shingle (the whole
    cleaned string) — the char twin of the word tier's 1..k-1-token
    rule, so short multilingual docs keep near-dup evidence instead of
    falling out of the tier."""
    from flink_streaming_twitter_spark.operators.dedup import doc_shingle_sets

    docs = spark.createDataFrame([(0, "ab"), (1, "  AB  ")], ["doc_id", "text"])
    rows = {r.doc_id: r for r in doc_shingle_sets(docs, k=5, shingle_mode="char").collect()}
    assert rows[0].sz == 1
    # normalization (lower + trim) makes the two singleton sets equal
    assert set(rows[0].shs) == set(rows[1].shs)


def test_doc_shingle_sets_rejects_unknown_mode(spark):
    from flink_streaming_twitter_spark.operators.dedup import doc_shingle_sets

    with pytest.raises(ValueError, match="shingle_mode"):
        doc_shingle_sets(_docs(spark), shingle_mode="byte")


def test_word_prefilter_runs_on_lowered_text_kelvin_sign(spark):
    """ADVICE r10: the word tier's zero-token prefilter must be exactly
    "tokens() is non-empty", and tokens() extracts ``\\w+`` from
    LOWER(text) — U+212A KELVIN SIGN acquires its ASCII word char 'k'
    only under lowercasing. Filtering the RAW text dropped such docs
    from every shingle tier while the DuckDB oracle (len(tk) > 0 over
    lower(text)) kept and paired them. The Kelvin doc must now carry
    the SAME singleton shingle set as a plain ASCII 'k' doc."""
    from flink_streaming_twitter_spark.operators.dedup import doc_shingle_sets

    docs = spark.createDataFrame([(0, "K"), (1, "k")], ["doc_id", "text"])
    rows = {r.doc_id: set(r.shs) for r in doc_shingle_sets(docs).collect()}
    assert set(rows) == {0, 1}, "Kelvin-sign doc must survive the prefilter"
    assert rows[0] == rows[1]


def test_char_normalized_text_equals_corpus_normalize_pass(spark):
    """char_normalized_text (the ASCII-masked NFC, then the shared
    textops.clean_text chain) must equal the corpus normalize pass with
    nfc=True, or char shingles would silently diverge from the text that
    pass emits. Pinned across the edge classes both claim to handle."""
    from pyspark.sql import functions as F

    from flink_streaming_twitter_spark.operators.dedup import char_normalized_text
    from flink_streaming_twitter_spark.operators.textops import normalize_text

    rows = [
        (0, "  Mixed   CASE\t and\n runs  "),
        (1, "café résumé"),          # combining accents -> NFC
        (2, "日本語のテキスト 中文文本"),
        (3, "\x01ctrl\x7fchars\x02 kept?"),
        (4, ""),
        (5, " \t "),
        (6, "\U0001F600 emoji \U0001F680"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    inlined = {
        r.doc_id: r.nt
        for r in docs.select(
            "doc_id", char_normalized_text(F.col("text")).alias("nt")
        ).collect()
    }
    pipeline = {
        r.doc_id: r.norm_text for r in normalize_text(docs, nfc=True).collect()
    }
    assert inlined == pipeline


@pytest.mark.parametrize(
    "corpus_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_char_mode_default_cap_inert_on_gate_corpus(spark, corpus_dir):
    """The char-tier twin of the cap-inertness gate above, separately
    necessary because the word-mode certification does NOT transfer:
    char-gram band signatures collide far more heavily (shared
    vocabulary ⇒ shared grams), and at ×100 the default cap genuinely
    BINDS in char mode (32 oversized buckets, max occupancy 8,208 vs
    cap 1,024; 72.0 M uncapped vs 48.7 M capped pairs — SCALE.md
    round-11 block), which is the designed boilerplate-family behavior
    WITH its accounting ledger. On the GATE corpora, though, the
    char entry verifies against an UNCAPPED oracle, so char occupancy
    must stay under the cap there — this fails with the occupancy
    number if corpus regeneration ever changes that, instead of an
    opaque driver hash mismatch."""
    from flink_streaming_twitter_spark.operators.dedup import (
        DEFAULT_LSH_MAX_BUCKET,
        banded_signatures,
        doc_shingle_sets,
        minhash_signatures,
    )
    from flink_streaming_twitter_spark.plans import params as P
    from flink_streaming_twitter_spark.plans.dedup import CHAR_SHINGLE_K
    from flink_streaming_twitter_spark.sources.files import load_table

    docs = load_table(spark, corpus_dir, "documents")
    sigs = minhash_signatures(
        doc_shingle_sets(docs, k=CHAR_SHINGLE_K, shingle_mode="char"),
        P.MINHASH_PERMS,
    )
    banded = banded_signatures(sigs, P.MINHASH_PERMS, P.MINHASH_BANDS)
    max_occ = banded.groupBy("band", "sig").count().agg({"count": "max"}).collect()[0][0]
    assert max_occ < DEFAULT_LSH_MAX_BUCKET, (
        f"gate corpus grew a CHAR band bucket of occupancy {max_occ} >= cap "
        f"{DEFAULT_LSH_MAX_BUCKET}: dedup_minhash_lsh_char verifies against "
        "an UNCAPPED oracle and is no longer comparable — parameterize its "
        "oracle with the occupancy filter (see _minhash_lsh_sql(cap=))"
    )


def test_md5_split_order_matches_hex_order(spark):
    """Round 15: one_row_per_key's hash-aggregable tie-break relies on
    the (_md5_order_cols prefix, suffix) numeric pair ordering EXACTLY
    like the md5 hex string Spark's min_by / DuckDB's arg_min order by.
    Pin the property over a few thousand digests (fixed-width lowercase
    hex makes lexicographic = unsigned-numeric order; this catches any
    future change to the split arithmetic)."""
    from pyspark.sql import functions as F

    from flink_streaming_twitter_spark.operators.dedup import _md5_order_cols

    df = spark.range(3000).select(F.md5(F.col("id").cast("string")).alias("h"))
    hp, hs = _md5_order_cols(F.col("h"))
    rows = df.select("h", hp.alias("hp"), hs.alias("hs")).collect()
    by_hex = sorted(rows, key=lambda r: r.h)
    by_split = sorted(rows, key=lambda r: (r.hp, r.hs))
    assert [r.h for r in by_hex] == [r.h for r in by_split]
    # the split is lossless: 30 hex digits in the decimal, 2 in the int
    r0 = by_hex[0]
    assert int(r0.hp) == int(r0.h[:30], 16) and r0.hs == int(r0.h[30:], 16)


def test_one_row_per_key_hash_form_matches_min_by_form(spark):
    """Round 15: the two-level (prefix, suffix) HashAggregate + winner
    join-back must reproduce the round-11 min_by(struct, md5) form
    row-for-row on a frame exercising retries, conflicts, NULL+content
    mixes and all-NULL keys — and its plan must carry no SortAggregate
    (the rewrite's whole point; VERDICT r14 item 2)."""
    import random

    from pyspark.sql import functions as F

    from flink_streaming_twitter_spark.operators.dedup import _spread, one_row_per_key

    rng = random.Random(1151)
    rows = []
    for key in range(200):
        for _ in range(rng.randint(1, 5)):
            body = None if rng.random() < 0.15 else f"text {rng.randint(0, 3)} of {key % 40}"
            rows.append((key, body))
    df = _spread(spark.createDataFrame(rows, "doc_id LONG, text STRING"), "doc_id")
    new = one_row_per_key(df, "doc_id", "text")
    old_picked = F.min_by(F.struct(F.col("text")), F.md5(F.col("text")))
    old = df.groupBy("doc_id").agg(old_picked.alias("_w")).select("doc_id", "_w.*")
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))
    plan = new._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan


def test_one_row_per_key_keeps_one_row_for_null_key(spark):
    """A NULL key is a group like any other: one_row_per_key keeps
    exactly one row for it, the min-md5 content, as DuckDB's
    ``arg_min(text, md5(text)) ... GROUP BY doc_id`` does (a plain
    equi-join back to the winner dropped the whole group)."""
    import duckdb
    import pandas as pd

    from flink_streaming_twitter_spark.operators.dedup import _spread, one_row_per_key

    rows = [
        (None, "null key first body"),
        (None, "null key second body"),
        (None, "null key first body"),
        (None, None),
        (1, "alpha body"),
        (1, "beta body"),
        (2, None),
    ]
    df = _spread(spark.createDataFrame(rows, "doc_id LONG, text STRING"), "doc_id")
    got = sorted(map(tuple, one_row_per_key(df, "doc_id", "text").collect()), key=repr)
    con = duckdb.connect()
    frame = pd.DataFrame(rows, columns=["doc_id", "text"]).astype({"doc_id": "Int64"})
    con.register("documents", frame)
    want = con.execute(
        "SELECT doc_id, arg_min(text, md5(text)) FROM documents GROUP BY doc_id"
    ).fetchall()
    assert got == sorted(map(tuple, want), key=repr)
    assert sum(r[0] is None for r in got) == 1


def test_one_row_per_key_full_md5_collision_keeps_one_row(spark, monkeypatch):
    """Under a full 128-bit md5 collision two different contents tie on
    the digest; one_row_per_key must still emit exactly one row per key
    (the per-key minimum content), not one per colliding content. The
    collision is forced by replacing the digest with a constant for the
    duration of the test."""
    from pyspark.sql import functions as F

    from flink_streaming_twitter_spark.operators import dedup

    real_md5 = F.md5
    monkeypatch.setattr(
        dedup.F, "md5", lambda c: F.when(real_md5(c).isNotNull(), F.lit("0" * 32))
    )
    rows = [
        (1, "zulu body"),
        (1, "alpha body"),
        (1, "zulu body"),
        (2, "only body"),
        (3, None),
        (3, "mike body"),
        (None, "yankee body"),
        (None, "bravo body"),
    ]
    df = dedup._spread(spark.createDataFrame(rows, "doc_id LONG, text STRING"), "doc_id")
    got = sorted(map(tuple, dedup.one_row_per_key(df, "doc_id", "text").collect()), key=repr)
    assert got == sorted(
        [(1, "alpha body"), (2, "only body"), (3, "mike body"), (None, "bravo body")], key=repr
    )


def test_char_shingle_hashes_distinct_grams_equivalence(spark):
    """Round 15: hashing the DISTINCT k-grams (then array_distinct at
    the caller) is bit-identical — order included — to the round-11
    hash-every-position form, on repetitive, multilingual and
    shorter-than-k texts."""
    from pyspark.sql import functions as F

    from flink_streaming_twitter_spark.functions.hashing import md5_int31
    from flink_streaming_twitter_spark.operators.dedup import char_shingle_hashes

    texts = [
        "abababababab",            # heavy gram repetition
        "la la la la land",
        "这是一个测试这是一个测试",   # CJK repetition
        "abc",                     # shorter than k -> whole string
        "mississippi mississippi",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "t"])
    k = 5
    n = F.length(F.col("t"))
    positional = F.transform(
        F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1))),
        lambda i: md5_int31(F.col("t").substr(i, F.lit(k))),
    )
    got = df.select(
        F.array_distinct(char_shingle_hashes(F.col("t"), k=k)).alias("new"),
        F.array_distinct(positional).alias("old"),
    ).collect()
    for r in got:
        assert list(r.new) == list(r.old)


def test_char_nfc_ascii_mask_is_exact(spark):
    """Round 15: char_normalized_text ships only non-ASCII rows through
    the Python NFC stage (ASCII rows are masked to NULL at the Arrow
    boundary — NFC is the identity on ASCII). The masked chain must be
    bit-identical to running the corpus normalize pass (nfc=True) on
    every row, across ASCII, precomposed, combining-mark, CJK and
    whitespace-edge texts."""
    from pyspark.sql import functions as F

    from flink_streaming_twitter_spark.operators.dedup import char_normalized_text
    from flink_streaming_twitter_spark.operators.textops import nfc_udf

    texts = [
        "plain ascii text  with   runs",
        "café combining acute",          # NFC-composes
        "café precomposed",
        "Å angstrom sign",                # NFC maps U+212B -> U+00C5
        "这是中文　全角空格",
        "tab\tand\x0bvertical",
        "",
        "   ",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "t"])
    # reference: the unmasked chain — UDF over every row, then the same
    # JVM cleanup (exactly what the function shipped before the mask)
    ref = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(nfc_udf()(F.col("t"))), "\\s+", " "),
            "[\\x00-\\x1f\\x7f]",
            "",
        )
    )
    rows = df.select(
        char_normalized_text(F.col("t")).alias("new"), ref.alias("old")
    ).collect()
    for r in rows:
        assert r.new == r.old
