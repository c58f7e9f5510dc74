"""Property-based tests (hypothesis): operator semantics vs independent
Python models on randomized inputs.

Each property batches the generated case into ONE DataFrame round-trip,
with small max_examples — Spark job latency dominates, so examples are
few but each covers many rows.
"""

from __future__ import annotations

import datetime as _dt
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from flink_streaming_twitter_spark.operators.topk import per_window_top1
from flink_streaming_twitter_spark.operators.windows import sliding_window_counts

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=120),  # ts seconds
        st.sampled_from(["a", "b", "c"]),
    ),
    min_size=1,
    max_size=60,
)


@given(rows=rows_strategy)
@settings(**SETTINGS)
def test_sliding_window_counts_match_python_model(spark, rows):
    size_s, slide_s = 30, 10
    df = spark.createDataFrame(
        [(float(ts), k) for ts, k in rows], ["sec", "key"]
    ).select(F.timestamp_seconds("sec").alias("ts"), "key")
    got = {
        (r.w_start, r.key, r.cnt)
        for r in sliding_window_counts(df, "ts", "key", f"{size_s} seconds", f"{slide_s} seconds").collect()
    }
    # model: event at t belongs to windows starting at slide-aligned s with
    # s in (t-size, t]
    expected: dict[tuple[int, str], int] = {}
    for ts, k in rows:
        first = (math.floor((ts - size_s) / slide_s) + 1) * slide_s
        for s in range(first, ts + 1, slide_s):
            expected[(s, k)] = expected.get((s, k), 0) + 1
    assert got == {(s, k, n) for (s, k), n in expected.items()}


@given(rows=rows_strategy)
@settings(**SETTINGS)
def test_per_window_top1_deterministic_argmax(spark, rows):
    counts: dict[tuple[int, str], int] = {}
    for ts, k in rows:
        counts[(ts % 3, k)] = counts.get((ts % 3, k), 0) + 1
    df = spark.createDataFrame(
        [(g, k, n) for (g, k), n in counts.items()], ["g", "key", "cnt"]
    )
    got = {
        (r.g, r.top_key, r.top_cnt) for r in per_window_top1(df, ["g"], "key").collect()
    }
    expected = set()
    for g in {g for (g, _k) in counts}:
        # documented tie-break: max cnt, ties -> lexicographically greatest key
        best = max(((n, k) for (gg, k), n in counts.items() if gg == g))
        expected.add((g, best[1], best[0]))
    assert got == expected


@given(
    texts=st.lists(
        st.text(alphabet="ab cd", min_size=1, max_size=40), min_size=1, max_size=10
    )
)
@settings(**SETTINGS)
def test_simhash_matches_python_model(spark, texts):
    """SimHash fingerprints equal an independent Python reimplementation
    (md5 bit votes over distinct tokens)."""
    import hashlib
    import re

    from flink_streaming_twitter_spark.operators.dedup import (
        SIMHASH_BITS,
        simhash_fingerprints,
    )

    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    got = {r.doc_id: r.simhash for r in simhash_fingerprints(docs).collect()}

    expected = {}
    for i, t in enumerate(texts):
        toks = set(re.findall(r"\w+", t.lower()))
        votes = [0] * SIMHASH_BITS
        for tok in toks:
            h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
            for j in range(SIMHASH_BITS):
                votes[j] += 1 if (h >> j) & 1 else -1
        expected[i] = sum(1 << j for j in range(SIMHASH_BITS) if votes[j] > 0)
    # docs with zero tokens produce no fingerprint row (explode drops them)
    expected = {i: fp for i, fp in expected.items() if re.findall(r"\w+", texts[i].lower())}
    assert got == expected


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),  # key
            st.integers(min_value=0, max_value=50),  # ts
            st.booleans(),  # left side?
            st.booleans(),  # right row carries a NULL value?
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_asof_join_matches_python_model(spark, rows):
    """Includes null-VALUED observations: a right row with val=NULL is
    matched like any other (the struct carry), distinguishable in the
    model from 'no prior row' only by the tag being present with None —
    both map to None here, so the discriminating cases are ties and a
    null observation SHADOWING an older non-null one, which the
    generator produces freely."""
    from flink_streaming_twitter_spark.operators.asof import asof_join_backward

    left_rows = [(k, float(t), i) for i, (k, t, is_l, _) in enumerate(rows) if is_l]
    right_rows = [
        (k, float(t), None if nul else float(i))
        for i, (k, t, is_l, nul) in enumerate(rows)
        if not is_l
    ]
    if not left_rows:
        return
    left = spark.createDataFrame(left_rows, ["u", "ts", "tag"])
    if right_rows:
        right = spark.createDataFrame(right_rows, "u BIGINT, rts DOUBLE, val DOUBLE")
    else:
        right = spark.createDataFrame([], "u INT, rts DOUBLE, val DOUBLE")
    got = {
        r.tag: r.prior
        for r in asof_join_backward(
            left, right, ["u"], "ts", "rts", "val", out_col="prior"
        ).collect()
    }
    expected = {}
    for k, t, tag in left_rows:
        prior = [(rt, v) for (rk, rt, v) in right_rows if rk == k and rt < t]
        # documented tie-break: latest rts, then greatest val with NULL
        # below all non-NULL values
        expected[tag] = (
            max(prior, key=lambda rv: (rv[0], rv[1] is not None, rv[1] or 0.0))[1]
            if prior
            else None
        )
    assert got == expected


# Unicode-rich text domain (VERDICT r10 item 5): the operator contracts
# claim to handle CJK/emoji/whitespace-only/combining-accent/control
# texts (zero-token word tier, char tier, NFC), so the generated domain
# must contain them — the old "ab cd" alphabet property-tested only the
# ASCII happy path. Excluded on purpose: characters whose LOWERCASING
# differs between Java and Python (U+0130, final sigma) — the engine's
# tokenizer contract is Java lower + ASCII \w, and the model mirrors it
# with str.lower + re.ASCII, which agree on everything generated here.
EDGE_TEXT_ALPHABET = "ab c\t日本語中文😀é́\x01"
edge_texts_strategy = st.lists(
    st.text(alphabet=EDGE_TEXT_ALPHABET, min_size=0, max_size=40),
    min_size=1,
    max_size=12,
)


@given(texts=edge_texts_strategy)
@settings(**SETTINGS)
def test_minhash_matches_python_model(spark, texts):
    """Row-wise MinHash signatures equal an independent Python
    reimplementation (same md5 derivations) for arbitrary text —
    including CJK/emoji/control characters, where the ASCII ``\\w``
    tokenizer (Java regex; model: re.ASCII) sees only the Latin runs
    and the zero-token contract drops fully non-``\\w`` docs."""
    import hashlib

    from flink_streaming_twitter_spark.functions.hashing import (
        MERSENNE_31,
        minhash_params,
    )
    from flink_streaming_twitter_spark.operators.dedup import (
        doc_shingle_sets,
        minhash_signatures,
    )

    import re

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    sets_df = doc_shingle_sets(docs, k=3)
    got = {r.doc_id: list(r.mhs) for r in minhash_signatures(sets_df, 8).collect()}

    params = minhash_params(8)
    expected = {}
    for i, t in enumerate(texts):
        # re.ASCII: Spark's \w is Java regex (ASCII word chars); Python's
        # default \w is Unicode and would tokenize CJK — the model must
        # mirror the engine's contract, not Python's default
        toks = re.findall(r"\w+", t.lower(), flags=re.ASCII)
        if not toks:
            # zero-token contract (round 10): no shingle evidence — the
            # doc is ABSENT from the signature table, not signed as the
            # empty shingle (which made all contentless docs mutual
            # perfect near-dups)
            continue
        n = len(toks)
        shingle_strs = [" ".join(toks[j : j + 3]) for j in range(max(n - 2, 1))]
        hashes = {
            int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % (1 << 31)
            for s in shingle_strs
        }
        expected[i] = [min((a * x + b) % MERSENNE_31 for x in hashes) for a, b in params]
    assert got == expected


@given(texts=edge_texts_strategy)
@settings(**SETTINGS)
def test_char_shingle_sets_match_python_model(spark, texts):
    """The round-11 char tier vs an independent Python model over the
    Unicode-rich domain: NFC (unicodedata — the same library the
    operator's pandas_udf uses, here reimplementing the CHAIN, not
    sharing code) → lower → collapse Java-``\\s`` runs → strip C0/DEL →
    trim spaces → distinct 5-gram md5 hashes; cleaned-empty docs have
    no evidence. This property-tests the raw-text prefilter equivalence
    (CHAR_EVIDENCE_PATTERN ⟺ cleaned text non-empty) on generated
    whitespace/control-only strings, not just the fixture rows."""
    import hashlib
    import re
    import unicodedata

    from flink_streaming_twitter_spark.operators.dedup import doc_shingle_sets

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {
        r.doc_id: set(r.shs)
        for r in doc_shingle_sets(docs, k=5, shingle_mode="char").collect()
    }
    expected = {}
    for i, t in enumerate(texts):
        nt = unicodedata.normalize("NFC", t).lower()
        nt = re.sub(r"[ \t\n\x0b\f\r]+", " ", nt)  # Java \s, not Python's
        nt = re.sub(r"[\x00-\x1f\x7f]", "", nt)
        nt = nt.strip(" ")
        if not nt:
            continue  # no-evidence contract: absent, not empty-signed
        grams = {nt[j : j + 5] for j in range(max(len(nt) - 4, 1))}
        expected[i] = {
            int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % (1 << 31)
            for g in grams
        }
    assert got == expected


@given(
    vals=st.lists(
        st.one_of(
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
            st.sampled_from([float("nan"), float("inf"), float("-inf")]),
            st.none(),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_finite_or_null_aggregates_match_python_model(spark, vals):
    """The non-finite contract (round 10) property-tested instead of
    fixture-tested (VERDICT r10 item 5): over measurements freely
    mixing NULLs, NaN, and ±inf, aggregating finite_or_null(value)
    equals a Python model that aggregates the FINITE subset only —
    counts exact, extremes exact, mean to float tolerance — and
    count(*) keeps every row (nullify, don't filter)."""
    import math

    from pyspark.sql import functions as F

    from flink_streaming_twitter_spark.functions.numeric import finite_or_null

    df = spark.createDataFrame([(v,) for v in vals], "v DOUBLE")
    row = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(finite_or_null(F.col("v"))).alias("n_meas"),
        F.min(finite_or_null(F.col("v"))).alias("mn"),
        F.max(finite_or_null(F.col("v"))).alias("mx"),
        F.avg(finite_or_null(F.col("v"))).alias("mean"),
    ).collect()[0]
    finite = [v for v in vals if v is not None and math.isfinite(v)]
    assert row.n_rows == len(vals)
    assert row.n_meas == len(finite)
    if not finite:
        assert row.mn is None and row.mx is None and row.mean is None
    else:
        assert row.mn == min(finite) and row.mx == max(finite)
        assert math.isclose(
            row.mean, sum(finite) / len(finite), rel_tol=1e-9, abs_tol=1e-6
        )


split_weights_strategy = st.lists(
    st.floats(min_value=0.05, max_value=1.0, allow_nan=False), min_size=2, max_size=5
)


@given(raw=split_weights_strategy, keys=st.lists(st.integers(0, 10_000), min_size=1, max_size=80))
@settings(**SETTINGS)
def test_hash_split_matches_python_model(spark, raw, keys):
    """hash_split's label for every key equals an independent Python
    recomputation of the cumulative md5-bucket thresholds — totality,
    determinism, and threshold arithmetic all at once."""
    import hashlib

    from flink_streaming_twitter_spark.operators.sampling import hash_split

    total = sum(raw)
    weights = [w / total for w in raw]
    # absorb float residue into the last weight exactly as callers would
    weights[-1] = 1.0 - sum(weights[:-1])
    splits = [(f"s{i}", w) for i, w in enumerate(weights)]
    n_buckets = 10_000

    def model(k: int) -> str:
        b = int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16) % n_buckets
        cum = 0.0
        for label, w in splits:
            cum += w
            if b < int(round(cum * n_buckets)):
                return label
        return splits[-1][0]

    df = spark.createDataFrame([(k,) for k in set(keys)], ["id"])
    got = {r.id: r.split for r in hash_split(df, "id", splits, n_buckets).collect()}
    assert got == {k: model(k) for k in set(keys)}


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["x", "y", "z"]), st.integers(0, 50), st.integers(0, 9)),
        min_size=1,
        max_size=80,
    ),
    k=st.integers(min_value=1, max_value=4),
)
@settings(**SETTINGS)
def test_cap_per_key_matches_python_model(spark, rows, k):
    """cap_per_key survivors equal an independent sort-and-slice model
    (duplicate (domain, order) ties resolved by the id tiebreak)."""
    from flink_streaming_twitter_spark.operators.sampling import cap_per_key

    uniq = [(dom, i, val) for i, (dom, _, val) in enumerate(rows)]
    df = spark.createDataFrame(uniq, ["dom", "id", "val"])
    got = sorted(
        (r.dom, r.id)
        for r in cap_per_key(
            df, ["dom"], [F.col("val").desc(), F.col("id").asc()], k
        ).collect()
    )
    expect = []
    for dom in {d for d, _, _ in uniq}:
        members = sorted(
            ((v, i) for d, i, v in uniq if d == dom), key=lambda t: (-t[0], t[1])
        )
        expect.extend((dom, i) for _, i in members[:k])
    assert got == sorted(expect)


@given(
    texts=st.lists(
        st.text(alphabet="ab cd", min_size=0, max_size=50), min_size=2, max_size=10
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.8]),
)
@settings(**SETTINGS)
def test_ngram_jaccard_prefix_filter_is_lossless(spark, texts, threshold):
    """The PPJoin prefix + length filters are LOSSLESS: ngram_jaccard_pairs
    emits exactly the pairs whose true shingle-set Jaccard >= threshold
    (brute force over the operator's own doc_shingle_sets output — this
    pins the candidate-generation logic, the most intricate filter in the
    dedup family, independently of the hashing already modeled above)."""
    from flink_streaming_twitter_spark.operators.dedup import (
        doc_shingle_sets,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    sets = {r.doc_id: set(r.shs) for r in doc_shingle_sets(docs, k=3).collect()}
    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, threshold=threshold, shingle_k=3).collect()
    }
    expected = set()
    ids = sorted(sets)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            inter = len(sets[a] & sets[b])
            jac = inter / (len(sets[a]) + len(sets[b]) - inter)
            if jac >= threshold:
                expected.add((a, b, jac))
    assert got == expected


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)), min_size=1, max_size=40
    )
)
@settings(**SETTINGS)
def test_connected_components_match_union_find(spark, edges):
    """Plain iterative CC labels equal an independent union-find model
    (comp = min reachable id) on random graphs — absolute correctness,
    complementing test_graph's star==plain mutual-consistency check."""
    from flink_streaming_twitter_spark.operators.graph import connected_components

    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {(r.id, r.comp) for r in connected_components(df).collect()}

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        parent[find(s)] = find(d)
    comps: dict[int, list[int]] = {}
    for n in list(parent):
        comps.setdefault(find(n), []).append(n)
    expected = {(n, min(ms)) for ms in comps.values() for n in ms}
    assert got == expected


@given(
    rows=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 100)), min_size=1, max_size=60
    )
)
@settings(**SETTINGS)
def test_sessionize_matches_gap_merge_model(spark, rows):
    """sessionize (native session_window) equals a Python gap-merge model,
    including the boundary semantic: an event exactly gap seconds after
    the previous one still MERGES (Spark merges sessions whose intervals
    touch — [0,10] and [10,20] coalesce; only t - prev > gap splits)."""
    from flink_streaming_twitter_spark.operators.sessions import sessionize

    gap_s = 10
    df = spark.createDataFrame(
        [(u, float(t)) for u, t in rows], ["user_id", "sec"]
    ).select("user_id", F.timestamp_seconds("sec").alias("ts"))
    got = {
        (r.user_id, r.session_start, r.session_last, r.n_events)
        for r in sessionize(df, "ts", "user_id", f"{gap_s} seconds").collect()
    }
    expected = set()
    byu: dict[int, list[int]] = {}
    for u, t in rows:
        byu.setdefault(u, []).append(t)
    for u, ts in byu.items():
        ts.sort()
        start = prev = ts[0]
        n = 1
        for t in ts[1:]:
            if t - prev <= gap_s:
                prev = t
                n += 1
            else:
                expected.add((u, start, prev, n))
                start = prev = t
                n = 1
        expected.add((u, start, prev, n))
    assert got == expected


def test_sessionize_oracle_sql_agrees_at_exact_gap_boundary(spark):
    """Deterministic companion to the gap-merge property: the DuckDB
    oracle (EVENTS_SESSIONIZE_SQL) and the Spark operator agree on a
    fixture whose deltas hit EXACTLY the gap — the boundary the sf event
    data can never exercise (fractional-second timestamps, whole-second
    gap). Pins the oracle's strictly-greater split condition against
    Spark's touching-intervals merge; a >= split would fail here."""
    import datetime as dt

    import duckdb
    import pandas as pd

    from flink_streaming_twitter_spark.operators.sessions import sessionize
    from flink_streaming_twitter_spark.plans.misc import (
        EVENTS_SESSIONIZE_SQL,
        SESSION_GAP_S,
    )

    base = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    offsets = [
        (1, 0),
        (1, SESSION_GAP_S),          # exactly gap after -> MERGES
        (1, 2 * SESSION_GAP_S + 1),  # gap+1 after the previous -> splits
        (2, 0),
        (2, SESSION_GAP_S - 1),      # inside the gap -> merges
        (2, 3 * SESSION_GAP_S),      # far after -> splits
    ]
    rows = [(u, base + dt.timedelta(seconds=s)) for u, s in offsets]

    df = spark.createDataFrame(rows, ["user_id", "ts"])
    got = {
        (r.user_id, r.session_start, r.session_last, r.n_events)
        for r in sessionize(df, "ts", "user_id", f"{SESSION_GAP_S} seconds").collect()
    }

    con = duckdb.connect()
    con.register(
        "events",
        pd.DataFrame({"user_id": [u for u, _ in rows], "ts": [t for _, t in rows]}),
    )
    expected = {
        (r[0], r[1], r[2], r[3]) for r in con.execute(EVENTS_SESSIONIZE_SQL).fetchall()
    }
    con.close()

    base_e = int(base.timestamp())
    assert got == expected
    # and the semantics are the intended ones, not merely mutually wrong:
    # user 1's first session spans [0, gap] (the touching event merged)
    assert (1, base_e, base_e + SESSION_GAP_S, 2) in got


@given(
    texts=st.lists(
        st.text(alphabet="ab cd", min_size=0, max_size=50), min_size=2, max_size=10
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.8]),
)
@settings(**SETTINGS)
def test_lsh_verified_jaccard_is_exact_subset_of_all_pairs(spark, texts, threshold):
    """The two-tier deploy path (lsh_verified_jaccard) has EXACT
    precision: every emitted pair appears in the exact all-pairs join
    with the identical Jaccard score (recall is probabilistic — bounded
    by the band-miss formula — but a pair it does emit must never be
    wrong, and a pair outside the exact result set would be a
    verification bug)."""
    from flink_streaming_twitter_spark.operators.dedup import (
        lsh_verified_jaccard,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=threshold, shingle_k=3).collect()
    }
    tiered = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in lsh_verified_jaccard(
            docs, num_perm=16, bands=4, threshold=threshold, shingle_k=3
        ).collect()
    }
    assert set(tiered) <= set(exact)
    for pair, jac in tiered.items():
        assert jac == exact[pair]


@given(
    texts=st.lists(
        st.text(alphabet="ab cd", min_size=0, max_size=40), min_size=2, max_size=10
    )
)
@settings(**SETTINGS)
def test_lsh_candidate_pairs_match_banding_model(spark, texts):
    """lsh_candidate_pairs emits exactly the pairs whose MinHash
    signatures agree on ALL rows of at least one band (Python banding
    model over the operator's own signatures) — pins the band/sig
    construction and self-join conditions; the concat_ws('_') band key
    is unambiguous for integer hashes, so string buckets equal tuple
    buckets."""
    from flink_streaming_twitter_spark.operators.dedup import (
        doc_shingle_sets,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    num_perm, bands = 16, 4
    rows = num_perm // bands
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    sigs_df = minhash_signatures(doc_shingle_sets(docs, k=3), num_perm)
    sigs = {r.doc_id: list(r.mhs) for r in sigs_df.collect()}
    got = {
        (r.doc_a, r.doc_b) for r in lsh_candidate_pairs(sigs_df, num_perm, bands).collect()
    }
    expected = set()
    ids = sorted(sigs)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            if any(
                sigs[a][band * rows : (band + 1) * rows]
                == sigs[b][band * rows : (band + 1) * rows]
                for band in range(bands)
            ):
                expected.add((a, b))
    assert got == expected


@given(
    texts=st.lists(
        st.text(alphabet="ab cd", min_size=0, max_size=40), min_size=2, max_size=10
    )
)
@settings(**SETTINGS)
def test_simhash_near_pairs_are_pigeonhole_complete(spark, texts):
    """simhash_near_pairs equals brute force over the operator's own
    fingerprints: with 4 bands and max_hamming=3, the pigeonhole
    guarantees every true pair shares a clean band (completeness), and
    the exact xor/bit_count verify guarantees nothing else survives
    (exactness) — so band blocking must be invisible in the result."""
    from flink_streaming_twitter_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_near_pairs,
    )

    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    fps = {r.doc_id: r.simhash for r in simhash_fingerprints(docs).collect()}
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_near_pairs(docs, max_hamming=3).collect()
    }
    expected = set()
    ids = sorted(fps)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            ham = bin(fps[a] ^ fps[b]).count("1")
            if ham <= 3:
                expected.add((a, b, ham))
    assert got == expected


@given(
    ivs=st.lists(
        st.tuples(st.integers(0, 200), st.integers(0, 200)), min_size=1, max_size=15
    ),
    probes=st.lists(st.integers(0, 220), min_size=1, max_size=30),
    w=st.sampled_from([7, 60]),
)
@settings(**SETTINGS)
def test_range_join_matches_brute_force_model(spark, ivs, probes, w):
    """Bucketed range join equals the brute-force point-in-interval model
    on random integer-second data — start inclusive, end exclusive,
    zero-length intervals empty — including a bucket width (7 s) that
    divides nothing, so interval endpoints and probes land on and around
    truncated-bucket edges in every configuration."""
    import datetime as dt

    from flink_streaming_twitter_spark.operators.rangejoin import range_join

    base = dt.datetime(2024, 1, 1)

    def t(s: int) -> dt.datetime:
        return base + dt.timedelta(seconds=s)

    iv_rows = [(i, t(min(a, b)), t(max(a, b))) for i, (a, b) in enumerate(ivs)]
    pr_rows = [(100 + i, t(s)) for i, s in enumerate(probes)]
    iv = spark.createDataFrame(iv_rows, "iv_id long, s timestamp, e timestamp")
    pr = spark.createDataFrame(pr_rows, "p_id long, ts timestamp")
    got = {(r.p_id, r.iv_id) for r in range_join(pr, iv, "ts", "s", "e", w).collect()}
    expected = {
        (pid, iid)
        for pid, ts in pr_rows
        for iid, s, e in iv_rows
        if s <= ts < e
    }
    assert got == expected


@given(
    texts=st.lists(
        st.sampled_from(
            [
                "alpha beta gamma delta epsilon zeta",
                "alpha beta gamma delta epsilon eta",
                "one two three four five six seven",
                "totally different words here now",
            ]
        ),
        min_size=4,
        max_size=24,
    ),
    cap=st.integers(min_value=1, max_value=6),
)
@settings(**SETTINGS)
def test_bucket_cap_characterization_matches_python_model(spark, texts, cap):
    """Randomized form of the cap pin: for ANY corpus and ANY cap, the
    capped candidate set equals exactly the pairs that share at least
    one band bucket of occupancy <= cap — computed here from the banded
    table itself, independently of the cap's join logic.
    Repeated texts make oversized buckets (identical docs share every
    band), so small caps genuinely bind on most generated cases."""
    import itertools

    from flink_streaming_twitter_spark.operators.dedup import (
        _bucket_self_join,
        banded_signatures,
        doc_shingle_sets,
        minhash_signatures,
    )

    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    sigs = minhash_signatures(doc_shingle_sets(docs, k=3), 16).persist()
    banded = banded_signatures(sigs, 16, 4)

    buckets: dict = {}
    for r in banded.collect():
        buckets.setdefault((r.band, r.sig), []).append(r.doc_id)
    expected = {
        pair
        for members in buckets.values()
        if len(members) <= cap
        for pair in itertools.combinations(sorted(members), 2)
    }
    joined, _ = _bucket_self_join(banded, ["band", "sig"], cap)
    capped = {
        (r.a, r.b)
        for r in joined.select(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .distinct()
        .collect()
    }
    sigs.unpersist()
    assert capped == expected


# ---------------------------------------------------------------- sink wire format

# Identifiers (measurement, tag/field keys, tag values) exclude literal
# backslash and double-quote: line protocol has NO escape for a
# backslash, so an ident ending in `\` makes the following escaped
# delimiter ambiguous (`foo\` + `,` serializes as `foo\,` = escaped
# comma) — the protocol simply cannot represent them, and the
# reference's influxdb-java client has the identical limitation. String
# FIELD values keep both characters: they are quoted and escaped, which
# IS unambiguous, and the property verifies it.
_ident = st.text(
    alphabet=st.characters(
        min_codepoint=32, max_codepoint=126, exclude_characters='\\"'
    ),
    min_size=1,
    max_size=12,
)
_field_val = st.one_of(
    st.integers(min_value=-(2**62), max_value=2**62),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.booleans(),
    st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=20),
)
# the wire-facing domain additionally carries the UNRENDERABLE values the
# serializer must drop (line protocol has no null, InfluxDB no NaN/inf —
# ADVICE r8: the old property excluded these, so nothing pinned the drop)
_field_val_wire = st.one_of(
    _field_val,
    st.none(),
    st.sampled_from([float("nan"), float("inf"), float("-inf")]),
)


def _parse_influx_line(line: str):
    """Minimal line-protocol parser (escape-aware) for the round-trip
    property: measurement[,tag=v...] field=v[,field=v...] ts."""
    out_meas, out_tags, out_fields = "", {}, {}
    i, buf, parts = 0, [], []
    # split top-level on unescaped spaces -> [ident+tags, fields, ts]
    while i < len(line):
        c = line[i]
        if c == "\\" and i + 1 < len(line):
            buf.append(line[i : i + 2]); i += 2; continue
        if c == '"':  # quoted string: consume to closing quote
            buf.append(c); i += 1
            while i < len(line):
                if line[i] == "\\" and i + 1 < len(line):
                    buf.append(line[i : i + 2]); i += 2; continue
                buf.append(line[i])
                if line[i] == '"':
                    i += 1; break
                i += 1
            continue
        if c == " ":
            parts.append("".join(buf)); buf = []; i += 1; continue
        buf.append(c); i += 1
    parts.append("".join(buf))
    assert len(parts) == 3, parts

    def _unesc(s: str) -> str:
        return s.replace(r"\,", ",").replace(r"\ ", " ").replace(r"\=", "=")

    def _split(s: str, sep: str) -> list:
        segs, cur, j = [], [], 0
        while j < len(s):
            if s[j] == "\\" and j + 1 < len(s):
                cur.append(s[j : j + 2]); j += 2; continue
            if s[j] == '"':
                cur.append(s[j]); j += 1
                while j < len(s):
                    if s[j] == "\\" and j + 1 < len(s):
                        cur.append(s[j : j + 2]); j += 2; continue
                    cur.append(s[j])
                    if s[j] == '"':
                        j += 1; break
                    j += 1
                continue
            if s[j] == sep:
                segs.append("".join(cur)); cur = []; j += 1; continue
            cur.append(s[j]); j += 1
        segs.append("".join(cur))
        return segs

    head = _split(parts[0], ",")
    out_meas = _unesc(head[0])
    for kv in head[1:]:
        k, v = _split(kv, "=")
        out_tags[_unesc(k)] = _unesc(v)
    for kv in _split(parts[1], ","):
        k, v = _split(kv, "=")
        k = _unesc(k)
        if v in ("true", "false"):
            out_fields[k] = v == "true"
        elif v.endswith("i"):
            out_fields[k] = int(v[:-1])
        elif v.startswith('"'):
            out_fields[k] = v[1:-1].replace('\\"', '"').replace("\\\\", "\\")
        else:
            out_fields[k] = float(v)
    return out_meas, out_tags, out_fields, int(parts[2])


@settings(max_examples=150, deadline=None)
@given(
    measurement=_ident,
    tags=st.dictionaries(_ident, _ident, max_size=3),
    fields=st.dictionaries(_ident, _field_val_wire, min_size=1, max_size=4),
    ts=st.integers(min_value=0, max_value=2**62),
)
def test_influx_line_round_trips_through_line_protocol(measurement, tags, fields, ts):
    """Serialization property for the sink wire format: any point made of
    printable-ASCII idents and int/float/bool/str field values must parse
    back EXACTLY from the emitted line — measurement/tag escaping
    (comma/space/equals), integer `i` suffixes, bool literals, and string
    quoting with backslash/quote escapes are each round-trip-verified
    rather than example-pinned. (Floats compare via repr round-trip,
    which Python guarantees exact.) None and non-finite floats are in
    the input domain but NOT on the wire: the serializer drops those
    fields (never emits a bare nan/inf token that would 400 the batch),
    and raises if nothing renderable remains."""
    import math

    import pytest

    from flink_streaming_twitter_spark.streaming.sinks import influx_line

    renderable = {
        k: v
        for k, v in fields.items()
        if v is not None and not (isinstance(v, float) and not math.isfinite(v))
    }
    if not renderable:
        with pytest.raises(ValueError, match="no renderable"):
            influx_line(measurement, tags, fields, ts)
        return
    line = influx_line(measurement, tags, fields, ts)
    m, t, f, ts2 = _parse_influx_line(line)
    assert m == measurement
    assert t == {k: str(v) for k, v in tags.items()}
    assert ts2 == ts
    assert set(f) == set(renderable)
    for k, v in renderable.items():
        if isinstance(v, float) and not isinstance(v, bool):
            assert f[k] == float(repr(v))
        else:
            assert f[k] == v


@given(
    vals=st.lists(
        st.one_of(
            st.floats(width=64, allow_nan=True, allow_infinity=True, allow_subnormal=True),
            st.sampled_from([1e300, -1e300, 1e12, -1e12, 9.999999e11, 5e-324]),
            st.none(),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_sane_measurement_matches_python_model(spark, vals):
    """The round-11 magnitude bound property-tested over the FULL double
    domain (subnormals, NaN, ±inf, NULLs, the exact 1e12 boundary):
    sane_measurement(v) is v iff finite AND |v| < bound, else NULL —
    per-row equality against the Python model, strict at the boundary
    (|v| == bound quarantines; one ulp below survives)."""
    from flink_streaming_twitter_spark.functions.sanity import (
        MEASUREMENT_MAGNITUDE_BOUND,
        sane_measurement,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i INT, v DOUBLE"
    )
    got = {
        r.i: r.s
        for r in df.select("i", sane_measurement(F.col("v")).alias("s")).collect()
    }
    expected = {
        i: (
            v
            if v is not None
            and math.isfinite(v)
            and abs(v) < MEASUREMENT_MAGNITUDE_BOUND
            else None
        )
        for i, v in enumerate(vals)
    }
    assert got == expected


@given(
    tss=st.lists(
        st.one_of(
            st.datetimes(
                min_value=_dt.datetime(1800, 1, 1),
                max_value=_dt.datetime(9999, 12, 30),
            ),
            st.none(),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_sane_event_time_matches_python_model(spark, tss):
    """The round-11 event-time bound property-tested across the full
    representable range (pre-epoch clock garbage through year-9999
    watermark poison, NULLs): sane_event_time(ts) is ts iff
    lo <= ts < hi, else NULL — per-row, half-open at the fixed bounds
    (epoch itself survives; 2100-01-01 exactly quarantines)."""
    import datetime as dt

    from flink_streaming_twitter_spark.functions.sanity import (
        EVENT_TIME_HI,
        EVENT_TIME_LO,
        sane_event_time,
    )

    lo = dt.datetime.fromisoformat(EVENT_TIME_LO)
    hi = dt.datetime.fromisoformat(EVENT_TIME_HI)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(tss)], "i INT, ts TIMESTAMP"
    )
    got = {
        r.i: r.s
        for r in df.select("i", sane_event_time(F.col("ts")).alias("s")).collect()
    }
    expected = {
        i: (t if t is not None and lo <= t < hi else None) for i, t in enumerate(tss)
    }
    assert got == expected
