"""Deduplication operators for training-data pipelines.

Four tiers, all pure DataFrame compositions (the single exception: the
char-shingle mode's Unicode NFC step reuses textops' Arrow-batched
pandas_udf — Spark has no built-in NFC — on its non-ASCII rows only;
every hash/shingle/join is JVM-side Column code):

- exact: hash-groupBy on normalized text — one shuffle of (hash, id).
- MinHash + LSH banding: near-dup candidate generation whose cost is the
  number of *colliding band buckets*, not n² — the standard web-scale
  near-dup design (Broder; see PAPERS.md). Signatures are 16 universal
  hashes over 3-word shingles; 4 bands × 4 rows ⇒ pairs with Jaccard ≥
  ~0.5 collide in some band with high probability. ``shingle_mode=
  "char"`` switches the evidence base to character k-grams over the
  canonical normalized text (CCNet/Gopher-style) — the tier that gives
  non-``\\w`` scripts (CJK, emoji) near-dup evidence the ASCII word
  tokenizer cannot (VERDICT r10 item 2).
- n-gram Jaccard: EXACT all-pairs similarity join via prefix filtering
  (rarest-first shingle prefixes, AllPairs/PPJoin) + length filtering —
  lossless candidate pruning whose index join cost tracks near-dup
  density, not boilerplate shingle frequency, which is what blows up a
  naive inverted-index join at 100 TB.
- SimHash: 60-bit fingerprints (md5-derived bit votes), banded 4×15 bits
  so any pair within Hamming distance 3 shares ≥1 band (pigeonhole);
  exact Hamming check via xor+bit_count on candidates only.

Every hash is md5-derived (functions/hashing.py) so the DuckDB oracle can
reproduce results bit-for-bit.

Each shared step has one definition: the band-bucket self-join of the
MinHash-LSH and SimHash tiers (_bucket_self_join), the bucket-occupancy
aggregate behind both the cap and its loss ledger (oversized_buckets),
the exact-Jaccard verifier of the two exact tiers (_verified_jaccard),
and the text cleanup chain of the char tier (textops.clean_text, the
corpus normalize pass's own chain).

Caching contract: the candidate-generation paths ``persist()`` their
shared self-join inputs (shingle sets, banded signatures, the PPJoin
prefix, SimHash fingerprints) — ``ngram_jaccard_pairs`` also the
exploded ``(doc_id, sz, sh)`` frame, about one row per shingle, that its
document-frequency and prefix subtrees share — and deliberately do NOT
unpersist them —
the returned DataFrames are lazy and still reference the cached plans.
A caller that invokes these operators repeatedly in one long-lived
session must drop the accumulated blocks between invocations
(``spark.catalog.clearCache()``, as bench.py and the oracle harness
do) or accept growing storage-memory pressure.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_int60, minhash_set_exprs
from ..functions.text import tokens, word_shingle_hashes

SIMHASH_BITS = 60
SIMHASH_BAND_BITS = 15

# Default cap on MinHash-LSH band-bucket occupancy (_bucket_self_join).
# Measured occupancy on the gate corpora is tiny — max 4 docs/bucket at
# sf0.1, 3 at sf0.01 (19k/1.9k buckets; see SCALE.md) — so 1024 is ~250×
# headroom above any genuine near-dup bucket while bounding the worst
# boilerplate bucket's contribution to ~520k candidate pairs instead of
# quadratic blowup. Docs dropped this way are site chrome / license
# boilerplate and belong to the exact-dedup track (they are near-identical
# by construction). SimHash is uncapped: its 15-bit band keys make heavy
# occupancy structural (sf0.1 max 1582), and its per-candidate verify is
# a single xor+bit_count, not a set intersection — capping there would
# silently lose true Hamming<=3 pairs.
DEFAULT_LSH_MAX_BUCKET = 1024


def _spread(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-repartition with an EXPLICIT partition count (defaultParallelism)
    so AQE cannot coalesce it away. Used before row-amplifying explodes:
    AQE sizes shuffles on their *input* bytes, and a pre-explode shuffle is
    small by construction — letting AQE coalesce it re-serializes the whole
    amplified tokenize+hash pipeline onto a handful of tasks (measured 2.3x
    slower at sf0.1, where the one-file parquet scan otherwise pins
    everything to a single task)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *[F.col(c) for c in cols])


def normalized_text_key(text: F.Column) -> F.Column:
    """Exact-dup grouping key: md5 of lowercased, trimmed,
    whitespace-collapsed text."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


def _md5_order_cols(hex_digest: F.Column) -> tuple[F.Column, F.Column]:
    """Split a 32-char lowercase-hex md5 into hash-aggregable numerics
    whose (prefix, suffix) numeric order equals the hex string's
    lexicographic (= unsigned 128-bit) order: the first 30 hex digits as
    a 120-bit DECIMAL(38,0) — assembled from two 60-bit conv() chunks,
    exact because 2^120 < 10^37 — and the last 2 hex digits as an INT.
    Pinned by test_md5_split_order_matches_hex_order."""
    prefix = (
        F.conv(F.substring(hex_digest, 1, 15), 16, 10).cast("decimal(20,0)")
        * F.lit(1 << 60)
        + F.conv(F.substring(hex_digest, 16, 15), 16, 10).cast("decimal(20,0)")
    )
    suffix = F.conv(F.substring(hex_digest, 31, 2), 16, 10).cast("int")
    return prefix, suffix


def one_row_per_key(df: DataFrame, key_col: str, content_col: str) -> DataFrame:
    """Deterministic duplicate-KEY resolution (round 11, caught by the
    duplicate-key corpus audit): one surviving row per key, winner =
    min md5(content).

    At-least-once ingestion re-delivers rows with the same primary key
    — usually byte-identical retries, occasionally a conflicting
    upstream rewrite — and the key-evidence operators were not
    idempotent under them: per-ROW shingle evidence emitted duplicate
    near-dup pairs and inflated LSH bucket occupancy past binding caps,
    while the DuckDB oracles' ``SELECT DISTINCT doc_id, sh`` silently
    UNIONED conflicting texts' shingles into a chimera document —
    two different accidents, diverging (7 entries) the moment a corpus
    carried a duplicate id. This helper makes key identity explicit:
    a retry collapses to a no-op, and a content conflict resolves to
    the content-hash-minimal observation — deterministic, engine-
    portable (the DuckDB twin is ``arg_min(content, md5(content)) ...
    GROUP BY key``; both engines skip NULL-content observations in the
    arg-min, so a key with any real content never resolves to NULL,
    and an all-NULL key keeps one NULL row for the established
    NULL-content tracks).

    HASH-AGGREGABLE FORM (round 15, VERDICT r14 item 2). min_by over a
    struct-of-strings buffer is not hash-aggregable (HashAggregateExec
    needs mutable fixed-width buffer fields), so the round-11 form
    compiled to Sort + SortAggregate on every tier's ingest — the only
    sort in the whole dedup family. The md5 tie-break is kept EXACTLY
    while making every aggregate buffer numeric, by splitting the
    128-bit digest into (``_hp``: the first 30 hex digits as a 120-bit
    DECIMAL(38,0), ``_hs``: the last 2 hex digits as an INT) —
    md5's fixed-width lowercase-hex output makes its string ordering
    identical to the numeric order of (_hp, _hs), the property
    ``test_md5_split_order_matches_hex_order`` pins:

    1. per (key, _hp): ``min(_hs)`` — int buffer, HashAggregate;
    2. per key: ``min(_hp)`` + ``min_by(_ms, _hp)`` — decimal/int
       buffers, HashAggregate; _hp is DISTINCT per key after step 1, so
       min_by's tie behavior is never exercised and the pair is exactly
       the lexicographic minimum (min_hp, min _hs among min-_hp rows)
       = the minimal full md5, 120-bit-prefix collisions included;
    3. semi-join the rows to their (key, min) pair with null-safe
       equality on all three columns — on the key so a NULL key keeps
       one row, as the DuckDB ``arg_min ... GROUP BY`` does; on the
       digest so an all-NULL-content key keeps its one NULL row and a
       mixed key drops the NULLs (the arg_min contract above) — and
       reduce the survivors to one row per key with the per-key
       minimum content. Retry copies of the winner collapse there, and
       so do two DIFFERENT contents under a full 128-bit md5 collision
       (where the oracle's arg_min tie-break is undefined): exactly one
       row per key either way. The minimum is
       ``array_min(collect_set(...))``, an ObjectHashAggregate: ``min``
       over a string buffer is not hash-aggregable and would plan a
       SortAggregate. Past 128 keys per task the ObjectHashAggregate
       sorts at run time all the same (measured on 4 vCPU: 300k keys
       took 4.8 s against 3.6 s for the grouping-only distinct it
       replaces, which could emit two rows per key). The join is a
       SEMI join because a null-safe key hides the winner side's
       one-row-per-key uniqueness from Catalyst's size estimate: an
       inner join is then estimated as a cross product, which turns
       broadcast joins downstream into sort-merge joins with their own
       exchanges.

    Both aggregates and the join ride one hash partitioning on the key
    (after the callers' _spread nothing re-exchanges: partitioning by a
    subset of the grouping/join keys satisfies ClusteredDistribution),
    and the winner side is one narrow row per key — broadcast at bench
    scale, a shuffled-hash build at 100 TB (the no-sort join is why
    ``spark.sql.join.preferSortMergeJoin=false`` is the deploy conf,
    session.py). The md5 is computed in two consumers of the exchange
    (the aggregate arm and the join arm) instead of once before a sort
    — the round-15 A/B (tools/ab_one_row_per_key.py @ b13460d) measured the
    trade on every call-site shape before shipping.

    Callers pass TWO-column frames (key, content) — the tie-break is
    md5(content) alone, so rows with equal content but differing extra
    columns would resolve nondeterministically between those extras.
    Keep any additional columns out of the frame (join them back on the
    key afterwards): the result carries only (key, content).

    Applied at every KEY-evidence ingest point: the shingle tiers
    (doc_shingle_sets), SimHash (simhash_fingerprints — before it, a
    conflict vote-merged two texts into a chimera fingerprint, with
    Spark counting a shared token twice where the oracle's DISTINCT
    counted it once), and the media decode path. Deliberately NOT
    applied to the exact tier (dup_cnt counts content OBSERVATIONS —
    both engines agree per-row by construction) or to row-level
    fact aggregates; see SCALE.md's duplicate-key note for the scope.
    """
    # project the digest once per consumer (the md5 is referenced by
    # three substrings — CollapseProject keeps the non-cheap alias in
    # its own Project instead of inlining it three times)
    hp, hs = _md5_order_cols(F.col("_h"))
    hashed = df.select(key_col, content_col, F.md5(F.col(content_col)).alias("_h")).select(
        key_col, content_col, hp.alias("_hp"), hs.alias("_hs")
    )
    per_prefix = hashed.groupBy(key_col, "_hp").agg(F.min("_hs").alias("_ms"))
    winner = per_prefix.groupBy(key_col).agg(
        F.min("_hp").alias("_mp"), F.min_by("_ms", "_hp").alias("_msw")
    ).withColumnRenamed(key_col, "_wk")
    return (
        hashed.join(
            winner,
            F.col(key_col).eqNullSafe(F.col("_wk"))
            & F.col("_hp").eqNullSafe(F.col("_mp"))
            & F.col("_hs").eqNullSafe(F.col("_msw")),
            "left_semi",
        )
        .groupBy(key_col)
        .agg(F.array_min(F.collect_set(content_col)).alias(content_col))
    )


# "cleaned text is non-empty", decidable on the RAW text: a character
# survives the char_normalized_text chain iff it is neither whitespace
# (collapsed then trimmed) nor a C0/DEL control (stripped) — NFC never
# maps a non-whitespace/non-control character into that set. Filtering
# on the raw column keeps the predicate out of the normalize chain, so
# Catalyst's pushdown cannot re-evaluate the (Python-stage) NFC UDF
# twice per row — the same double-eval trap the word tier measured 2×
# on ``size(shs) > 0`` (see doc_shingle_sets).
CHAR_EVIDENCE_PATTERN = r"[^\s\x00-\x1f\x7f]"


def char_normalized_text(text: F.Column) -> F.Column:
    """The char tier's text: Unicode NFC, then the corpus cleanup chain
    (operators/textops.clean_text — the chain normalize_text applies),
    so char shingles are computed over exactly the text the NFC normalize
    pass (``normalize_text(nfc=True)``, the q_text_normalize_nfc entry)
    emits.

    ASCII mask (round 15, guide §4 "pass only the columns the function
    needs" taken down to the BYTES the function needs): NFC is the
    identity on pure-ASCII text (every ASCII code point is NFC_QC=Yes
    with no combining behavior), and ``octet_length = length`` decides
    pure-ASCII exactly under UTF-8 — so ASCII rows cross the JVM→Python
    boundary as NULLs (a validity bit each, no string bytes) and the
    Python stage normalizes only genuinely non-ASCII rows. Measured
    honestly: at sf0.1 this is NEUTRAL — the tier's ~1 s NFC-stage cost
    is dominated by the fixed ArrowEvalPython round-trip (which the
    mask cannot remove; the plan keeps the stage), and CPython's
    normalize already quick-checks ASCII — so what the mask removes is
    the TEXT BYTES crossing the boundary (Arrow buffers shrink by the
    corpus's ASCII share), the only component of the stage that grows
    with data volume. Bit-exact by the identity (pinned by
    test_char_nfc_ascii_mask_is_exact)."""
    from .textops import clean_text, nfc_udf

    is_ascii = F.octet_length(text) == F.length(text)
    normalized = nfc_udf()(F.when(is_ascii, F.lit(None)).otherwise(text))
    return clean_text(F.when(is_ascii, text).otherwise(normalized))


def char_shingle_hashes(norm_text: F.Column, k: int = 5, bits: int = 31) -> F.Column:
    """md5-derived hash per character k-gram of an (already normalized)
    text column, as one row-wise array — the char twin of
    functions.text.word_shingle_hashes, same hash family so the DuckDB
    oracles reproduce it bit-for-bit. Texts shorter than k produce one
    shingle (the whole string); the EMPTY string would produce the
    md5('') evidence-from-nothing shingle, which is why callers must
    pre-filter (CHAR_EVIDENCE_PATTERN) — enforced in doc_shingle_sets.
    Both Spark's substr and DuckDB's substr count CODE POINTS, so the
    two engines slice multi-byte scripts identically (the byte-vs-code-
    point trap lives in binary decoders, not string slicing —
    plans/misc.py round 10).

    The md5 runs over the DISTINCT k-grams, not every position
    (round 15): text repeats k-grams — the gate corpus measures 1.43
    positions per distinct 5-gram (1.47M positions / 1.02M distinct at
    sf0.1), natural prose more — and the digest is the expensive term
    of the char tier, so deduplicating the (cheap) substring slices
    first cuts the md5 count by that factor. Bit-exact with
    hashing every position and THEN deduplicating, order included:
    both forms keep each value at its first occurrence, and a
    same-hash-different-gram collision removes the later duplicate
    either way (callers' outer ``array_distinct`` still runs for
    exactly that collision case)."""
    from ..functions.hashing import md5_int31, md5_int60

    if bits not in (31, 60):
        raise ValueError(f"bits must be 31 or 60, got {bits}")
    hash_fn = md5_int31 if bits == 31 else md5_int60
    n = F.length(norm_text)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1))),
            lambda i: norm_text.substr(i, F.lit(k)),
        )
    )
    return F.transform(grams, hash_fn)


def exact_dedup(docs: DataFrame) -> DataFrame:
    """One surviving row per distinct normalized ``text``: (kept_doc_id =
    min doc_id, dup_cnt). Shuffle carries only (128-bit key, id) pairs;
    partial min/count collapse duplicates map-side.

    NULL text takes no part in dedup — the family convention (the shingle
    tiers filter it, SimHash drops it via explode). Without the filter,
    md5(NULL) = NULL would group every failed-fetch/encoder-failure doc
    under ONE key and report them as mutual duplicates of the min-id one:
    unknown content is not equal content. Such rows are simply absent
    from the output (route them to a quarantine track). The DuckDB
    oracles carry the same WHERE text IS NOT NULL filter (round 9), so
    operator and oracle agree by construction on NULL-bearing corpora,
    not just on the NULL-free gate data."""
    return (
        docs.filter(F.col("text").isNotNull())
        .select(normalized_text_key(F.col("text")).alias("text_key"), F.col("doc_id"))
        .groupBy("text_key")
        .agg(F.min("doc_id").alias("kept_doc_id"), F.count(F.lit(1)).alias("dup_cnt"))
    )


def doc_shingle_sets(
    docs: DataFrame,
    k: int = 3,
    hash_bits: int = 31,
    shingle_mode: str = "word",
) -> DataFrame:
    """(doc_id, shs ARRAY<LONG>, sz) — each document's DISTINCT shingle-hash
    set as a packed array, computed entirely ROW-WISE
    (`array_distinct(transform(...))`): zero shuffles, zero row
    amplification. A ~50-shingle doc costs ~200 bytes — orders of magnitude
    smaller than its text — so carrying the set through later joins is
    cheap, and per-pair verification becomes an `array_intersect` instead
    of an exploded join+re-aggregation.

    The input is hash-repartitioned by doc_id first so the per-row
    tokenize+hash work spreads across the cluster even when the scan has
    few splits (a single small parquet file would otherwise pin everything
    to one task; at 100 TB the same shuffle prevents straggler partitions
    and moves only the raw (id, text) bytes once).

    ``hash_bits``: 31 (default — MinHash's universal-hash multiplicand
    bound and the oracle-pinned width) or 60 (the exact-Jaccard deploy
    width past the 2^31 birthday regime; see ngram_jaccard_pairs).

    No-content contract (round 10, caught by the Unicode edge-corpus
    audit): a document with ZERO shingles — empty/whitespace-only text,
    fewer than k tokens, or text whose characters the ``\\w`` tokenizer
    doesn't match at all (emoji-only, CJK-script) — has no shingle
    evidence and takes part in NO shingle-based tier, exactly like NULL
    text. Without the filter, MinHash signed the single-``md5('')``
    set every contentless doc used to produce, so they all paired
    mutually at est_jaccard 1.0 ("no evidence" surfacing as "perfect
    match"), while the DuckDB oracles' equivalent rows collapsed to
    ``sh = NULL`` and vanished from their joins — two different
    accidents. The filter is the CHEAP equivalent predicate
    ``text RLIKE '\\w'`` (some word char ⟺ ≥1 token ⟺ ≥1 shingle) —
    filtering on ``size(shs) > 0`` instead costs 2× here, because
    Catalyst substitutes the alias when pushing the predicate below
    the project and the whole tokenize+hash chain evaluates twice per
    row (measured in the round-10 A/B). The exact tier still groups
    such docs (identical normalized text IS exact evidence, and both
    engines agree there); the SimHash tier already drops zero-token
    docs via explode on both sides. The word-mode predicate runs on the
    LOWERED text (ADVICE r10): tokens() extracts ``\\w+`` from
    lower(text), and a few characters acquire their ASCII word char
    only under lowercasing (U+212A KELVIN SIGN → 'k', U+0130 → 'i' +
    combining dot) — filtering the raw text would drop such docs from
    every shingle tier while the oracle's ``len(tk) > 0`` (over
    lower(text)) kept and paired them.

    ``shingle_mode="char"`` (round 11, VERDICT r10 item 2): evidence =
    character k-grams over the canonical normalized text
    (char_normalized_text — NFC → lower → whitespace/control cleanup),
    the CCNet/Gopher-style fallback that gives non-``\\w`` scripts
    (CJK, emoji) near-dup evidence word shingles cannot. Its
    no-evidence predicate is CHAR_EVIDENCE_PATTERN on the raw text
    (⟺ cleaned text non-empty — see its comment for why not
    ``length > 0`` on the cleaned column); whitespace-only,
    control-only, and empty texts take part in no tier, same contract
    as word mode."""
    # duplicate-key contract (round 11): shingle EVIDENCE belongs to the
    # document KEY, not the ingested row — at-least-once re-delivery of
    # the same doc_id must be a no-op (it used to emit duplicate pairs
    # and inflate bucket occupancy) and a conflicting re-delivery
    # resolves to the content-hash-minimal text on both engines (the
    # oracles' DISTINCT used to chimera-merge conflicting texts'
    # shingles instead). groupBy(id) rides the _spread hash partitioning
    # — no additional exchange.
    resolved = one_row_per_key(_spread(docs.select("doc_id", "text"), "doc_id"), "doc_id", "text")
    text = F.col("text")
    if shingle_mode == "word":
        keep = text.isNotNull() & F.lower(text).rlike(r"\w")
        # materialize the token array as its own projected column: the
        # shingle lambda reads it once per shingle, and a lambda that
        # captured tokens(text) would re-run the regex over the whole
        # document each time (the sequence bound reads it too, so
        # CollapseProject keeps this Project separate)
        base = resolved.filter(keep).select(F.col("doc_id"), tokens(text).alias("_tk"))
        shs = F.array_distinct(word_shingle_hashes(F.col("_tk"), k, bits=hash_bits))
    elif shingle_mode == "char":
        keep = text.isNotNull() & text.rlike(CHAR_EVIDENCE_PATTERN)
        # materialize the normalized text as its own projected column:
        # Spark cannot evaluate a Python UDF inside a higher-order-
        # function lambda (UNSUPPORTED_FEATURE.LAMBDA_FUNCTION_WITH_
        # PYTHON_UDF), and the split also guarantees the NFC stage runs
        # ONCE per row instead of once per reference in the shingle
        # expression (the sequence bound and the lambda both read it)
        base = resolved.filter(keep).select(
            F.col("doc_id"), char_normalized_text(text).alias("_nt")
        )
        shs = F.array_distinct(char_shingle_hashes(F.col("_nt"), k, bits=hash_bits))
    else:
        raise ValueError(f"shingle_mode must be 'word' or 'char', got {shingle_mode!r}")
    return base.select(F.col("doc_id"), shs.alias("shs")).withColumn("sz", F.size("shs"))


def minhash_signatures(sets: DataFrame, num_perm: int) -> DataFrame:
    """(doc_id, mh0..mh{n-1}, mhs ARRAY) — one row per doc, computed
    ROW-WISE from the packed shingle set (`array_min(transform(shs, ...))`
    per permutation): no explode, no aggregation shuffle. num_perm × |shs|
    integer ops per document is trivial next to moving the exploded
    (doc, shingle) pairs through an exchange."""
    sig = sets.select(
        F.col("doc_id"),
        *[h.alias(f"mh{i}") for i, h in enumerate(minhash_set_exprs("shs", num_perm))],
    )
    return sig.withColumn("mhs", F.array(*[F.col(f"mh{i}") for i in range(num_perm)]))


def banded_signatures(
    signatures: DataFrame,
    num_perm: int,
    bands: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, [carry...], band, sig) — one row per (doc, band), where sig is
    the concatenated row hashes of that band. One narrow explode pass;
    shared by the candidate join and by tests that need to reason about
    bucket occupancy without re-deriving the band layout."""
    rows = num_perm // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws("_", *[F.col(f"mh{b * rows + r}") for r in range(rows)]).alias("sig"),
            )
            for b in range(bands)
        ]
    )
    return signatures.select(
        F.col("doc_id"), *[F.col(c) for c in carry], F.explode(band_structs).alias("bs")
    ).select("doc_id", *carry, F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))


def _bucket_self_join(
    banded: DataFrame, bucket_cols: list[str], max_bucket: int | None
) -> tuple[DataFrame, DataFrame]:
    """The band-bucket self-join every banded tier shares: cap the banded
    frame, join it to itself on ``bucket_cols`` with ``a.doc_id <
    b.doc_id`` (sides aliased ``a`` and ``b``), and return the joined
    frame with the dropped-bucket ledger (oversized_buckets over the same
    pre-cap input). Each caller projects, verifies and distincts the
    joined rows itself, and decides itself whether to persist ``banded``.

    The cap is the boilerplate escape hatch: bucket keys with more than
    ``max_bucket`` members are dropped before the quadratic join. A
    bucket of b docs contributes b(b−1)/2 candidate pairs, so one
    boilerplate bucket (site chrome, license headers) dominates the whole
    join at scale; capped buckets are overwhelmingly such boilerplate and
    belong in a separate exact-dedup track. ``None`` disables. Since
    round 7 the MinHash-LSH paths default to DEFAULT_LSH_MAX_BUCKET —
    the oracle-checked queries run WITH the cap, which is measured inert
    on every gate corpus (plans/dedup.py module docstring), so DuckDB
    still reproduces them exactly."""
    dropped = oversized_buckets(banded, bucket_cols, max_bucket)
    capped = banded
    if max_bucket is not None:
        # Anti-join against the OVERSIZED key set, not semi-join against
        # the small-bucket set: oversized buckets are few by definition
        # (zero on every measured corpus, ~1 per boilerplate family
        # otherwise), so the broadcast build side is near-empty regardless
        # of corpus size, where a semi-join's build side is the full
        # bucket-key set (grows with the corpus and eventually stops
        # broadcasting). At sf0.1 the forms are equal within noise —
        # quiet-machine min-over-2: anti 1.03 s, semi 1.12 s, uncapped
        # 1.19 s (SCALE.md "cap filter cost", r8); the earlier 1.7 s-class
        # readings were cold-JIT first passes. The anti-join is chosen for
        # the structural build-side bound, and the occupancy aggregate
        # (one row per bucket, the same frame as the ledger) is the cap's
        # only real cost.
        capped = banded.join(F.broadcast(dropped.drop("occupancy")), bucket_cols, "left_anti")
    a, b = capped.alias("a"), capped.alias("b")
    on = reduce(
        and_,
        [F.col(f"a.{c}") == F.col(f"b.{c}") for c in bucket_cols]
        + [F.col("a.doc_id") < F.col("b.doc_id")],
    )
    return a.join(b, on), dropped


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_perm: int,
    bands: int,
) -> DataFrame:
    """Band the signature, bucket-join per band → distinct (doc_a, doc_b).

    Banding uses explode over an array of (band, concatenated row hashes)
    structs — one narrow pass; the self-join shuffles on (band, sig)
    buckets, so cost tracks bucket occupancy. At 100 TB a hot bucket (all
    boilerplate docs) would skew the join; AQE skew-join splits the
    shuffle, and buckets larger than DEFAULT_LSH_MAX_BUCKET (measured
    ~250× above genuine near-dup occupancy) are dropped before the
    quadratic join; route their members through the exact-dedup track
    instead. The loss ledger of the cap comes with
    minhash_lsh_dedup(accounting=True).
    """
    # persist the BANDED table, not (only) the upstream signatures: three
    # lineages read it — the occupancy aggregate behind the cap and the
    # two self-join sides — and AQE re-plans each subtree
    # independently, so without the cache the banding explode executes
    # once per reader (both Generate nodes and both occupancy aggregates
    # appear in plans/r14/dedup_lsh_exact_before.txt @ a8b586f;
    # interleaved A/B in tools/ab_lsh_banded.py @ 6000c78). One (id, band,
    # sig) row per (doc, band) is a few dozen bytes × bands per doc —
    # trivial next to the text.
    banded = banded_signatures(signatures, num_perm, bands).persist()
    joined, _ = _bucket_self_join(banded, ["band", "sig"], DEFAULT_LSH_MAX_BUCKET)
    return joined.select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    ).distinct()


def minhash_lsh_dedup(
    docs: DataFrame,
    num_perm: int = 16,
    bands: int = 4,
    est_threshold: float = 0.5,
    shingle_k: int = 3,
    max_bucket: int | None = DEFAULT_LSH_MAX_BUCKET,
    accounting: bool = False,
    shingle_mode: str = "word",
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Candidate near-dup pairs with estimated Jaccard (fraction of equal
    minhashes) ≥ threshold: (doc_a, doc_b, est_jaccard).

    ``accounting=True`` returns ``(pairs, dropped_buckets)`` where the
    second frame is one row per (band, sig) key the cap dropped, with its
    occupancy (pair loss of a bucket of n is ≤ n(n−1)/2; empty, same
    schema, when ``max_bucket`` is None) — the loss ledger a deploy
    pipeline sinks to its metrics table, built from the same banded
    lineage with no extra plan code at the caller (ADVICE r8: a separate
    opt-in ``oversized_buckets`` call meant a binding cap could silently
    lose pairs when nobody wired it up).
    ``shingle_mode="char"``: the multilingual evidence base (character
    k-grams over normalized text — doc_shingle_sets); banding, capping,
    and the estimated-Jaccard filter are identical."""
    # Row-wise signatures have no aggregation exchange for ReuseExchange
    # to share across the self-join's two sides, so the candidate lineage
    # must be materialized once (unpersisted, the tokenize+hash pipeline
    # measured 3.5x on the banded join). Round 14 moves the cache from
    # the signature table to the BANDED table one step downstream: the
    # occupancy aggregate behind the cap and both self-join
    # sides all read the banded rows, so caching before the banding
    # explode still ran the explode (and the aggregate's copy of it) per
    # consumer — see lsh_candidate_pairs, whose before-plan shows the
    # duplicated Generate/aggregate arms, and tools/ab_lsh_banded.py
    # @ 6000c78 for the interleaved A/B. The banded rows carry the mhs array
    # (bands × ~100 B per doc) — still trivial next to the text.
    sigs = minhash_signatures(
        doc_shingle_sets(docs, k=shingle_k, shingle_mode=shingle_mode), num_perm
    )
    # Carry the packed signature array through the band self-join so the
    # estimated Jaccard needs NO extra signature joins.
    banded = banded_signatures(sigs, num_perm, bands, carry=("mhs",)).persist()
    joined, dropped = _bucket_self_join(banded, ["band", "sig"], max_bucket)
    n_eq = F.size(
        F.filter(F.zip_with(F.col("a.mhs"), F.col("b.mhs"), lambda x, y: x == y), lambda v: v)
    )
    pairs = (
        joined.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (n_eq / F.lit(float(num_perm))).alias("est_jaccard"),
        )
        .distinct()
        .filter(F.col("est_jaccard") >= est_threshold)
    )
    return (pairs, dropped) if accounting else pairs


def _verified_jaccard(cands: DataFrame, sets: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard of candidate pairs (doc_a, doc_b) over the packed
    shingle sets of doc_shingle_sets — one array_intersect per pair:
    (doc_a, doc_b, jaccard), jaccard ≥ threshold."""
    seta = sets.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("shs_a"), F.col("sz").alias("sz_a"))
    setb = sets.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("shs_b"), F.col("sz").alias("sz_b"))
    inter = F.size(F.array_intersect(F.col("shs_a"), F.col("shs_b")))
    jac = inter / (F.col("sz_a") + F.col("sz_b") - inter)
    return (
        cands.join(seta, "doc_a")
        .join(setb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def lsh_verified_jaccard(
    docs: DataFrame,
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_k: int = 3,
) -> DataFrame:
    """The two-tier 100 TB near-dup pipeline: MinHash-LSH candidate
    generation (cost ∝ band-bucket occupancy) followed by EXACT Jaccard
    verification over packed shingle sets (one array_intersect per
    candidate): (doc_a, doc_b, jaccard), jaccard ≥ threshold exact.

    vs ngram_jaccard_pairs (exact all-pairs): this trades bounded recall
    for candidate cost that does NOT grow with shared-shingle density.
    The recall bound has TWO terms since the default bucket cap
    (round 7): a true pair is missed if it collides in no band —
    P(miss) = (1−J^rows)^bands, <3% at J=0.7 with 4×4 — OR if its every
    band collision lands in a bucket larger than DEFAULT_LSH_MAX_BUCKET
    (such pairs are dropped silently; on genuine data this term is zero
    — the cap is ~250× above measured occupancy — and it targets only
    boilerplate families, which belong to the exact-dedup track; the
    loss ledger of the same cap comes with
    minhash_lsh_dedup(accounting=True)). The measured 10× stress showed
    the exact join's candidates grow ~quadratically on correlated corpora
    while LSH buckets stay linear, and the round-5 ×100 stress confirmed
    it at a second decade: 29.9 s vs the sized exact join's 334.7 s on
    identical data, at a MEASURED 99.85% recall (25,562 of a
    construction-pinned 25,600 true pairs — SCALE.md ×100 table).
    Precision is exact either way; deploy this form at scale.
    """
    sets = doc_shingle_sets(docs, k=shingle_k).persist()
    cands = lsh_candidate_pairs(minhash_signatures(sets, num_perm), num_perm, bands)
    return _verified_jaccard(cands, sets, threshold)


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    shingle_k: int = 3,
    hash_bits: int = 31,
) -> DataFrame:
    """EXACT all-pairs Jaccard ≥ threshold over k-word shingle sets:
    (doc_a, doc_b, jaccard). Complete — no false negatives.

    Candidate generation uses **prefix filtering** (AllPairs/PPJoin
    lineage; Bayardo et al. WWW'07): order each document's shingles by
    ascending global document frequency (rarest first, ties by hash) and
    index only the first ``sz - ceil(t·sz) + 1`` of them. Any pair with
    Jaccard ≥ t must collide inside these prefixes (pigeonhole on the
    shared global order), so joining prefixes is lossless while shrinking
    the inverted index roughly by the threshold — and, critically, the
    prefix is biased toward RARE shingles, so index buckets stay small and
    the self-join cost tracks true near-dup density instead of boilerplate
    frequency. A **length filter** (min(sz) ≥ t·max(sz), necessary for
    J ≥ t) prunes candidates at join time before the distinct.

    Verification (_verified_jaccard, shared with lsh_verified_jaccard)
    joins each candidate pair to the two packed shingle-set
    arrays and computes the exact intersection ROW-WISE with
    `array_intersect` — replacing the exploded verify join (candidates ×
    avg set size rows through a shuffle + re-aggregation) with one ~200 B
    array lookup per side and a per-pair merge.

    At 100 TB: joins key on 8-byte hashes / doc ids; the df table and the
    set table shuffle-join (no broadcast assumption — both scale with the
    corpus, though AQE will broadcast them when they happen to be small);
    AQE skew-join covers any residual hot shingle.

    Hash width (``hash_bits``): shingles default to 31-bit md5 hashes
    (md5_int31) so the DuckDB oracle reproduces them. That width is a
    TEST-SCALE choice: past ~2^15.5 distinct shingles the 2^31 space
    enters the birthday regime (measured at the ×100 stress corpus:
    ~3e5 distinct shingles → 22 colliding hash values, SCALE.md
    round 6), and a spurious shared hash inflates a pair's Jaccard.
    Pass ``hash_bits=60`` at real corpus scale (md5_int60 — already
    SimHash's width; the join shape is unchanged, and tests pin that a
    31-bit-colliding pair disappears at 60 bits).
    MinHash cannot take this knob — its mod-p universal hashing needs
    multiplicands below 2^31 — which is fine: LSH banding tolerates
    collisions by design; exactness is what cannot.
    """
    # the packed sets feed the inverted index and both verification sides
    sets = doc_shingle_sets(docs, k=shingle_k, hash_bits=hash_bits).persist()
    # persist the exploded (id, sz, sh) frame too (round 15): the dfreq
    # aggregate and the prefix arm both read it, and AQE re-plans the
    # subtrees independently, so unpersisted the shingle explode runs
    # twice per query. At sf0.1 the two executions are at the noise
    # floor (r14 measured it twice, ±); at ×10 docs the explode arm
    # dominates and the persist wins every interleaved pass —
    # min-over-4 75.2 → 32.4 s (−57%), worst pass −38%
    # (tools/ab_ngram_ex_persist.py @ f9699ec, fingerprint-identical outputs).
    # ~|shs| rows/doc of (long, int, long) — small next to the text.
    ex = sets.select("doc_id", "sz", F.explode("shs").alias("sh")).persist()
    dfreq = ex.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))

    from pyspark.sql import Window

    order = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("sh").asc())
    prefix_len = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    # persist the PREFIX, not just the sets: the candidate self-join reads
    # it on both sides, and (as with the signature tables above) AQE
    # re-plans the two subtrees independently so ReuseExchange never
    # shares the explode → dfreq-join → sort+window pipeline between
    # them — unpersisted, the whole prefix derivation (the row-amplifying
    # explode and the per-doc sort, the expensive part of PPJoin candidate
    # generation) executes twice per query (round 14: both Window nodes
    # and both dfreq aggregates appear in the before-plan,
    # plans/r14/dedup_ngram_jaccard_before.txt @ a8b586f; interleaved A/B in
    # tools/ab_ngram_prefix.py @ 6000c78). ~prefix_len rows/doc of (id, hash, sz) is
    # far smaller than the text, so the cache footprint is trivial.
    prefix = (
        ex.join(dfreq, "sh")
        .withColumn("rn", F.row_number().over(order))
        .filter(F.col("rn") <= prefix_len)
        .select("doc_id", "sh", "sz")
        .persist()
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    length_ok = F.least(F.col("a.sz"), F.col("b.sz")) >= F.lit(threshold) * F.greatest(
        F.col("a.sz"), F.col("b.sz")
    )
    cands = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & length_ok,
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _verified_jaccard(cands, sets, threshold)


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """60-bit SimHash per doc from distinct-token bit votes: (doc_id,
    simhash BIGINT). One explode + one hash aggregate with 60 conditional
    sums — wide but shallow, fully codegen'd, no UDF. Repartitioned by id
    pre-explode for the same straggler reason as doc_shingle_sets; token
    dedup happens row-wise (array_distinct) so no global distinct shuffle
    is needed before the vote aggregate.

    Duplicate-key contract (round 11, closing the SimHash residual the
    contract's first pass documented): the fingerprint belongs to the
    KEY — one_row_per_key resolution before tokenization, same as the
    shingle tiers. Without it a re-delivered row doubled every vote
    (sign-preserving, so the fingerprint survived by arithmetic luck)
    while the oracle's ``DISTINCT doc_id, token`` voted once, and a
    CONFLICTING re-delivery vote-merged two texts into a chimera
    fingerprint matching neither — with Spark counting a shared token
    twice where DuckDB counted it once, a divergence waiting for the
    first vote-sum near zero."""
    tok = (
        one_row_per_key(_spread(docs.select("doc_id", "text"), "doc_id"), "doc_id", "text")
        .select(
            F.col("doc_id"),
            F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok"),
        )
        .select("doc_id", md5_int60(F.col("tok")).alias("h"))
    )
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    fp = sum(
        F.when(F.col(f"v{j}") > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
        for j in range(SIMHASH_BITS)
    )
    return votes.select(F.col("doc_id"), fp.alias("simhash"))


def oversized_buckets(
    banded: DataFrame, bucket_cols: list[str], max_bucket: int | None
) -> DataFrame:
    """The bucket-occupancy aggregate: the bucket keys a cap of
    ``max_bucket`` removes, with their occupancy (the pair loss of a
    bucket of n is at most n(n-1)/2). The bucket cap of _bucket_self_join
    anti-joins against it, and minhash_lsh_dedup(accounting=True) returns
    the same frame as the cap's loss ledger — at deploy scale, sink it to
    the pipeline's metrics table alongside the dedup output.
    ``max_bucket=None`` (cap disabled) yields a statically-empty frame of
    the same schema (Catalyst prunes the literal-false filter to an empty
    relation — no scan is scheduled)."""
    occupancy = banded.groupBy(*bucket_cols).agg(F.count(F.lit(1)).alias("occupancy"))
    if max_bucket is None:
        return occupancy.filter(F.lit(False))
    return occupancy.filter(F.col("occupancy") > max_bucket)


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """(doc_a, doc_b, hamming) for pairs within Hamming distance
    max_hamming, via 4×15-bit band blocking (pigeonhole-complete for
    max_hamming ≤ 3) + exact xor/bit_count verification. The band
    buckets are uncapped (see DEFAULT_LSH_MAX_BUCKET for why).

    OUTPUT MANAGEMENT AT SCALE: the raw pair stream is output-bound by
    design — near-dup CLUSTERS of size c emit c(c−1)/2 pairs, so pair
    counts grow super-linearly on correlated corpora (measured 271,530
    at sf0.1 → 7.68 M at ×10 → 40.1 M at ×100 h=1; SCALE.md). Do NOT
    ship the pair stream as a deliverable: the deploy composition is
    pairs → ``operators.graph.connected_components`` → one
    representative per cluster (keep = min doc_id), exactly like
    ``dedup_clusters`` does for the MinHash evidence — output then
    scales with the number of DOCUMENTS, not pairs. Pinned by
    ``test_simhash_pairs_collapse_to_cluster_representatives``."""
    # persist the 1-row/doc fingerprint table across the self-join's two
    # sides: AQE re-plans the subtrees independently so ReuseExchange does
    # not fire, and recomputing the 60-sum vote aggregate twice measured
    # 3x slower than the persisted read
    fps = simhash_fingerprints(docs).persist()
    n_bands = SIMHASH_BITS // SIMHASH_BAND_BITS
    mask = (1 << SIMHASH_BAND_BITS) - 1
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * SIMHASH_BAND_BITS)
                .bitwiseAND(F.lit(mask))
                .alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    banded = fps.select("doc_id", "simhash", F.explode(band_structs).alias("bs")).select(
        "doc_id", "simhash", F.col("bs.band").alias("band"), F.col("bs.key").alias("key")
    )
    joined, _ = _bucket_self_join(banded, ["band", "key"], None)
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        joined.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
