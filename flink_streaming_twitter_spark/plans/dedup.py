"""Dedup queries() entries + DuckDB oracles.

The oracles re-derive the exact same md5-based hashes, shingles, minhash
permutations, and band layout as operators/dedup.py (constants flow from
plans/params.py and functions/hashing.py), so even the approximate
operators (MinHash LSH, SimHash) are checked value-for-value, not just
rows-only.

The LSH entries run with the deploy-default bucket cap
(DEFAULT_LSH_MAX_BUCKET) while the oracles are UNCAPPED — deliberate:
the cap is measured inert on every gate corpus (max band-bucket
occupancy 4 at sf0.1, 8 at x100, vs cap 1024 — SCALE.md), so the
oracle-verified configuration IS the deploy configuration, and if a
future corpus ever grew an oversized bucket the hash mismatch would
surface here rather than silently diverging.

The cap's FILTERING semantics are oracle-verified separately by
dedup_minhash_lsh_capped: it runs with a deliberately binding cap
(LSH_CAP_BINDING=2 — the gate corpora have occupancy-3 buckets, so rows
genuinely differ from the uncapped entry: 25 vs 22 pairs at sf0.01)
against an oracle that reproduces the occupancy filter in SQL (a
HAVING-count CTE before the band self-join). tests/test_dedup.py
additionally asserts the default cap stays inert on the gate fixture so
a future corpus that grows an oversized bucket fails with a clear
occupancy message instead of an opaque hash mismatch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import MERSENNE_31, minhash_params
from ..operators import dedup as D
from ..sources.files import load_table
from . import params as P

# Character-shingle width for the multilingual near-dup tier
# (dedup_minhash_lsh_char): 5-char grams over NFC-normalized text, the
# CCNet/Gopher-style fallback that gives non-\w scripts (CJK, emoji)
# near-dup evidence the ASCII word tokenizer cannot (VERDICT r10
# item 2). Declared here rather than in plans/params.py for the same
# no-drift reason params.py exists — its ONLY consumers are this
# module's entry and oracle generator, so the single shared constant
# lives next to both (params.py sits in every family's import closure,
# so a constant used by one family doesn't belong there).
CHAR_SHINGLE_K = 5

# ---------------------------------------------------------------- queries


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(load_table(spark, sf_dir, "documents")).select(
        "text_key", "kept_doc_id", "dup_cnt"
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_dedup(
        load_table(spark, sf_dir, "documents"),
        num_perm=P.MINHASH_PERMS,
        bands=P.MINHASH_BANDS,
        est_threshold=P.MINHASH_EST_THRESHOLD,
        shingle_k=P.SHINGLE_K,
    )


def dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BINDING-cap variant of dedup_minhash_lsh: same banding, same
    estimated-Jaccard filter, but max_bucket=LSH_CAP_BINDING (2), chosen
    so the cap genuinely drops buckets on the gate corpora (occupancy-3
    buckets exist at sf0.001/sf0.01 — plans/params.py). The oracle
    reproduces the occupancy filter in SQL, so the driver hash certifies
    the bucket cap's filtering semantics end-to-end — the deploy-default
    entries only certify the cap when it is inert (module docstring)."""
    return D.minhash_lsh_dedup(
        load_table(spark, sf_dir, "documents"),
        num_perm=P.MINHASH_PERMS,
        bands=P.MINHASH_BANDS,
        est_threshold=P.MINHASH_EST_THRESHOLD,
        shingle_k=P.SHINGLE_K,
        max_bucket=P.LSH_CAP_BINDING,
    )


def dedup_minhash_lsh_char(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CHAR-shingle params variant of dedup_minhash_lsh (round 11,
    VERDICT r10 item 2): evidence = 5-char grams over the canonical
    NFC-normalized text instead of 3-word ``\\w`` shingles — the
    CCNet/Gopher-style fallback that closes the zero-token hole, where
    non-``\\w`` scripts (CJK, emoji-only) had NO near-dup evidence in
    any shingle tier and multilingual boilerplate sailed through dedup.
    Same signatures, banding, cap, and estimated-Jaccard filter; only
    doc_shingle_sets' evidence base changes. Output note for deploy:
    char-gram MID-RANGE similarity runs higher than word-gram between
    same-vocabulary documents (shared words ⇒ shared grams across
    different sentences), so at 16 permutations the ESTIMATED-Jaccard
    filter passes many pairs whose true char-J sits below threshold —
    12,566 pairs at sf0.1 vs exactly 256 with true char-J ≥ 0.5
    (measured; the word entry's true set is the same 256). An
    exact-verified char twin measured 100% recall of the true set at
    9.4× the exact all-pairs join's speed (SCALE.md round-11 block; its
    char mode is at operators/dedup.py @ af453c5, since no job ran
    it); a deployment raises the estimate threshold instead. The gate
    entry keeps the family's pinned parameters so the oracle certifies
    the estimation machinery itself.
    Edge-corpus-bound: the
    audit corpus carries a near-identical CJK pair (word mode: zero
    evidence) and a combining-vs-precomposed accent pair (exact tier:
    byte-distinct) that this entry must pair —
    tools/make_null_corpus.py + tests/test_null_corpus_audit.py."""
    return D.minhash_lsh_dedup(
        load_table(spark, sf_dir, "documents"),
        num_perm=P.MINHASH_PERMS,
        bands=P.MINHASH_BANDS,
        est_threshold=P.MINHASH_EST_THRESHOLD,
        shingle_k=CHAR_SHINGLE_K,
        shingle_mode="char",
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold=P.JACCARD_THRESHOLD,
        shingle_k=P.SHINGLE_K,
    )


def dedup_ngram_jaccard_60bit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEPLOY configuration of exact n-gram Jaccard: identical join
    shape to dedup_ngram_jaccard but 60-bit shingle hashes (md5_int60),
    the width a real corpus needs once distinct-shingle counts cross the
    2^31 birthday regime (measured: 22 spurious hash collisions at ~3e5
    shingles on the ×100 stress corpus, SCALE.md r6). Registered as its
    own gate entry so the deploy width is oracle-verified, not only
    unit-pinned."""
    return D.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold=P.JACCARD_THRESHOLD,
        shingle_k=P.SHINGLE_K,
        hash_bits=60,
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_near_pairs(
        load_table(spark, sf_dir, "documents"), max_hamming=P.SIMHASH_MAX_HAMMING
    )


def dedup_lsh_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.lsh_verified_jaccard(
        load_table(spark, sf_dir, "documents"),
        num_perm=P.MINHASH_PERMS,
        bands=P.MINHASH_BANDS,
        threshold=P.JACCARD_THRESHOLD,
        shingle_k=P.SHINGLE_K,
    )


def _dup_evidence(docs: DataFrame) -> DataFrame:
    """(src, dst) pairwise dup evidence shared by both cluster queries:
    exact-dup star edges (min doc_id per normalized-text key → every
    other member) unioned with the MinHash-LSH near-dup pairs.

    NULL text is filtered before keying (family convention, same reason
    as operators/dedup.exact_dedup: window partitions group NULL keys,
    so failed-fetch docs would otherwise form one spurious cluster)."""
    from pyspark.sql import Window

    exact_pairs = (
        docs.filter(F.col("text").isNotNull())
        .select(D.normalized_text_key(F.col("text")).alias("text_key"), "doc_id")
        .withColumn("kept", F.min("doc_id").over(Window.partitionBy("text_key")))
        .filter(F.col("doc_id") != F.col("kept"))
        .select(F.col("kept").alias("src"), F.col("doc_id").alias("dst"))
    )
    near_pairs = D.minhash_lsh_dedup(
        docs,
        num_perm=P.MINHASH_PERMS,
        bands=P.MINHASH_BANDS,
        est_threshold=P.MINHASH_EST_THRESHOLD,
        shingle_k=P.SHINGLE_K,
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    return exact_pairs.union(near_pairs)


def _cluster_output(comp: DataFrame) -> DataFrame:
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        (F.col("id") == F.col("comp")).cast("int").alias("is_kept"),
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup decision: union the pairwise evidence (exact-dup
    pairs + MinHash-LSH near-dup pairs), run connected components
    (operators/graph.py), and emit one row per document with its cluster
    id and the keep decision (keep = min doc_id of the cluster). The
    iterative-algorithm entry of the suite — oracle-checked via a DuckDB
    recursive CTE computing the same min-reachable-id labels."""
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    # duplicate-key contract (round 11): the node set is the set of
    # document KEYS — a re-delivered row must not mint a second node
    # (the oracle's recursive CTE seeds from DISTINCT doc_id)
    comp = connected_components(
        _dup_evidence(docs), nodes=docs.select(F.col("doc_id").alias("id")).distinct()
    )
    return _cluster_output(comp)


def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract, same edge evidence, and same recursive-CTE oracle
    as :func:`dedup_clusters`, but the closure runs through
    ``connected_components_star`` (operators/graph.py) — the
    alternating large-star/small-star contraction (Kiveris et al., SoCC
    2014) that converges in O(log n) rounds instead of O(diameter).
    Identical labels, different physical plan: this is the deep-graph
    insurance path a 100 TB corpus needs when transitive near-dup chains
    run long (e.g. across crawl snapshots), promoted to its own gate
    entry so the driver hash-verifies the variant, not just pytest."""
    from ..operators.graph import connected_components_star

    docs = load_table(spark, sf_dir, "documents")
    # duplicate-key contract: same DISTINCT node seed as dedup_clusters
    comp = connected_components_star(
        _dup_evidence(docs), nodes=docs.select(F.col("doc_id").alias("id")).distinct()
    )
    return _cluster_output(comp)


DEDUP_QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_clusters": dedup_clusters,
    "dedup_clusters_star": dedup_clusters_star,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_minhash_lsh_char": dedup_minhash_lsh_char,
    "dedup_minhash_lsh_capped": dedup_minhash_lsh_capped,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_ngram_jaccard_60bit": dedup_ngram_jaccard_60bit,
    "dedup_lsh_exact": dedup_lsh_exact,
    "dedup_simhash": dedup_simhash,
}

# ---------------------------------------------------------------- oracles

# Shared SQL fragments (identical semantics to the Spark operators).


def _shingles_sql(bits: int = 31) -> str:
    """Distinct (doc_id, sh) shingle hashes — md5-derived exactly like
    functions.hashing: 60 bits = first 15 md5 hex digits as int64;
    31 bits = the same value mod 2^31 (MinHash's multiplicand bound).
    ``bits=60`` is the exact-Jaccard deploy width (past the 2^31
    birthday regime — SCALE.md r6).

    NULL text is filtered like doc_shingle_sets does (round 9, same
    by-construction contract as DEDUP_EXACT_SQL): without the WHERE,
    DuckDB hands each NULL-text doc a (doc_id, NULL) shingle row and an
    all-NULL minhash signature whose band key concat_ws-collapses to ''
    — downstream est-Jaccard thresholds happened to filter the
    resulting pairs, but the shingle-tier oracles would be agreeing
    with the operators by accident, not construction."""
    mod = "\n      % 2147483648" if bits == 31 else ""
    # len(tk) > 0: the zero-token contract (round 10) — a doc whose text
    # the \\w tokenizer matches nothing in (empty, whitespace-only,
    # emoji/CJK-only) has no shingle evidence and takes part in no
    # shingle tier. Before the explicit filter the two engines excluded
    # such docs by DIFFERENT accidents (Spark paired them all via a
    # shared md5('') shingle; DuckDB's row collapsed to sh=NULL and
    # vanished from joins) — caught by the Unicode edge-corpus audit.
    # duplicate-key contract (round 11): one text per doc_id, winner =
    # min md5(text) — the arg_min twin of operators.dedup.one_row_per_key.
    # Without it this CTE's DISTINCT silently UNIONED conflicting
    # re-delivered texts' shingles into a chimera document while the
    # operator emitted per-row evidence — two different accidents.
    return f"""
toks AS (
  SELECT * FROM (
    SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS tk
    FROM (SELECT doc_id, arg_min(text, md5(text)) AS text
          FROM documents WHERE text IS NOT NULL GROUP BY doc_id)
  ) WHERE len(tk) > 0
),
shingles AS (
  SELECT DISTINCT doc_id,
    ('0x' || substr(md5(array_to_string(list_slice(tk, i, i + {P.SHINGLE_K - 1}), ' ')), 1, 15))::BIGINT{mod} AS sh
  FROM toks, LATERAL (
    SELECT unnest(range(1, greatest(len(tk) - {P.SHINGLE_K - 1}, 1) + 1)) AS i) g
)
"""


_SHINGLES = _shingles_sql(31)


def _char_shingles_sql() -> str:
    """Distinct (doc_id, sh) CHARACTER-k-gram hashes — the oracle twin
    of operators/dedup.char_shingle_hashes over char_normalized_text.
    The normalization chain is byte-identical to TEXT_NORMALIZE_NFC_SQL
    (plans/pipeline.py): NFC → lower → collapse ``\\s+`` → strip C0/DEL
    → trim; ``len(nt) > 0`` is the oracle-side no-evidence predicate
    (the operator's raw-text CHAR_EVIDENCE_PATTERN is exactly
    equivalent — a character survives the chain iff it is neither
    whitespace nor a control, and NFC maps nothing into that set).
    Both engines' substr counts CODE POINTS, so multi-byte scripts
    slice identically (verified bit-for-bit on CJK/emoji/combining-
    accent fixtures, round 11)."""
    k = CHAR_SHINGLE_K
    return rf"""
norm AS (
  -- duplicate-key contract (round 11): same arg_min resolution as the
  -- word tier — see _shingles_sql
  SELECT doc_id,
         trim(regexp_replace(
              regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g'),
              '[\x00-\x1f\x7f]', '', 'g')) AS nt
  FROM (SELECT doc_id, arg_min(text, md5(text)) AS text
        FROM documents WHERE text IS NOT NULL GROUP BY doc_id)
),
nz AS (SELECT doc_id, nt FROM norm WHERE len(nt) > 0),
shingles AS (
  SELECT DISTINCT doc_id,
    ('0x' || substr(md5(substr(nt, i, {k})), 1, 15))::BIGINT
      % 2147483648 AS sh
  FROM nz, LATERAL (
    SELECT unnest(range(1, greatest(len(nt) - {k - 1}, 1) + 1)) AS i) g
)
"""

DEDUP_EXACT_SQL = """
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS text_key,
       min(doc_id) AS kept_doc_id,
       count(*) AS dup_cnt
FROM documents
WHERE text IS NOT NULL
GROUP BY 1
"""


def _minhash_sig_sql(num_perm: int) -> str:
    params = minhash_params(num_perm)
    mins = ",\n    ".join(
        f"min(({a} * sh + {b}) % {MERSENNE_31}) AS mh{i}" for i, (a, b) in enumerate(params)
    )
    return f"sigs AS (\n  SELECT doc_id,\n    {mins}\n  FROM shingles GROUP BY doc_id\n)"


def _minhash_lsh_sql(cap: int | None = None, shingles: str | None = None) -> str:
    """``cap``: reproduce the bucket cap in SQL — drop (band, sig)
    buckets with more than ``cap`` members before the band self-join
    (the dedup_minhash_lsh_capped oracle). None = uncapped (the
    deploy-default entries, where the cap is measured inert).
    ``shingles``: the evidence-base CTE chain ending in a
    ``shingles(doc_id, sh)`` relation — defaults to the word tier
    (_SHINGLES); the char tier passes _char_shingles_sql()."""
    n, bands = P.MINHASH_PERMS, P.MINHASH_BANDS
    rows = n // bands
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, concat_ws('_', {cols}) AS sig FROM sigs".format(
            b=b, cols=", ".join(f"mh{b * rows + r}" for r in range(rows))
        )
        for b in range(bands)
    )
    cap_cte = (
        f""",
oversized AS (
  SELECT band, sig FROM banded GROUP BY band, sig HAVING count(*) > {cap}
),
banded_kept AS (
  SELECT b.* FROM banded b ANTI JOIN oversized o USING (band, sig)
)"""
        if cap is not None
        else ""
    )
    join_src = "banded_kept" if cap is not None else "banded"
    eq_sum = " + ".join(f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(n))
    return f"""
WITH {shingles if shingles is not None else _SHINGLES},
{_minhash_sig_sql(n)},
banded AS (
{band_selects}
){cap_cte},
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM {join_src} a JOIN {join_src} b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
)
SELECT p.doc_a, p.doc_b, ({eq_sum}) / {float(n)} AS est_jaccard
FROM pairs p
JOIN sigs sa ON sa.doc_id = p.doc_a
JOIN sigs sb ON sb.doc_id = p.doc_b
WHERE ({eq_sum}) / {float(n)} >= {P.MINHASH_EST_THRESHOLD}
"""


def _ngram_jaccard_sql(bits: int = 31) -> str:
    return f"""
WITH {_shingles_sql(bits)},
sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
cands AS (
  -- the oracle uses the unpruned inverted index (any shared shingle);
  -- the Spark side prunes candidates via prefix+length filtering, which
  -- is LOSSLESS for jaccard >= threshold, so final rows must agree
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cands c
  JOIN shingles sa ON sa.doc_id = c.doc_a
  JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       CAST(n_inter AS DOUBLE) / (za.sz + zb.sz - n_inter) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.doc_a
JOIN sizes zb ON zb.doc_id = i.doc_b
WHERE CAST(n_inter AS DOUBLE) / (za.sz + zb.sz - n_inter) >= {P.JACCARD_THRESHOLD}
"""


def _simhash_sql() -> str:
    bits, band_bits = D.SIMHASH_BITS, D.SIMHASH_BAND_BITS
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    votes = ",\n    ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}" for j in range(bits)
    )
    fp = " + ".join(f"CASE WHEN v{j} > 0 THEN {1 << j}::BIGINT ELSE 0 END" for j in range(bits))
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, simhash, {b} AS band, (simhash >> {b * band_bits}) & {mask} AS key FROM fps"
        for b in range(n_bands)
    )
    return f"""
WITH tok AS (
  -- duplicate-key contract (round 11): same arg_min resolution as the
  -- shingle tiers — see _shingles_sql (before it, this DISTINCT voted a
  -- conflict's shared token once where Spark's per-row votes counted
  -- it twice)
  SELECT DISTINCT doc_id, unnest(regexp_extract_all(lower(text), '\\w+')) AS t
  FROM (SELECT doc_id, arg_min(text, md5(text)) AS text
        FROM documents WHERE text IS NOT NULL GROUP BY doc_id)
),
th AS (
  SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok
),
votes AS (
  SELECT doc_id,
    {votes}
  FROM th GROUP BY doc_id
),
fps AS (SELECT doc_id, ({fp}) AS simhash FROM votes),
banded AS (
{band_selects}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM banded a
JOIN banded b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {P.SIMHASH_MAX_HAMMING}
"""


def _lsh_exact_sql() -> str:
    """LSH band candidates (same as the minhash oracle) + exact Jaccard
    verification over full shingle sets (same as the ngram oracle)."""
    n, bands = P.MINHASH_PERMS, P.MINHASH_BANDS
    rows = n // bands
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, concat_ws('_', {cols}) AS sig FROM sigs".format(
            b=b, cols=", ".join(f"mh{b * rows + r}" for r in range(rows))
        )
        for b in range(bands)
    )
    return f"""
WITH {_SHINGLES},
{_minhash_sig_sql(n)},
banded AS (
{band_selects}
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cands c
  JOIN shingles sa ON sa.doc_id = c.doc_a
  JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       CAST(n_inter AS DOUBLE) / (za.sz + zb.sz - n_inter) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.doc_a
JOIN sizes zb ON zb.doc_id = i.doc_b
WHERE CAST(n_inter AS DOUBLE) / (za.sz + zb.sz - n_inter) >= {P.JACCARD_THRESHOLD}
"""


def _clusters_sql() -> str:
    """Same edge set (exact-dup star edges + MinHash-LSH pairs), closure
    via recursive CTE, min reachable id per node."""
    n, bands = P.MINHASH_PERMS, P.MINHASH_BANDS
    rows = n // bands
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, concat_ws('_', {cols}) AS sig FROM sigs".format(
            b=b, cols=", ".join(f"mh{b * rows + r}" for r in range(rows))
        )
        for b in range(bands)
    )
    eq_sum = " + ".join(f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(n))
    return f"""
WITH RECURSIVE {_SHINGLES},
{_minhash_sig_sql(n)},
banded AS (
{band_selects}
),
near_pairs AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
  WHERE (SELECT ({eq_sum}) / {float(n)}
         FROM sigs sa, sigs sb
         WHERE sa.doc_id = a.doc_id AND sb.doc_id = b.doc_id) >= {P.MINHASH_EST_THRESHOLD}
),
exact_pairs AS (
  -- NULL text takes no part in dedup (operators/dedup.exact_dedup /
  -- _dup_evidence filter it before keying); without this WHERE, DuckDB's
  -- PARTITION BY md5(NULL) would group every NULL-text doc into ONE
  -- partition and emit spurious star edges the operator refuses. The
  -- filter keeps "the oracles see identical inputs" true by
  -- construction, not by the gate corpora's NULL-free accident.
  SELECT kept AS src, doc_id AS dst FROM (
    SELECT doc_id,
           min(doc_id) OVER (PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS kept
    FROM documents
    WHERE text IS NOT NULL
  ) WHERE doc_id <> kept
),
edges AS (
  SELECT src AS s, dst AS d FROM exact_pairs
  UNION SELECT dst, src FROM exact_pairs
  UNION SELECT src, dst FROM near_pairs
  UNION SELECT dst, src FROM near_pairs
),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.id
)
SELECT id AS doc_id, min(r) AS cluster_id,
       CASE WHEN id = min(r) THEN 1 ELSE 0 END AS is_kept
FROM reach GROUP BY id
"""


def dedup_oracles() -> dict[str, str]:
    return {
        "dedup_exact": DEDUP_EXACT_SQL,
        "dedup_clusters": _clusters_sql(),
        # identical labels by construction — the star variant must
        # reproduce plain propagation's answer exactly
        "dedup_clusters_star": _clusters_sql(),
        "dedup_minhash_lsh": _minhash_lsh_sql(),
        "dedup_minhash_lsh_char": _minhash_lsh_sql(shingles=_char_shingles_sql()),
        "dedup_minhash_lsh_capped": _minhash_lsh_sql(cap=P.LSH_CAP_BINDING),
        "dedup_ngram_jaccard": _ngram_jaccard_sql(31),
        "dedup_ngram_jaccard_60bit": _ngram_jaccard_sql(60),
        "dedup_lsh_exact": _lsh_exact_sql(),
        "dedup_simhash": _simhash_sql(),
    }
