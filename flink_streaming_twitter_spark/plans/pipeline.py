"""Corpus-management queries: deterministic train/val/test splitting and
per-domain quota capping (operators/sampling.py), each with a DuckDB
oracle computing the identical md5-bucket assignment.

The reference job has no sampling surface (SURVEY.md §2.7); these are
the reproducible-subset ops a training-data pipeline runs before
anything else touches the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sampling import cap_per_key, cap_per_key_salted, hash_split, weighted_mix
from ..operators.textops import corpus_exact_dedup, normalize_text
from ..sources.files import load_table

SPLITS = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
N_BUCKETS = 10_000
CAP_K = 10
# curated sources kept whole, mid-tier halved, everything else at 20%
MIX_FRACTIONS = {"src0": 1.0, "src1": 1.0, "src2": 0.5, "src3": 0.5}
MIX_DEFAULT = 0.2


def q_hash_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document a stable split from md5(doc_id) buckets and
    aggregate the per-split profile. The assignment — not the counts —
    is the product: the same doc_id lands in the same split on any
    engine, any run, any cluster size, which is what makes held-out
    evaluation trustworthy. Narrow transform + one 3-group aggregate;
    at 100 TB the split column is computed inline at scan time (no
    shuffle, no materialization)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        hash_split(docs, "doc_id", SPLITS, N_BUCKETS)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.count_distinct("source").alias("n_sources"),
        )
    )


def q_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-quota cap: keep the CAP_K longest documents per source
    (ties broken by doc_id — a total order, so the survivor set is
    deterministic). One shuffle on source; skew note in
    operators/sampling.py."""
    docs = load_table(spark, sf_dir, "documents")
    return cap_per_key(
        docs, ["source"], [F.col("n_chars").desc(), F.col("doc_id").asc()], CAP_K
    ).select("doc_id", "source", "n_chars")


def q_cap_per_source_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-resistant two-phase form of :func:`q_cap_per_source`
    (operators/sampling.py::cap_per_key_salted): phase 1 keeps CAP_K per
    (source, deterministic-salt) so a pathologically hot source spreads
    over n_salts reducers, phase 2 re-ranks the ≤ CAP_K·n_salts
    survivors. Survivors are provably identical to the plain window for
    any total order, so this entry shares q_cap_per_source's oracle —
    the gate verifies the equivalence proof on real data, not just the
    property test (tests/test_sampling.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return cap_per_key_salted(
        docs,
        ["source"],
        [F.col("n_chars").desc(), F.col("doc_id").asc()],
        CAP_K,
        n_salts=8,
        salt_from=["doc_id"],
    ).select("doc_id", "source", "n_chars")


def q_mix_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-weighted admission: per-source keep-fractions via the
    deterministic bucket, profiled per source. Shuffle-free until the
    final small aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        weighted_mix(docs, "source", "doc_id", MIX_FRACTIONS, MIX_DEFAULT, N_BUCKETS)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.sum("n_chars").alias("kept_chars"))
    )


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical cleanup pass (operators/textops.py::normalize_text):
    lowercase, whitespace collapse, control strip, trim — with audit
    columns. Pure per-row expressions fused into the scan."""
    return normalize_text(load_table(spark, sf_dir, "documents"))


def q_text_normalize_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`q_text_normalize` with Unicode NFC canonicalization first
    (operators/textops.py::normalize_text(nfc=True)) — the Arrow-batched
    ``pandas_udf`` ingest variant, checked against DuckDB's
    ``nfc_normalize``. The synthetic corpus is ASCII, where NFC is the
    identity, so THIS row certifies the vectorized-UDF plumbing
    end-to-end through the driver; the combining-mark semantics
    ("café" composed vs decomposed hashing identically) are pinned by
    the fixture test in tests/test_textops.py."""
    return normalize_text(load_table(spark, sf_dir, "documents"), nfc=True)


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole corpus-preparation pipeline as ONE composed plan —
    normalize → exact-dedup on normalized text → weighted domain
    admission → train/val/test split → per-(split, source) profile:

    1. ``corpus_exact_dedup`` (operators/textops.py), the head
       ``corpus_prep_app.run`` shares: NULL-text filter, normalize,
       featurize (md5 digest, token count, char count) before any
       shuffle, keep-first per digest — quota capping IS exact dedup at
       k=1. The only wide stage keys on the 32-hex digest, so a
       shuffled row is a few dozen bytes regardless of document size;
    2. ``weighted_mix`` admission + ``hash_split`` assignment (both
       narrow md5-bucket filters), then one final aggregate.

    Total cost at any corpus size: one digest-keyed exchange of thin
    rows plus the 3×20-group aggregate. The token count uses the same
    ``\\w+`` tokenizer as the text-analysis family. The oracle applies
    the identical NULL-text filter."""
    deduped = corpus_exact_dedup(load_table(spark, sf_dir, "documents"))
    admitted = weighted_mix(
        deduped, "source", "doc_id", MIX_FRACTIONS, MIX_DEFAULT, N_BUCKETS
    )
    return (
        hash_split(admitted, "doc_id", SPLITS, N_BUCKETS)
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup — the steady-state form of exact dedup
    once a corpus exists: an incoming batch keeps only documents whose
    normalized-text digest (a) is absent from the archive (left ANTI
    join on digest) and (b) is unique within the batch (cap_per_key
    k=1). Here archive/incoming are carved from `documents` by
    ``doc_id % 10`` (80/20); in production the archive is a stored
    digest table. Both join sides are thin digest rows — the anti join
    shuffles 32-hex keys, never text — and at 100 TB the archive side
    is exactly the "seen-digests" table you'd bucket by digest so
    nightly ingests co-locate without re-shuffling the archive.

    NULL text is filtered at the head (same convention and reason as
    q_corpus_pipeline; a NULL digest additionally never matches the
    anti join, so such rows would bypass the archive check entirely)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    norm = normalize_text(docs, extra_cols=("source",))
    dig = norm.select("doc_id", "source", F.md5("norm_text").alias("digest"))
    archive = dig.filter(F.col("doc_id") % 10 < 8).select("digest")
    incoming = dig.filter(F.col("doc_id") % 10 >= 8)
    fresh = incoming.join(archive, "digest", "left_anti")
    return cap_per_key(fresh, ["digest"], [F.col("doc_id").asc()], 1).select(
        "doc_id", "source"
    )


PIPELINE_QUERIES = {
    "q_corpus_pipeline": q_corpus_pipeline,
    "q_incremental_dedup": q_incremental_dedup,
    "q_hash_split_counts": q_hash_split_counts,
    "q_cap_per_source": q_cap_per_source,
    "q_cap_per_source_salted": q_cap_per_source_salted,
    "q_mix_weighted": q_mix_weighted,
    "q_text_normalize": q_text_normalize,
    "q_text_normalize_nfc": q_text_normalize_nfc,
}

_BUCKET = f"(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % {N_BUCKETS})"
_TRAIN_HI = int(round(0.8 * N_BUCKETS))
_VAL_HI = int(round(0.9 * N_BUCKETS))

HASH_SPLIT_SQL = f"""
WITH assigned AS (
  SELECT *,
         CASE WHEN {_BUCKET} < {_TRAIN_HI} THEN 'train'
              WHEN {_BUCKET} < {_VAL_HI} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
       count(DISTINCT source) AS n_sources
FROM assigned GROUP BY split
"""

CAP_PER_SOURCE_SQL = f"""
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM documents
)
SELECT doc_id, source, n_chars FROM ranked WHERE rn <= {CAP_K}
"""


_MIX_CASE = " ".join(
    f"WHEN source = '{dom}' THEN {int(round(frac * N_BUCKETS))}"
    for dom, frac in MIX_FRACTIONS.items()
)

MIX_WEIGHTED_SQL = f"""
WITH admitted AS (
  SELECT source, n_chars
  FROM documents
  WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % {N_BUCKETS})
        < CASE {_MIX_CASE} ELSE {int(round(MIX_DEFAULT * N_BUCKETS))} END
)
SELECT source, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS kept_chars
FROM admitted GROUP BY source
"""

TEXT_NORMALIZE_SQL = r"""
WITH n AS (
  SELECT doc_id, text,
         trim(regexp_replace(
              regexp_replace(lower(text), '\s+', ' ', 'g'),
              '[\x00-\x1f\x7f]', '', 'g')) AS norm_text
  FROM documents
)
SELECT doc_id, norm_text,
       norm_text != text AS changed,
       length(text) - length(norm_text) AS chars_removed
FROM n
"""

# identical pipeline with DuckDB's Unicode NFC canonicalization applied
# first — the twin of normalize_text(nfc=True)'s unicodedata.normalize
# (both implement Unicode Standard Annex #15 NFC)
TEXT_NORMALIZE_NFC_SQL = r"""
WITH n AS (
  SELECT doc_id, text,
         trim(regexp_replace(
              regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g'),
              '[\x00-\x1f\x7f]', '', 'g')) AS norm_text
  FROM documents
)
SELECT doc_id, norm_text,
       norm_text != text AS changed,
       length(text) - length(norm_text) AS chars_removed
FROM n
"""


_SPLIT_CASE = (
    f"CASE WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % {N_BUCKETS})"
    f" < {_TRAIN_HI} THEN 'train'"
    f" WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % {N_BUCKETS})"
    f" < {_VAL_HI} THEN 'val' ELSE 'test' END"
)

CORPUS_PIPELINE_SQL = rf"""
WITH norm AS (
  SELECT doc_id, source,
         trim(regexp_replace(
              regexp_replace(lower(text), '\s+', ' ', 'g'),
              '[\x00-\x1f\x7f]', '', 'g')) AS norm_text
  FROM documents
  WHERE text IS NOT NULL
),
deduped AS (
  SELECT doc_id, source, norm_text,
         row_number() OVER (PARTITION BY md5(norm_text) ORDER BY doc_id ASC) AS rn
  FROM norm
),
admitted AS (
  SELECT doc_id, source, norm_text FROM deduped
  WHERE rn = 1
    AND (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % {N_BUCKETS})
        < CASE {_MIX_CASE} ELSE {int(round(MIX_DEFAULT * N_BUCKETS))} END
)
SELECT {_SPLIT_CASE} AS split, source,
       count(*) AS n_docs,
       CAST(sum(len(regexp_extract_all(norm_text, '\w+'))) AS BIGINT) AS total_tokens,
       CAST(sum(length(norm_text)) AS BIGINT) AS total_chars
FROM admitted
GROUP BY 1, 2
"""


INCREMENTAL_DEDUP_SQL = r"""
WITH norm AS (
  SELECT doc_id, source,
         trim(regexp_replace(
              regexp_replace(lower(text), '\s+', ' ', 'g'),
              '[\x00-\x1f\x7f]', '', 'g')) AS norm_text
  FROM documents
  WHERE text IS NOT NULL
),
dig AS (SELECT doc_id, source, md5(norm_text) AS digest FROM norm),
archive AS (SELECT DISTINCT digest FROM dig WHERE doc_id % 10 < 8),
incoming AS (SELECT * FROM dig WHERE doc_id % 10 >= 8),
fresh AS (
  SELECT i.* FROM incoming i
  WHERE NOT EXISTS (SELECT 1 FROM archive a WHERE a.digest = i.digest)
),
kept AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY digest ORDER BY doc_id ASC) AS rn
  FROM fresh
)
SELECT doc_id, source FROM kept WHERE rn = 1
"""


def pipeline_oracles() -> dict[str, str]:
    return {
        "q_corpus_pipeline": CORPUS_PIPELINE_SQL,
        "q_incremental_dedup": INCREMENTAL_DEDUP_SQL,
        "q_hash_split_counts": HASH_SPLIT_SQL,
        "q_cap_per_source": CAP_PER_SOURCE_SQL,
        # survivors provably identical to the plain window — the salted
        # two-phase form must reproduce the same rows exactly
        "q_cap_per_source_salted": CAP_PER_SOURCE_SQL,
        "q_mix_weighted": MIX_WEIGHTED_SQL,
        "q_text_normalize": TEXT_NORMALIZE_SQL,
        "q_text_normalize_nfc": TEXT_NORMALIZE_NFC_SQL,
    }
