"""Text analysis operators for training-data pipelines: quality scoring,
language ID heuristic, token counting (whitespace + BPE-ish chunking),
document fingerprinting (polynomial rolling hash).

All pure Column expressions — per-row, codegen-fused, shuffle-free until
an explicit aggregation. Ratios are raw double divisions (deterministic
IEEE — no rounding needed); only cross-row float sums would need rounding
and none occur here.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve against globals
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import MERSENNE_31, md5_int60
from ..functions.text import STOPWORDS, tokens
from .sampling import cap_per_key

# polynomial fingerprint parameters (shared with the DuckDB oracle)
FP_BASE = 31
FP_POWERS = [pow(FP_BASE, e, MERSENNE_31) for e in range(8)]

# BPE-ish subword chunking: greedy ≤4-char word chunks — a deterministic
# stand-in for a real BPE vocab (token-count *estimator*, not a tokenizer)
SUBWORD_PATTERN = r"\w{1,4}"


def quality_metrics(docs: DataFrame) -> DataFrame:
    """Per-document quality features + composite score of the ``text``
    column.

    Columns: doc_id, n_tokens, n_uniq_tokens, n_chars, avg_token_len,
    stopword_ratio, uniq_ratio, quality_score.
    """
    toks = tokens(F.col("text"))
    n_tok = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    nonspace = F.length(F.regexp_replace(F.col("text"), r"\s+", ""))
    # `\w` in Java regex is ASCII-only: a CJK-only document tokenizes to
    # [] and a bare division would throw under ANSI mode (Spark 4
    # default) — token-free docs get ratio 0 / quality 0 by definition
    def ratio(num: F.Column) -> F.Column:
        return F.when(n_tok > 0, num / n_tok).otherwise(F.lit(0.0))

    stop_ratio = ratio(n_stop)
    uniq_ratio = ratio(n_uniq)
    score = F.when(
        n_tok > 0,
        F.lit(0.4) * uniq_ratio
        + F.lit(0.4) * (F.lit(1.0) - stop_ratio)
        + F.lit(0.2) * F.least(n_tok / F.lit(100.0), F.lit(1.0)),
    ).otherwise(F.lit(0.0))
    return docs.select(
        F.col("doc_id"),
        n_tok.alias("n_tokens"),
        n_uniq.alias("n_uniq_tokens"),
        F.length(F.col("text")).alias("n_chars"),
        ratio(nonspace).alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        uniq_ratio.alias("uniq_ratio"),
        score.alias("quality_score"),
    )


def language_id(docs: DataFrame) -> DataFrame:
    """Character-class language heuristic: CJK → zh, kana → ja, hangul →
    ko, cyrillic → ru, latin-with-diacritics → latin-ext, else en.

    (On the synthetic ASCII corpus this degenerates to 'en' — the value
    is the deterministic, oracle-checkable rule surface; swap a fastText
    pandas_udf here for a real corpus.) Output: one row per (lang,
    predicted_lang) with counts — the confusion-matrix shape.
    """
    t = F.col("text")
    predicted = (
        F.when(t.rlike(r"[一-鿿]"), "zh")
        .when(t.rlike(r"[぀-ヿ]"), "ja")
        .when(t.rlike(r"[가-힯]"), "ko")
        .when(t.rlike(r"[Ѐ-ӿ]"), "ru")
        .when(t.rlike(r"[À-ɏ]"), "latin-ext")
        .otherwise("en")
    )
    return (
        docs.select(F.col("lang"), predicted.alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-``source`` token accounting of the ``text`` column: whitespace
    tokens, BPE-ish subword estimate, chars; integer sums (exact) +
    double averages."""
    n_tok = F.size(tokens(F.col("text")))
    n_sub = F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(SUBWORD_PATTERN), 0))
    n_chars = F.length(F.col("text"))
    per_doc = docs.select(
        F.col("source"), n_tok.alias("nt"), n_sub.alias("ns"), n_chars.alias("nc")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("total_tokens"),
            F.sum("ns").alias("total_subwords"),
            F.sum("nc").alias("total_chars"),
        )
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "total_subwords",
            "total_chars",
            (F.col("total_tokens").cast("double") / F.col("n_docs")).alias("avg_tokens_per_doc"),
            (F.col("total_subwords").cast("double") / F.col("total_tokens")).alias(
                "subwords_per_token"
            ),
        )
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Order-sensitive polynomial fingerprint per ``doc_id`` over the
    token sequence of its ``text``:

        fp = Σ_i (md5_60(tok_i) mod p) * 31^(i mod 8) mod p   (mod p)

    with p = 2^31-1. Position-aware (unlike a bag-of-words hash) yet
    expressible as posexplode + one hash aggregate; every term < 2^62 so
    int64 arithmetic is exact and engine-portable.
    """
    exploded = docs.select(
        F.col("doc_id"), F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    h = md5_int60(F.col("tok")) % F.lit(MERSENNE_31)
    power = F.element_at(
        F.array(*[F.lit(p) for p in FP_POWERS]), (F.col("pos") % 8 + 1).cast("int")
    )
    term = (h * power) % F.lit(MERSENNE_31)
    return (
        exploded.select(F.col("doc_id"), term.alias("term"))
        .groupBy("doc_id")
        .agg((F.sum("term") % F.lit(MERSENNE_31)).alias("fingerprint"))
    )


def nfc_udf():
    """Arrow-batched Unicode NFC normalizer (``unicodedata.normalize``):
    the one text-cleanup step Spark has no built-in for. A pandas_udf
    keeps the Python hop vectorized per Arrow batch — this belongs at
    INGEST (run once, persist the result), not inside every query's hot
    path, which is why :func:`normalize_text` leaves it off by default."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    return _nfc


def clean_text(text: F.Column) -> F.Column:
    """The canonical cleanup chain as one Column:

    1. lowercase,
    2. collapse any whitespace run (spaces, tabs, newlines) to one space,
    3. strip remaining C0/DEL control characters,
    4. trim.

    Whitespace collapses *before* the control strip so ``a\\nb``
    becomes ``a b``, not ``ab``. normalize_text runs it over the corpus,
    and the char-shingle tier (operators/dedup.char_normalized_text) over
    its NFC output, so char shingles see exactly the persisted text."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(text), "\\s+", " "),
            "[\\x00-\\x1f\\x7f]",
            "",
        )
    )


def normalize_text(
    docs: DataFrame,
    extra_cols: tuple[str, ...] = (),
    nfc: bool = False,
) -> DataFrame:
    """Canonical text cleanup pass over a ``doc_id``/``text`` table —
    the transform every corpus runs before dedup/tokenization so that
    cosmetic variants (case, runs of whitespace, stray control bytes)
    hash identically downstream. The steps are the shared chain
    :func:`clean_text` (lowercase, collapse whitespace, strip C0/DEL
    controls, trim).

    Emits the normalized text plus audit columns (``changed``,
    ``chars_removed``) so a pipeline can report how much cleanup the
    corpus needed. Pure per-row Column expressions — codegen-fused into
    the scan, shuffle-free, trivially 100 TB-parallel.

    ``nfc=True`` additionally canonicalizes Unicode (NFC) FIRST, via the
    Arrow-batched :func:`nfc_udf` — so combining-mark variants of the
    same word ("café" vs "café") hash identically downstream.
    Off by default: it inserts a vectorized Python stage, which belongs
    in a run-once ingest pass, not in every query over the corpus (the
    default path stays 100% JVM-side)."""
    cleaned = clean_text(nfc_udf()(F.col("text")) if nfc else F.col("text"))
    return docs.select(
        F.col("doc_id"),
        cleaned.alias("norm_text"),
        (cleaned != F.col("text")).alias("changed"),
        (F.length("text") - F.length(cleaned)).alias("chars_removed"),
        *[F.col(c) for c in extra_cols],
    )


def corpus_exact_dedup(docs: DataFrame) -> DataFrame:
    """The corpus pipelines' shared head: exact dedup on normalized text,
    one row per distinct digest with the per-document features the later
    stages read. Columns: doc_id, source, digest, n_tokens, n_chars.

    1. NULL text is filtered first (the dedup-family convention of
       operators/dedup.exact_dedup): md5(NULL) would group every
       failed-fetch document under one digest and the k=1 cap would
       keep exactly one of them, with NULL features;
    2. :func:`normalize_text` (narrow, fused into the scan);
    3. per-row featurization — md5 digest, ``\\w+`` token count, char
       count of the normalized text — *before* any shuffle, dropping the
       text, so the one wide stage moves a few dozen bytes per row
       whatever the document size;
    4. keep-first per digest via ``cap_per_key`` with k=1 (min doc_id
       survives; WindowGroupLimit forwards one row per digest per map
       task)."""
    norm = normalize_text(docs.filter(F.col("text").isNotNull()), extra_cols=("source",))
    feat = norm.select(
        "doc_id",
        "source",
        F.md5("norm_text").alias("digest"),
        F.size(F.regexp_extract_all("norm_text", F.lit(r"\w+"), 0)).alias("n_tokens"),
        F.length("norm_text").alias("n_chars"),
    )
    return cap_per_key(feat, ["digest"], [F.col("doc_id").asc()], 1)
