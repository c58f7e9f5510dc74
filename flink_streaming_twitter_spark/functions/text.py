"""Text column expressions: tokenization, hashtag extraction, shingling,
quality metrics.

Reference parity: the only tokenizer in the reference is the hashtag
regex ``#\\w+`` applied per tweet with 0..n matches emitted
(TokenizeTweetTextFlatMap, Main.java:180-200, pattern Main.java:189).
``regexp_extract_all`` + ``explode`` is the exact Spark analog (F1 in
SURVEY.md §2.3) and stays inside whole-stage codegen.

Everything here is a pure Column builder — usable identically in batch and
streaming plans.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HASHTAG_PATTERN = r"#\w+"
TOKEN_PATTERN = r"\w+"
# Deterministic stopword list for quality scoring (the synthetic corpus is
# lowercase word soup; these are its high-frequency glue words).
STOPWORDS = ("a", "an", "the", "of", "to", "and", "in", "is")


def hashtags(text: Column) -> Column:
    """Array of ``#\\w+`` matches (Main.java:189 semantics; the reference's
    ``.trim()`` per match is a no-op given the pattern — SURVEY.md P5)."""
    return F.regexp_extract_all(text, F.lit(HASHTAG_PATTERN), 0)


def tokens(text: Column) -> Column:
    """Array of word tokens of the lowercased text."""
    return F.regexp_extract_all(F.lower(text), F.lit(TOKEN_PATTERN), 0)


def word_shingles(toks: Column, k: int = 3) -> Column:
    """k-word shingles (space-joined) from a token-array column
    (``tokens(text)``, projected by the caller as its own column).

    The input is the token ARRAY, not the text: the shingle at position
    i is ``slice(toks, i, k)`` inside a ``transform`` lambda, and a
    lambda that captured ``tokens(text)`` would re-run the regex over the
    whole document once per shingle — quadratic in document length
    (Catalyst does not hoist a lambda-captured expression). Callers
    therefore project ``tokens(text)`` in a Project of its own and pass
    that column here, the way the char tier projects its normalized
    text (operators.dedup.doc_shingle_sets does both).

    Built from ``transform`` + ``slice`` over the token array — pure
    Catalyst expressions, no UDF. Documents with 1..k-1 words produce a
    single shingle of all their tokens; ZERO-token documents (empty/
    whitespace-only text, or text the ASCII ``\\w`` tokenizer matches
    nothing in — emoji-only, CJK-script) produce NO shingles (round 10,
    caught by the Unicode edge-corpus audit: the old all-tokens rule
    gave every contentless doc the same ``md5('')`` shingle, so they
    all paired as mutual perfect near-dups on the Spark side, while the
    oracle's equivalent row collapsed to ``sh = NULL`` and silently
    dropped from its joins — disagreement by two different accidents;
    "no tokenizable content" is now no shingle evidence on both sides,
    the same principle as NULL text).
    """
    n = F.size(toks)
    # positions 1 .. max(1, n-k+1); slice(toks, i, k) is the shingle at i.
    # The zero-token case is the ONLY one that can emit '' (tokens are
    # \w+ runs, so any real shingle is non-empty) — array_remove drops
    # it in one pass over the tiny shingle array, without a when()
    # branch that would reference the token array a third time.
    return F.array_remove(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1))),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        ),
        "",
    )


def word_shingle_hashes(toks: Column, k: int = 3, bits: int = 31) -> Column:
    """md5-derived hash per k-word shingle of a token-array column (see
    :func:`word_shingles` for why the input is the array), as one
    row-wise array — the shuffle-free building block for dedup sketches
    (the hashes match functions.hashing.md5_int31 / md5_int60 so DuckDB
    oracles reproduce them). ``bits=31`` is the default because MinHash's mod-p universal
    hashing needs multiplicands below 2^31 (no int64 overflow) and the
    oracles pin it; ``bits=60`` is for the EXACT-Jaccard path at real
    corpus scale, where distinct-shingle counts cross the 2^31 birthday
    regime (measured: ~20 collisions at 3e5 shingles, SCALE.md r6)."""
    from .hashing import md5_int31, md5_int60

    if bits not in (31, 60):
        raise ValueError(f"bits must be 31 or 60, got {bits}")
    hash_fn = md5_int31 if bits == 31 else md5_int60
    return F.transform(word_shingles(toks, k), hash_fn)
