"""dedup_clusters_char_union — the two-tier evidence-union params
variant of dedup_clusters (VERDICT r12 item 7).

Evidence = exact-dup star edges ∪ WORD-tier MinHash-LSH pairs ∪
CHAR-tier MinHash-LSH pairs, closed by connected components — the
deploy shape for a multilingual corpus, where the word tier alone
leaves non-``\\w`` scripts (CJK, emoji-only) without near-dup evidence
(plans/dedup.py::dedup_minhash_lsh_char rationale) and the char tier
alone would skip nothing but costs an extra shingle pass; the union
gives every script SOME evidence tier and one keep-decision per
connected group. Parameters are exactly the two shipped tiers'
(plans/params.py + CHAR_SHINGLE_K), so this entry certifies the UNION
semantics, not new knobs.

This is the scenario the round-12 shared-lineage A/B said would make a
shared materialization worthwhile (SCALE.md round-12 block: per-tier
vs shared lineage was wall-neutral with ONE shingle tier; a second
tier re-runs the duplicate-key resolution + text load). The shipped
plan keeps the family's per-tier lineage (each tier is the verbatim
shipped operator — oracle-comparable by construction); the measured
shared-lineage contrast for THIS entry lives in
tools/ab_shared_lineage.py @ c770c40 (variant C/D) and its verdict in SCALE.md.

Module placement: its own module, not plans/dedup.py, for the same
rotation-blast-radius reason the multi-probe constant lives in
plans/similarity.py rather than params.py (round 12) — adding a
variant must not mark the ten sibling dedup entries as
rotation-affected when none of their code changed. Imports FROM
plans.dedup are one-way (this module's closure includes plans/dedup.py,
so a semantic change THERE correctly marks this entry affected too,
never the reverse).

Reference parity: the reference has no dedup at all (its 914 lines are
the streaming trend pipeline, Main.java); this family exists for the
100 TB training-data-pipeline surface (SURVEY.md §2 extension block).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..sources.files import load_table
from . import params as P
from .dedup import (
    CHAR_SHINGLE_K,
    _char_shingles_sql,
    _cluster_output,
    _clusters_sql,
    _dup_evidence,
    _minhash_sig_sql,
)


def dedup_clusters_char_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union the word-tier evidence chain (exact star edges + word
    MinHash-LSH pairs — plans/dedup.py::_dup_evidence, verbatim) with
    the char-tier near-dup pairs (the dedup_minhash_lsh_char operator,
    verbatim), then one connected-components closure over the combined
    edge set. Same duplicate-key contract as the siblings: the node set
    seeds from DISTINCT doc_id, and every tier resolves re-delivered
    keys via one_row_per_key/arg_min before hashing. Both tiers use the
    pinned params.py gate, and the closure is plain propagation."""
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    char_pairs = D.minhash_lsh_dedup(
        docs,
        num_perm=P.MINHASH_PERMS,
        bands=P.MINHASH_BANDS,
        est_threshold=P.MINHASH_EST_THRESHOLD,
        shingle_k=CHAR_SHINGLE_K,
        shingle_mode="char",
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    comp = connected_components(
        _dup_evidence(docs).union(char_pairs),
        nodes=docs.select(F.col("doc_id").alias("id")).distinct(),
    )
    return _cluster_output(comp)


def _suffix_ctes(frag: str, names: tuple[str, ...], suffix: str) -> str:
    """Rename the given CTE identifiers in a generated SQL fragment with
    a word-boundary regex so the word- and char-tier chains (which both
    emit ``shingles``/``sigs``) can coexist in one WITH clause. Safe on
    these fragments by construction: the names appear only as CTE
    identifiers (tokens like ``nfc_normalize`` / ``_shingles_sql`` embed
    them behind word characters, which ``\\b`` does not split)."""
    pat = re.compile(r"\b(" + "|".join(map(re.escape, names)) + r")\b")
    return pat.sub(lambda m: m.group(0) + suffix, frag)


def _slice(src: str, start: str, end: str) -> str:
    """src[start_anchor : end_anchor) — raises ValueError (str.index)
    with the missing anchor if _clusters_sql's shape ever changes, so
    the union oracle fails LOUDLY at build time instead of silently
    assembling a stale transformation."""
    i = src.index(start)
    return src[i : src.index(end, i)]


def _clusters_char_union_sql() -> str:
    """The dedup_clusters recursive-CTE oracle with a second near-pair
    tier, built by TRANSFORMING ``_clusters_sql()``'s own text rather
    than re-stating any of it: the word chain, exact_pairs, edges, and
    reach closure are the base oracle VERBATIM (a future contract fix
    there — the round-9/10/11 NULL/dupkey class — flows into this
    oracle automatically); the char tier is the base's banded/near_pairs
    blocks with relations suffixed ``_c`` plus the char shingle/sig
    chain, and the edge union gains the two char terms. Anchored
    string surgery with loud failure (see _slice) — the anchors are the
    CTE names the base oracle has carried since round 6."""
    base = _clusters_sql()

    # the word tier's banded + near_pairs blocks, re-pointed at the
    # char-tier relations (same banding, same est-Jaccard gate)
    banded_block = _slice(base, "banded AS (", ",\nnear_pairs AS (")
    near_block = _slice(base, "near_pairs AS (", ",\nexact_pairs AS (")
    char_banded = _suffix_ctes(banded_block, ("banded", "sigs"), "_c")
    char_near = _suffix_ctes(near_block, ("near_pairs", "banded", "sigs"), "_c")
    char_chain = _suffix_ctes(_char_shingles_sql(), ("norm", "nz", "shingles"), "_c")
    char_sigs = _suffix_ctes(
        _minhash_sig_sql(P.MINHASH_PERMS), ("sigs", "shingles"), "_c"
    )

    insert_at = ",\nexact_pairs AS ("
    assert insert_at in base  # _slice above already proved it
    union_sql = base.replace(
        insert_at,
        ",\n"
        + char_chain.strip().rstrip(",")
        + ",\n"
        + char_sigs
        + ",\n"
        + char_banded
        + ",\n"
        + char_near
        + insert_at,
        1,
    )
    word_edge_tail = "  UNION SELECT dst, src FROM near_pairs\n)"
    if word_edge_tail not in union_sql:
        raise ValueError("edges CTE anchor missing from _clusters_sql")
    return union_sql.replace(
        word_edge_tail,
        "  UNION SELECT dst, src FROM near_pairs\n"
        "  UNION SELECT src, dst FROM near_pairs_c\n"
        "  UNION SELECT dst, src FROM near_pairs_c\n)",
        1,
    )


DEDUP_UNION_QUERIES = {
    "dedup_clusters_char_union": dedup_clusters_char_union,
}


def dedup_union_oracles() -> dict[str, str]:
    return {"dedup_clusters_char_union": _clusters_char_union_sql()}
