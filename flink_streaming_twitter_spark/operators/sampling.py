"""Deterministic sampling / splitting / quota ops for training-data
pipelines.

The reference has no sampling surface (its four pipelines consume the
full stream — SURVEY.md §2.7 records the absence); these are north-star
extensions a 100 TB corpus pipeline needs: carve reproducible samples,
assign stable train/val/test splits, and cap any one domain's share of
the corpus.

Why md5 and not ``F.hash``/``rand``: the bucket must be (a) deterministic
across runs and engines — the DuckDB oracle computes the *same* bucket
from the same key, and a re-run of the pipeline on new hardware keeps
every document in the same split (the property that makes train/test
contamination auditable) — and (b) independent of partitioning.
``rand()`` fails (a) and (b); ``F.hash`` (Murmur3) is Spark-specific so
the oracle can't reproduce it. md5's first 8 hex digits give 32 uniform
bits, plenty for bucket assignment, and both engines expose md5 as a
lowercase-hex string. Cost: one cryptographic hash per row, JVM-side
(still whole-stage-codegen'd, no Python boundary).

Scale notes (100 TB): all three ops are embarrassingly parallel
narrow transforms except ``cap_per_key``, which shuffles once on the
partition key — same profile as any per-key top-k. A skewed domain
(one source = 30% of the corpus) makes one reducer hot; for that case
use ``cap_per_key_salted``: keep k per (key, salt) first — n_salts
reducers absorb the hot key — then k of the ≤ k·n_salts survivors,
with survivors provably identical to the single-window form.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hash_bucket(key: Column | str, n_buckets: int = 10_000) -> Column:
    """Engine-portable uniform bucket in ``[0, n_buckets)``: the first 8
    hex digits of ``md5(cast(key as string))`` read as an integer, mod
    ``n_buckets``. DuckDB twin:
    ``('0x' || substr(md5(COALESCE(CAST(key AS VARCHAR), '')), 1, 8))::BIGINT % n``.

    A NULL key hashes as the EMPTY STRING, never as NULL: md5(NULL)=NULL
    would propagate into the admission predicates, where ``NULL < t`` is
    NULL and a filter silently drops the row — ``hash_sample`` at
    fraction 1.0 losing every NULL-keyed document. NULL means "the key
    is missing", and all missing-key rows are the SAME key under the
    determinism contract (one shared in/out fate, one split label —
    deliberately colliding with a genuinely-empty-string key, which is
    the same pathology). The gate entries key on ``doc_id`` (never
    NULL), so the oracles see identical buckets."""
    col = F.col(key) if isinstance(key, str) else key
    return (
        F.conv(
            F.substring(F.md5(F.coalesce(col.cast("string"), F.lit(""))), 1, 8), 16, 10
        ).cast("bigint")
        % F.lit(n_buckets)
    )


def hash_sample(
    df: DataFrame, key: str, fraction: float, n_buckets: int = 10_000
) -> DataFrame:
    """Keep rows whose bucket falls below ``fraction`` of the bucket
    space — a reproducible Bernoulli-style sample keyed on ``key``
    (same key ⇒ same in/out decision everywhere, forever)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    return df.filter(hash_bucket(key, n_buckets) < int(round(fraction * n_buckets)))


def hash_split(
    df: DataFrame,
    key: str,
    splits: Sequence[tuple[str, float]],
    n_buckets: int = 10_000,
) -> DataFrame:
    """Assign each row a stable split label (e.g. train/val/test), in a
    ``split`` column, from cumulative bucket ranges. ``splits`` is an
    ordered list of ``(label, weight)`` with weights summing to 1.0; the
    bucket space is carved into contiguous ranges in that order, so a
    given key's label never changes when *other* splits are re-weighted
    upstream of it.
    """
    total = sum(w for _, w in splits)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1.0, got {total}")
    if len({label for label, _ in splits}) != len(splits):
        raise ValueError("duplicate split labels")
    bucket = hash_bucket(key, n_buckets)
    expr: Column | None = None
    cum = 0.0
    for label, weight in splits:
        cum += weight
        hi = int(round(cum * n_buckets))
        branch = bucket < F.lit(hi)
        expr = F.when(branch, label) if expr is None else expr.when(branch, label)
    # float rounding can leave bucket == n_buckets-1 unassigned; the last
    # label absorbs the remainder so the split is total
    assert expr is not None
    return df.withColumn("split", expr.otherwise(splits[-1][0]))


def weighted_mix(
    df: DataFrame,
    domain_col: str,
    key: str,
    fractions: dict[str, float],
    default_fraction: float = 1.0,
    n_buckets: int = 10_000,
) -> DataFrame:
    """Domain-weighted corpus mixing: keep a per-domain fraction of rows
    (e.g. 100% of curated sources, 20% of web crawl), decided by the
    same deterministic md5 bucket as :func:`hash_sample` so the mix is
    reproducible row-for-row. Thresholds are precomputed integers —
    no float arithmetic crosses the engine boundary. A narrow
    filter (no shuffle); at 100 TB this is the scan-time admission
    gate in front of every downstream op."""
    for dom, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {dom!r} must be in [0,1], got {frac}")
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError(f"default_fraction must be in [0,1], got {default_fraction}")
    thresh: Column = F.lit(int(round(default_fraction * n_buckets)))
    for dom, frac in fractions.items():
        thresh = (
            F.when(F.col(domain_col) == dom, int(round(frac * n_buckets)))
            .otherwise(thresh)
        )
    return df.filter(hash_bucket(key, n_buckets) < thresh)


def cap_per_key(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_cols: Sequence[Column | str],
    k: int,
) -> DataFrame:
    """Keep at most ``k`` rows per partition key, by rank under
    ``order_cols`` — the domain-quota op (no single source may
    contribute more than k documents). ``order_cols`` must be a total
    order (include a unique id as the final tiebreak) or the survivor
    set is nondeterministic. One shuffle on ``partition_cols``; for a
    pathologically hot key see the salted two-phase variant note in the
    module docstring."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def cap_per_key_salted(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_cols: Sequence[Column | str],
    k: int,
    n_salts: int = 16,
    salt_from: Sequence[str] | None = None,
) -> DataFrame:
    """Skew-resistant two-phase form of :func:`cap_per_key` for a
    pathologically hot key (one domain = 30% of a 100 TB corpus would
    otherwise serialize through a single reducer's window sort):

    phase 1 keeps k per ``(key, salt)`` — the hot key's rows spread over
    ``n_salts`` reducers, each sorting only its shard — and phase 2 runs
    the plain window over the ≤ k·n_salts survivors per key, a
    negligible input regardless of skew.

    Survivors are IDENTICAL to ``cap_per_key``'s for any total order
    (``order_cols`` must include a unique tiebreak, same contract):
    each of the global top-k rows of a key has at most k-1 rows of that
    key ranked above it overall, hence at most k-1 in its own salt
    bucket — so every global top-k row survives phase 1, and phase 2
    applies the very same ranking to a superset-free candidate pool.

    The per-row salt is deterministic (``pmod(hash(salt_from), n_salts)``,
    default: all columns) so retries and speculative tasks agree —
    never ``rand()``.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_salts < 2:
        raise ValueError(f"n_salts must be >= 2, got {n_salts}")
    salt_cols = [F.col(c) for c in (salt_from or df.columns)]
    salted = df.withColumn("__salt", F.pmod(F.hash(*salt_cols), F.lit(n_salts)))
    w1 = Window.partitionBy(*partition_cols, "__salt").orderBy(*order_cols)
    survivors = (
        salted.withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= k)
        .drop("__rn", "__salt")
    )
    return cap_per_key(survivors, partition_cols, order_cols, k)
