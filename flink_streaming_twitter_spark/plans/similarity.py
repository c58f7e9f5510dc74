"""Similarity-search queries() entries + DuckDB oracles.

The oracle recomputes cosine in explicit DOUBLE arithmetic; both sides
round to 6 decimals before ranking, which absorbs engine-level summation
order. Hyperplanes for the LSH variant are regenerated as SQL literals
from the same md5 derivation the Spark side uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import brute_force_topk, hyperplane, ivf_topk, lsh_topk
from ..sources.files import load_table
from . import params as P

EMB_DIM = 64


def _corpus_queries(spark: SparkSession, sf_dir: str):
    emb = load_table(spark, sf_dir, "embeddings")
    return emb, emb.filter(F.col("vec_id") < P.ANN_NUM_QUERIES)


def similarity_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, queries = _corpus_queries(spark, sf_dir)
    return brute_force_topk(corpus, queries, P.ANN_TOP_K)


def similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, queries = _corpus_queries(spark, sf_dir)
    return lsh_topk(corpus, queries, P.ANN_TOP_K, num_planes=P.LSH_NUM_PLANES, dim=EMB_DIM)


# Probe count for the multi-probe gate entry. Deliberately NOT in
# plans/params.py: params sits in the import closure of every plan
# module, so widening it would mark the whole surface rotation-affected
# for a constant only this module reads.
LSH_N_PROBES = 3


def similarity_lsh_topk_probe3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN (n_probes=3) — the recall dial at scale
    (operators/similarity.py::lsh_probe_buckets): each query probes its
    own bucket plus the two buckets reached by flipping its
    lowest-|margin| hyperplane signs, so recall rises while per-query
    cost stays probes x corpus/2^planes and the corpus index is
    UNCHANGED (re-hashing with more planes is the expensive dial).
    Params variant of similarity_lsh_topk; the oracle reproduces the
    probe-bucket expansion (base + two min-margin flips, ties by plane
    index) in SQL."""
    corpus, queries = _corpus_queries(spark, sf_dir)
    return lsh_topk(
        corpus,
        queries,
        P.ANN_TOP_K,
        num_planes=P.LSH_NUM_PLANES,
        dim=EMB_DIM,
        n_probes=LSH_N_PROBES,
    )


def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, queries = _corpus_queries(spark, sf_dir)
    return ivf_topk(
        corpus,
        queries,
        P.ANN_TOP_K,
        nprobe=P.IVF_NPROBE,
        seed_mod=P.IVF_SEED_MOD,
        seed_rem=P.IVF_SEED_REM,
    )


EMB_NEAR_THRESHOLD = 0.35  # synthetic vectors are near-orthogonal; this
# surfaces the top few percent of pairs (semantics, not magic number)


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: candidates restricted to the same
    LSH bucket (the 100 TB path — Σ_bucket n² work instead of n²), exact
    cosine verification ≥ threshold. (doc-level dedup via embeddings —
    the fourth dedup modality after exact/minhash/simhash.)"""
    from pyspark.sql import functions as FF

    from ..operators.similarity import lsh_bucket

    emb = load_table(spark, sf_dir, "embeddings")
    # persist across the self-join: the 8-plane bucket signature is a
    # per-row HOF pass that AQE would otherwise recompute on both sides
    # (ReuseExchange doesn't fire under AQE re-planning; measured 3x).
    # The L2 norm rides along so the per-pair verify is a single dot
    # product (norms-once-per-row — operators/similarity.py module
    # docstring; dot/(x.norm*y.norm) multiplies the identical doubles in
    # the per-pair cosine's order, bit-identical results).
    from ..functions.vectors import dot_product, l2_norm

    # Unscorable-vector contract (operators/similarity.py module
    # docstring) applies to this fourth dedup modality too: filter on
    # the carried norm BEFORE the self-join — NULL and nullified
    # non-finite norms compare NULL, so one predicate drops NULL
    # embeddings, zero vectors, and NaN/inf-component vectors alike.
    # Without it one encoder-failure row crashes the whole pass under
    # ANSI mode (0/0 → DIVIDE_BY_ZERO; caught by the round-9 NULL-corpus
    # oracle audit — the ANN tiers filtered, this entry didn't) and one
    # float glitch floods the pair stream with NaN ≥ threshold rows.
    from ..functions.numeric import finite_or_null

    b = (
        emb.select(
            "vec_id",
            "embedding",
            l2_norm(F.col("embedding")).alias("norm"),
            lsh_bucket(F.col("embedding"), P.LSH_NUM_PLANES, EMB_DIM).alias("bucket"),
        )
        .filter(finite_or_null(F.col("norm")) > 0)
        .persist()
    )
    x, y = b.alias("x"), b.alias("y")
    cos = FF.round(
        dot_product(FF.col("x.embedding"), FF.col("y.embedding"))
        / (FF.col("x.norm") * FF.col("y.norm")),
        6,
    )
    return (
        x.join(
            y,
            (FF.col("x.bucket") == FF.col("y.bucket"))
            & (FF.col("x.vec_id") < FF.col("y.vec_id")),
        )
        .select(
            FF.col("x.vec_id").alias("vec_a"),
            FF.col("y.vec_id").alias("vec_b"),
            cos.alias("cos_sim"),
        )
        .filter(FF.col("cos_sim") >= EMB_NEAR_THRESHOLD)
    )


def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-norm profile via array higher-order functions
    (functions/vectors.py::l2_norm — F.aggregate over the array, JVM-side,
    no Python). Per-row norms are rounded to 6dp and summed in DECIMAL so
    the cross-row average is order-independent and engine-exact; min/max
    need no such care (no summation). A non-finite norm (NaN/inf vector
    component) is nullified like a NULL vector's (functions/numeric.py
    contract): it contributes nothing to the moments while the row still
    counts in n_vecs/avg_norm's denominator — previously Spark's decimal
    cast nullified it silently while the oracle's HUGEINT sum crashed
    (round-10 edge-corpus audit)."""
    from ..functions.numeric import finite_or_null
    from ..functions.vectors import l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    norm6 = F.round(finite_or_null(l2_norm(F.col("embedding"))), 6).cast(
        "decimal(28,6)"
    )
    return (
        emb.select("label", norm6.alias("norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.sum("norm").cast("double") / F.count(F.lit(1)), 6).alias(
                "avg_norm"
            ),
            F.min("norm").cast("double").alias("min_norm"),
            F.max("norm").cast("double").alias("max_norm"),
        )
    )


SIMILARITY_QUERIES = {
    "q_embedding_norms": q_embedding_norms,
    "similarity_brute_topk": similarity_brute_topk,
    "similarity_lsh_topk": similarity_lsh_topk,
    "similarity_lsh_topk_probe3": similarity_lsh_topk_probe3,
    "similarity_ivf_topk": similarity_ivf_topk,
    "dedup_embedding_cosine": dedup_embedding_cosine,
}

_COS = """
round(
  list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
  / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
     * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))),
  6)
"""

# The ANN tiers' unscorable-vector contract (operators/similarity.py
# module docstring): NULL, zero-norm, and (round 10) non-finite
# embeddings take part on NEITHER side. The oracles reproduce it with
# this shared prefix so parity holds by construction on NULL- and
# NaN/inf-bearing corpora, not by ordering accident or shared
# convention (round-9 audit: rows with sim=NULL happened to rank below
# top-k in the brute/IVF oracles, while the LSH/cosine oracles CRASHED
# outright — DuckDB's list_inner_product rejects any vector batch
# containing a NULL list, which is also why the IS-NOT-NULL filter sits
# in its own MATERIALIZED CTE: it must be applied before any dot
# product sees the batch, and an inlined filter's evaluation order is
# not guaranteed. Round-10 edge audit: both engines rank NaN above
# every real cosine, so a NaN-component vector topped every neighbor
# list in perfect cross-engine agreement — garbage by convention; the
# finiteness test makes such vectors unscorable instead).
_SCORABLE = """nonnull AS MATERIALIZED (
  SELECT * FROM embeddings WHERE embedding IS NOT NULL
),
scorable AS (
  SELECT * EXCLUDE (_nsq) FROM (
    SELECT *, list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[])) AS _nsq
    FROM nonnull
  ) WHERE isfinite(_nsq) AND _nsq > 0
)"""

BRUTE_SQL = f"""
WITH {_SCORABLE},
q AS (SELECT * FROM scorable WHERE vec_id < {P.ANN_NUM_QUERIES}),
sims AS (
  SELECT q.vec_id AS q_id, c.vec_id AS vec_id, {_COS} AS sim
  FROM scorable c CROSS JOIN q
  WHERE c.vec_id <> q.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rank
  FROM sims
)
SELECT q_id, vec_id, sim, rank FROM ranked WHERE rank <= {P.ANN_TOP_K}
"""


def _plane_literal(j: int) -> str:
    comps = hyperplane(j, EMB_DIM)
    return "[" + ", ".join(repr(c) for c in comps) + "]::DOUBLE[]"


def _bucket_expr(alias: str) -> str:
    bits = []
    for j in range(P.LSH_NUM_PLANES):
        dot = (
            f"round(list_dot_product(CAST({alias}.embedding AS DOUBLE[]), {_plane_literal(j)}), 6)"
        )
        bits.append(f"CASE WHEN {dot} >= 0 THEN {1 << j} ELSE 0 END")
    return "(" + " + ".join(bits) + ")"


def _lsh_sql() -> str:
    return f"""
WITH {_SCORABLE},
b AS (
  SELECT vec_id, embedding, {_bucket_expr('scorable')} AS bucket FROM scorable
),
q AS (SELECT vec_id AS q_id, embedding, bucket AS q_bucket FROM b WHERE vec_id < {P.ANN_NUM_QUERIES}),
sims AS (
  SELECT q.q_id, c.vec_id, {_COS} AS sim
  FROM b c JOIN q ON c.bucket = q.q_bucket
  WHERE c.vec_id <> q.q_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rank
  FROM sims
)
SELECT q_id, vec_id, sim, rank FROM ranked WHERE rank <= {P.ANN_TOP_K}
"""


def _dot_expr(alias: str, j: int) -> str:
    return (
        f"round(list_dot_product(CAST({alias}.embedding AS DOUBLE[]), "
        f"{_plane_literal(j)}), 6)"
    )


_COS_QVEC = """
round(
  list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(q.q_vec AS DOUBLE[]))
  / (sqrt(list_dot_product(CAST(q.q_vec AS DOUBLE[]), CAST(q.q_vec AS DOUBLE[])))
     * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))),
  6)
"""


def _lsh_probe_sql() -> str:
    """Multi-probe twin of _lsh_sql: per query expose the 8 rounded
    plane dots (the same doubles the Spark accumulator rounds), derive
    the base bucket from their signs, rank planes by (|dot|, plane) and
    flip the LSH_N_PROBES-1 smallest — base XOR 2^j — then candidate-join
    every probed bucket. The three probed buckets are pairwise distinct
    and each corpus vector owns ONE bucket, so a (q_id, vec_id) pair
    appears at most once on both engines and the re-rank needs no
    dedup, exactly like the Spark side.

    The flip ranking partitions by a synthetic ROW id, not by q_id:
    Spark's flip set is a per-ROW array_sort, so on an at-least-once
    corpus where a query vec_id is re-delivered, partitioning by q_id
    would merge the copies' margin lists and rank the smallest plane
    twice — probing a duplicate bucket and DROPPING the second-smallest
    flip (caught by the round-12 dupkey-corpus sweep: the merged
    partition lost one probe bucket and with it a true neighbor)."""
    planes = range(P.LSH_NUM_PLANES)
    dots = ",\n         ".join(f"{_dot_expr('scorable', j)} AS d{j}" for j in planes)
    base = " + ".join(f"CASE WHEN d{j} >= 0 THEN {1 << j} ELSE 0 END" for j in planes)
    margins = "\n  UNION ALL ".join(
        f"SELECT rid, {j} AS j, abs(d{j}) AS m FROM qb" for j in planes
    )
    return f"""
WITH {_SCORABLE},
b AS (
  SELECT vec_id, embedding, {_bucket_expr('scorable')} AS bucket FROM scorable
),
qd AS MATERIALIZED (
  -- MATERIALIZED is load-bearing, same reason as _SCORABLE's nonnull
  -- CTE: DuckDB inlines multiply-referenced CTEs, and an inlined
  -- row_number() OVER () re-evaluates per reference site with no
  -- guaranteed shared enumeration order — flips and qbuckets could
  -- then disagree on which row is rid 1 and attach one query's flip
  -- planes to another's base bucket. Materializing computes rid once
  -- (and the 8 dots once instead of per margins-UNION branch).
  SELECT vec_id AS q_id, embedding AS q_vec,
         row_number() OVER () AS rid,
         {dots}
  FROM scorable WHERE vec_id < {P.ANN_NUM_QUERIES}
),
qb AS (SELECT *, ({base}) AS base FROM qd),
margins AS (
  {margins}
),
flips AS (
  SELECT rid, j FROM (
    SELECT rid, j, row_number() OVER (PARTITION BY rid ORDER BY m ASC, j ASC) AS fr
    FROM margins
  ) WHERE fr <= {LSH_N_PROBES - 1}
),
qbuckets AS (
  SELECT q_id, q_vec, base AS q_bucket FROM qb
  UNION ALL
  SELECT qb.q_id, qb.q_vec, xor(qb.base, 1 << f.j) AS q_bucket
  FROM qb JOIN flips f USING (rid)
),
sims AS (
  SELECT q.q_id, c.vec_id, {_COS_QVEC} AS sim
  FROM b c JOIN qbuckets q ON c.bucket = q.q_bucket
  WHERE c.vec_id <> q.q_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rank
  FROM sims
)
SELECT q_id, vec_id, sim, rank FROM ranked WHERE rank <= {P.ANN_TOP_K}
"""


_COS_XY = """
round(
  list_dot_product(CAST(x.embedding AS DOUBLE[]), CAST(y.c_vec AS DOUBLE[]))
  / (sqrt(list_dot_product(CAST(x.embedding AS DOUBLE[]), CAST(x.embedding AS DOUBLE[])))
     * sqrt(list_dot_product(CAST(y.c_vec AS DOUBLE[]), CAST(y.c_vec AS DOUBLE[])))),
  6)
"""


def _ivf_sql() -> str:
    return f"""
WITH {_SCORABLE},
cents AS (
  SELECT vec_id AS cent_id, embedding AS c_vec FROM scorable
  WHERE vec_id % {P.IVF_SEED_MOD} = {P.IVF_SEED_REM}
),
assigned AS (
  SELECT vec_id, embedding, cent_id FROM (
    SELECT x.vec_id, x.embedding, y.cent_id,
           row_number() OVER (PARTITION BY x.vec_id
                              ORDER BY {_COS_XY} DESC, y.cent_id ASC) AS crank
    FROM scorable x CROSS JOIN cents y
  ) WHERE crank = 1
),
probes AS (
  SELECT vec_id AS q_id, embedding AS q_vec, cent_id FROM (
    SELECT x.vec_id, x.embedding, y.cent_id,
           row_number() OVER (PARTITION BY x.vec_id
                              ORDER BY {_COS_XY} DESC, y.cent_id ASC) AS crank
    FROM scorable x CROSS JOIN cents y
    WHERE x.vec_id < {P.ANN_NUM_QUERIES}
  ) WHERE crank <= {P.IVF_NPROBE}
),
sims AS (
  SELECT p.q_id, c.vec_id,
         round(
           list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(p.q_vec AS DOUBLE[]))
           / (sqrt(list_dot_product(CAST(p.q_vec AS DOUBLE[]), CAST(p.q_vec AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))),
           6) AS sim
  FROM assigned c JOIN probes p ON c.cent_id = p.cent_id
  WHERE c.vec_id <> p.q_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rank
  FROM sims
)
SELECT q_id, vec_id, sim, rank FROM ranked WHERE rank <= {P.ANN_TOP_K}
"""


def _emb_cosine_dedup_sql() -> str:
    return f"""
WITH {_SCORABLE},
b AS (
  SELECT vec_id, embedding, {_bucket_expr('scorable')} AS bucket FROM scorable
),
pairs AS (
  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
         round(
           list_dot_product(CAST(x.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[]))
           / (sqrt(list_dot_product(CAST(x.embedding AS DOUBLE[]), CAST(x.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(y.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[])))),
           6) AS cos_sim
  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
)
SELECT vec_a, vec_b, cos_sim FROM pairs WHERE cos_sim >= {EMB_NEAR_THRESHOLD}
"""


EMBEDDING_NORMS_SQL = """
WITH raw AS (
  SELECT label,
         sqrt(list_sum(list_transform(
             CAST(embedding AS DOUBLE[]), x -> x * x))) AS n0
  FROM embeddings
),
norms AS (
  -- non-finite contract (functions/numeric.py): a NaN/inf norm is
  -- nullified like a NULL vector's — the guard must run BEFORE the
  -- DECIMAL cast, whose HUGEINT sum rejects NaN
  SELECT label,
         CAST(round(CASE WHEN isfinite(n0) THEN n0 END, 6)
              AS DECIMAL(28,6)) AS norm
  FROM raw
)
SELECT label,
       count(*) AS n_vecs,
       round(CAST(sum(norm) AS DOUBLE) / count(*), 6) AS avg_norm,
       CAST(min(norm) AS DOUBLE) AS min_norm,
       CAST(max(norm) AS DOUBLE) AS max_norm
FROM norms GROUP BY label
"""


def similarity_oracles() -> dict[str, str]:
    return {
        "q_embedding_norms": EMBEDDING_NORMS_SQL,
        "similarity_brute_topk": BRUTE_SQL,
        "similarity_lsh_topk": _lsh_sql(),
        "similarity_lsh_topk_probe3": _lsh_probe_sql(),
        "similarity_ivf_topk": _ivf_sql(),
        "dedup_embedding_cosine": _emb_cosine_dedup_sql(),
    }
