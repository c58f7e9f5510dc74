"""Similarity search over embedding columns (array<float>).

Two tiers (SURVEY.md north-star):

- brute-force cosine top-k: broadcast the (small) query set against the
  full corpus — one narrow pass over the big side, no shuffle of vectors;
  per-query ranking shuffles only (q_id, vec_id, sim) triples. This is
  the exact baseline every ANN variant is judged against.
- random-hyperplane LSH: 8 deterministic hyperplanes → 8-bit bucket per
  vector; candidates are bucket-mates of the query (expected corpus/256
  per bucket), exact cosine re-rank inside the bucket. The scale path: at
  100 TB the bucketing is a single hash-partitioned write, queries touch
  one partition each, and recall/cost is tuned by bits and multi-probe.

All vector math is Catalyst higher-order functions in DOUBLE
(functions/vectors.py) — no UDFs; cosines are rounded to 6 decimals
before ranking so results are stable across engines (summation-order
differences live far below 1e-6).

Hyperplane components are md5-derived rationals (m/1000 with m in
[-1000, 1000]), so the DuckDB oracle regenerates identical planes.

Unscorable-vector contract (every tier, both sides): NULL embeddings,
all-zero vectors (norm 0 ⇒ 0/0), and — since round 10 — vectors with
non-finite components (norm NaN/inf) cannot be cosine-scored and take
part in nothing — no ``sim=NULL`` ranking rows, no spurious sign-hash
bucket-0 neighbors (``NULL >= 0`` falls to the otherwise(0) branch on
every plane), no zero-norm IVF centroids, and no NaN-normed garbage
ranking FIRST in every similarity list (both engines order NaN above
every real cosine, so before round 10 a single NaN-component encoder
glitch would have topped every query's neighbors — parity held, by
shared convention, but the answers were garbage). Real corpora DO
carry encoder failures as NULLs and float glitches as NaN/inf;
"unknown similarity" must not surface as a neighbor. Each tier filters
``finite_or_null(l2_norm) > 0`` on the per-row norm it already carries
(one predicate covers all four cases: NULL and nullified non-finite
norms compare NULL), so the contract costs no extra array traversal.
The DuckDB oracles reproduce the filter (the ``scorable`` CTE in
plans/similarity.py — round 9 for NULL/zero, round 10 for finiteness),
so operator/oracle parity holds by construction on NULL- and
non-finite-bearing corpora — verified by the full-suite audits on the
augmented corpora — and the contract is pinned by
tests/test_similarity_and_multimodal.py::test_unscorable_vectors_excluded_from_all_ann_tiers
plus test_embedding_cosine_dedup_survives_unscorable_vectors for the
embedding-dedup modality.

Norms-once-per-row discipline (every tier): the candidate re-rank
computes ``dot/(q_norm*v_norm)`` from norms carried per ROW — never
a per-pair ``dot_product(a, b) / (l2_norm(a) * l2_norm(b))``, which
would re-traverse both arrays for every candidate. The carried form
multiplies the identical doubles in the same order, so results are
bit-identical.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import finite_or_null
from ..functions.vectors import dot_product, l2_norm

ROUND_DECIMALS = 6


def hyperplane(plane_idx: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane component c_{j,d} =
    ((md5int('hp-j-d') mod 2001) - 1000) / 1000 — exact thousandths, so
    SQL literals parse to identical doubles."""
    comps = []
    for d in range(dim):
        h = int(hashlib.md5(f"hp-{plane_idx}-{d}".encode()).hexdigest()[:15], 16)
        comps.append(((h % 2001) - 1000) / 1000.0)
    return comps


def _lit_array(vals: list[float]) -> F.Column:
    return F.array(*[F.lit(v) for v in vals])


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
) -> DataFrame:
    """Exact cosine top-k per query vector over ``vec_id``/``embedding``
    rows: (q_id, vec_id, sim, rank).

    queries is broadcast (it is small by construction); ranking is a
    row_number window partitioned by q_id — its input is already reduced
    to scalar triples. Ties broken by vec_id ASC; self-matches excluded.
    NULL/all-zero embeddings are unscorable and take part on neither
    side (module docstring contract; the filter reuses the per-row
    norms computed here).
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        l2_norm(F.col("embedding")).alias("q_norm"),
    ).filter(finite_or_null(F.col("q_norm")) > 0)
    # norms once per row (not per pair) — identical doubles to the per-pair cosine
    c = (
        corpus.select("vec_id", "embedding")
        .withColumn("v_norm", l2_norm(F.col("embedding")))
        .filter(finite_or_null(F.col("v_norm")) > 0)
    )
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.round(
                dot_product(F.col("q_vec"), F.col("embedding"))
                / (F.col("q_norm") * F.col("v_norm")),
                ROUND_DECIMALS,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "sim", "rank")
    )


def _plane_agg(vec_col: F.Column, num_planes: int, dim: int, finish) -> F.Column:
    """All ``num_planes`` hyperplane dot products in ONE array traversal:
    ``arrays_zip`` the vector with every plane, then a single
    ``F.aggregate`` whose accumulator is a struct of running sums
    d0..d{num_planes-1}. Per-dot summation stays sequential over the
    dimensions — bit-identical doubles to ``dot_product`` called per
    plane — but the interpreter walks the 64 elements once instead of
    ``num_planes`` times (HOF lambdas are not codegen'd, so traversal
    count is the cost driver). ``finish`` maps the final accumulator to
    the result INSIDE the aggregate, so the (expensive) traversal
    appears exactly once in the expression tree no matter how many dot
    fields the result reads."""
    zipped = F.arrays_zip(
        F.transform(vec_col, lambda x: x.cast("double")).alias("v"),
        *[_lit_array(hyperplane(j, dim)).alias(f"h{j}") for j in range(num_planes)],
    )
    acc0 = F.struct(*[F.lit(0.0).alias(f"d{j}") for j in range(num_planes)])
    return F.aggregate(
        zipped,
        acc0,
        lambda acc, s: F.struct(
            *[(acc[f"d{j}"] + s["v"] * s[f"h{j}"]).alias(f"d{j}") for j in range(num_planes)]
        ),
        finish,
    )


def _bucket_from_dots(acc: F.Column, num_planes: int) -> F.Column:
    bucket = F.lit(0).cast("long")
    for j in range(num_planes):
        dot_j = F.round(acc[f"d{j}"], ROUND_DECIMALS)
        bucket = bucket + F.when(dot_j >= 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0))
    return bucket


def lsh_bucket(vec_col: F.Column, num_planes: int, dim: int) -> F.Column:
    """8-bit (num_planes-bit) signature: bit j = [round(dot(v, h_j), 6) >= 0]."""
    return _plane_agg(
        vec_col, num_planes, dim, lambda acc: _bucket_from_dots(acc, num_planes)
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    n_nearest: int = 1,
) -> DataFrame:
    """Assign each vector to its n_nearest centroids by cosine (ties by
    cent_id ASC): (vec_id, embedding, cent_id). Broadcast cross join —
    n×ncells distance evaluations with ZERO shuffle of the corpus, which
    is the canonical IVF build cost and is embarrassingly parallel at
    100 TB (centroids are ~sqrt(n) rows ⇒ comfortably broadcastable).

    Two assignment-cost disciplines:
    - each side's L2 norm is computed once per ROW, not once per pair —
      the pair loop evaluates only the dot product (same doubles, same
      division as the per-pair cosine, so results are bit-identical);
    - the n_nearest=1 case (the whole corpus) is a map-side ``max_by``
      argmax — one combined row per vector crosses the shuffle, instead
      of sorting all n×ncells pair rows through a ranking window. The
      window path remains for n_nearest>1 (query probing, a tiny side).

    NULL/all-zero embeddings are unscorable and excluded on both sides
    (module docstring contract; the filters reuse the per-row norms
    computed here).
    """
    from pyspark.sql import Window

    cents = centroids.select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("c_vec"),
        l2_norm(F.col("embedding")).alias("c_norm"),
    ).filter(finite_or_null(F.col("c_norm")) > 0)
    paired = (
        vectors.select("vec_id", "embedding")
        .withColumn("v_norm", l2_norm(F.col("embedding")))
        .filter(finite_or_null(F.col("v_norm")) > 0)
        .crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "embedding",
            "cent_id",
            F.round(
                dot_product(F.col("c_vec"), F.col("embedding"))
                / (F.col("v_norm") * F.col("c_norm")),
                ROUND_DECIMALS,
            ).alias("c_sim"),
        )
    )
    if n_nearest == 1:
        # lexicographic struct max: highest c_sim, then lowest cent_id —
        # the same total order the window path uses
        return (
            paired.groupBy("vec_id")
            .agg(
                F.max_by(
                    F.struct(F.col("cent_id"), F.col("embedding").alias("v")),
                    F.struct(F.col("c_sim"), (-F.col("cent_id")).alias("nc")),
                ).alias("b")
            )
            .select("vec_id", F.col("b.v").alias("embedding"), F.col("b.cent_id"))
        )
    w = Window.partitionBy("vec_id").orderBy(F.col("c_sim").desc(), F.col("cent_id").asc())
    return (
        paired.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= n_nearest)
        .select("vec_id", "embedding", "cent_id")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int = 3,
    seed_mod: int = 53,
    seed_rem: int = 7,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: (q_id, vec_id, sim, rank).

    Coarse quantizer: centroids are the corpus vectors with
    ``vec_id % seed_mod == seed_rem`` (~corpus/seed_mod cells) — a
    deterministic seeding (k-means with zero Lloyd iterations) so the
    DuckDB oracle reproduces the index bit-for-bit. Corpus vectors join
    their single nearest cell; queries probe their ``nprobe`` nearest
    cells; exact cosine re-rank runs only inside probed cells. Recall/cost
    is tuned by seed_mod (cell count) and nprobe, exactly as in
    production IVF — at 100 TB the assignment is a broadcast pass and the
    probe join touches ~nprobe/ncells of the corpus.

    A FIXED seed_mod makes ncells grow ∝ n and the n×ncells assignment
    grow ∝ n², measured at both stress decades (SCALE.md): 3.9× wall at a
    10× corpus and 140× at ×100, where sizing ncells ≈ √n (the standard
    IVF balance) cost 5.3× on the same ×100 corpus at equal recall. A
    deployment passes ``seed_mod`` ≈ √n for its corpus size; the
    auto-sizing branch that counted the corpus for it is at
    ``operators/similarity.py @ af453c5``.
    """
    from pyspark.sql import Window

    cents = corpus.filter((F.col("vec_id") % seed_mod) == (seed_rem % seed_mod))
    assigned = ivf_assign(corpus, cents, 1)
    probes = (
        ivf_assign(queries, cents, nprobe)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"), "cent_id")
    )
    # norms once per ROW (same discipline as brute_force_topk): the
    # probed-cell re-rank otherwise recomputes BOTH norms per candidate
    # pair — two extra array traversals per pair.
    # dot/(q_norm*v_norm) multiplies the identical doubles in the same
    # order the per-pair cosine does, so results are bit-identical.
    sims = (
        assigned.withColumn("v_norm", l2_norm(F.col("embedding")))
        .join(F.broadcast(probes.withColumn("q_norm", l2_norm(F.col("q_vec")))), "cent_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.round(
                dot_product(F.col("q_vec"), F.col("embedding"))
                / (F.col("q_norm") * F.col("v_norm")),
                ROUND_DECIMALS,
            ).alias("sim"),
        )
        # no distinct needed: each corpus vector lives in exactly one cell
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "sim", "rank")
    )


def lsh_probe_buckets(vec_col: F.Column, num_planes: int, dim: int, n_probes: int) -> F.Column:
    """Multi-probe bucket list: the vector's own bucket plus the buckets
    reached by flipping each of its ``n_probes − 1`` lowest-|margin|
    hyperplane signs (the planes the vector sits closest to — where a
    true neighbor most likely landed on the other side). Deterministic:
    margins are rounded dots; ties break by plane index via the sort on
    (|dot|, plane)."""
    def finish(acc: F.Column) -> F.Column:
        base = _bucket_from_dots(acc, num_planes)
        margins = F.array(
            *[
                F.struct(
                    F.abs(F.round(acc[f"d{j}"], ROUND_DECIMALS)).alias("m"),
                    F.lit(j).alias("j"),
                )
                for j in range(num_planes)
            ]
        )
        flips = F.slice(F.array_sort(margins), 1, max(n_probes - 1, 0))
        # shiftleft needs a literal bit count; 2^j via pow is exact for j < 31
        flipped = F.transform(
            flips, lambda s: base.bitwiseXOR(F.pow(F.lit(2.0), s["j"]).cast("long"))
        )
        return F.concat(F.array(base), flipped)

    return _plane_agg(vec_col, num_planes, dim, finish)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    num_planes: int = 8,
    dim: int = 64,
    n_probes: int = 1,
) -> DataFrame:
    """Approximate top-k over ``vec_id``/``embedding`` rows: exact cosine
    re-rank restricted to the query's LSH bucket(s). Deterministic
    (hash-derived planes, rounded signs) → fully oracle-checkable despite
    being approximate w.r.t. brute force.
    ``n_probes > 1`` enables multi-probe (see lsh_probe_buckets): recall
    rises with probes while per-query cost stays probes × corpus/2^planes
    — the standard dial at scale, where re-hashing the corpus (more
    planes) is expensive but probing more buckets is cheap.
    NULL/all-zero embeddings are unscorable and excluded on both sides
    (module docstring contract; the filters reuse the carried norms)."""
    from pyspark.sql import Window

    # norms once per ROW (the brute_force_topk discipline): the
    # unscorable filter needs the norm anyway, so carry it through the join
    # and make the per-pair re-rank a single dot product — a per-pair
    # cosine would re-traverse both arrays per candidate pair. Same doubles,
    # same division order, bit-identical results.
    bucketed = (
        corpus.select(
            F.col("vec_id"),
            F.col("embedding"),
            l2_norm(F.col("embedding")).alias("v_norm"),
            lsh_bucket(F.col("embedding"), num_planes, dim).alias("bucket"),
        )
        .filter(finite_or_null(F.col("v_norm")) > 0)
    )
    q = (
        queries.select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_vec"),
            l2_norm(F.col("embedding")).alias("q_norm"),
        )
        .filter(finite_or_null(F.col("q_norm")) > 0)
        .select(
            "q_id",
            "q_vec",
            "q_norm",
            F.explode(
                lsh_probe_buckets(F.col("q_vec"), num_planes, dim, n_probes)
            ).alias("q_bucket"),
        )
    )
    sims = (
        bucketed.join(F.broadcast(q), F.col("bucket") == F.col("q_bucket"))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.round(
                dot_product(F.col("q_vec"), F.col("embedding"))
                / (F.col("q_norm") * F.col("v_norm")),
                ROUND_DECIMALS,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "sim", "rank")
    )
