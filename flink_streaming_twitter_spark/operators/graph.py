"""Iterative graph algorithms on DataFrames: connected components via
min-label propagation.

The dedup pipeline's missing last step: pairwise near-dup evidence
(MinHash/SimHash/exact) only says "a~b"; choosing which documents to KEEP
requires the transitive clusters. Components are labeled by their minimum
member id — fully deterministic, so the DuckDB oracle reproduces them
with a recursive CTE.

Iterative algorithms are driver-coordinated loops over DataFrame ops in
Spark (no native fixpoint operator): each round is one join + aggregate,
and convergence is read from an ``Observation`` on the round's own
checkpoint job, so no separate count job runs. Labels start at each
node's neighbourhood minimum (one aggregate over the edge list, no
join), which is exactly what the first join round of a start at the
node's own id computes; ``stats["rounds"]`` counts the join rounds after
that start, the last of which only confirms the fixpoint (a clique
converges in 1 round, a star whose minimum is a leaf in 2). Two scale
disciplines encoded here:
- ``localCheckpoint`` each round truncates the lineage — without it the
  plan doubles per iteration and the job eventually dies in the
  optimizer, the classic iterative-Spark failure;
- label propagation converges in O(component diameter) rounds, and
  near-dup clusters are shallow (dup groups are cliques or stars), so
  the bound MAX_ROUNDS stays small; for deep graphs
  ``connected_components_star`` implements the large-star/small-star
  formulation (Kiveris et al., "Connected Components in MapReduce and
  Beyond", SoCC 2014), which converges in O(log n) rounds — the 100 TB
  path when cluster chains are long (e.g. transitive near-dup chains
  across crawl snapshots).

``dedup_clusters`` keeps plain propagation: near-dup components are
shallow stars/cliques where it converges in 1-2 rounds, fewer total
stages than star's two jobs per round. The star variant is the escape
hatch the docstring used to only name; the deep-chain test pins the
round advantage: a path too long for plain propagation's MAX_ROUNDS
converges within the star form's STAR_MAX_ROUNDS.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# non-convergence bounds: each loop raises instead of running forever
MAX_ROUNDS = 25
STAR_MAX_ROUNDS = 20


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """(id, comp) for every node of the ``src``/``dst`` edge list, comp =
    min node id reachable (undirected).

    ``nodes`` optionally supplies isolated vertices (no edges), each its
    own singleton component. Raises if MAX_ROUNDS rounds don't converge;
    ``stats["rounds"]`` reports the join rounds used.
    """
    # materialize the DIRECTED edge list ONCE, then symmetrize from the
    # checkpointed blocks: the upstream lineage is typically the expensive
    # part (e.g. a MinHash-LSH candidate pipeline), and symmetrizing
    # BEFORE the checkpoint would execute that whole pipeline twice (one
    # union arm each) inside the checkpoint job — round 14 measured the
    # evidence pipelines of the dedup_clusters* entries running 2x for
    # exactly that reason. Checkpointing also keeps every iteration from
    # re-executing the pipeline.
    e1 = edges.select(F.col("src").alias("s"), F.col("dst").alias("d")).localCheckpoint()
    sym = e1.union(e1.select(F.col("d").alias("s"), F.col("s").alias("d")))
    # iterate ONLY the edge-endpoint subgraph: isolated vertices are
    # singleton components by definition and joining them through every
    # round is wasted work (most documents are isolated in a near-dup
    # graph); they are appended after convergence
    # each endpoint starts at the minimum of itself and its neighbours:
    # the result of a first join round from comp = id, from one
    # aggregate. A NULL id keeps a NULL label, as that round leaves it.
    # Lazy: materialized by the blocks of whichever round-1 job reads it
    # first (labels is tiny — one row per edge endpoint)
    labels = (
        sym.groupBy("s")
        .agg(F.min("d").alias("m"))
        .select(
            F.col("s").alias("id"),
            F.when(F.col("s").isNotNull(), F.least("s", "m")).alias("comp"),
        )
        .localCheckpoint(eager=False)
    )
    active = labels.select("id")

    def with_singletons(converged: DataFrame) -> DataFrame:
        if nodes is None:
            return converged
        singles = nodes.select("id").join(active, "id", "left_anti")
        return converged.union(singles.select("id", F.col("id").alias("comp")))

    for rnd in range(1, MAX_ROUNDS + 1):
        if stats is not None:
            stats["rounds"] = rnd
        nbr_min = (
            sym.join(labels, sym.d == labels.id)
            .groupBy("s")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        # convergence rides the round's own job: the observed count of
        # improved labels is collected by the eager checkpoint that
        # materializes the round, so no filter-count job re-reads it.
        # Under AQE the checkpoint is several jobs anyway (one per
        # shuffle stage), and a separate count added two more per round.
        # eager=True is required: a lazy checkpoint defers the job past
        # the convergence test, which would then read 0 and stop the
        # loop after round 1 with unconverged labels.
        improved = Observation()
        labels = (
            labels.join(nbr_min, labels.id == nbr_min.s, "left")
            .observe(improved, F.count_if(F.col("nbr_comp") < F.col("comp")).alias("n"))
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))).alias(
                    "comp"
                ),
            )
            .localCheckpoint(eager=True)
        )
        if improved.get["n"] == 0:
            return with_singletons(labels)
    raise RuntimeError(f"connected_components did not converge in {MAX_ROUNDS} rounds")


def connected_components_star(edges: DataFrame, nodes: DataFrame | None = None) -> DataFrame:
    """(id, comp) per node — same contract as :func:`connected_components`
    — via alternating large-star/small-star contractions (Kiveris et al.,
    SoCC 2014), converging in O(log n) rounds instead of O(diameter).

    Each round is two edge rewrites over the canonical downhill edge set
    (both expressible as join+groupBy, no new primitives):

    - **large-star**: every node u links each strictly-larger neighbor
      to u's neighborhood minimum m(u) — long chains fold toward small
      ids from everywhere at once, which is what plain propagation
      (one hop per round) cannot do;
    - **small-star**: every node u re-links its smaller neighbors and
      itself to the minimum of that down-neighborhood — flattening the
      partial trees into stars.

    Fixpoint: the edge set stops changing, at which point it is exactly
    {(member, component-min)}. Same lineage discipline as plain
    propagation: ``localCheckpoint`` per round, cost per round ∝ current
    edge count (which only shrinks or stays — contractions never add
    edges beyond dedup). Raises if STAR_MAX_ROUNDS rounds (one
    large+small pair each) don't converge.
    """
    # canonical downhill edges (a > b), self-loops out; endpoints are
    # remembered so self-loop-only/isolated nodes still get labeled.
    # The RAW edge list is checkpointed ONCE (lazily — the first
    # fingerprint job materializes it through E) and both `touched` and
    # `E` derive from the checkpointed blocks: before round 14 each of
    # them checkpointed its own copy of the upstream evidence pipeline
    # (touched's two union arms + E = three executions of e.g. the
    # MinHash-LSH candidate chain feeding dedup_clusters_star).
    raw = edges.select(F.col("src").alias("x"), F.col("dst").alias("y")).localCheckpoint(
        eager=False
    )
    touched = (
        raw.select(F.col("x").alias("id"))
        .union(raw.select(F.col("y").alias("id")))
        .distinct()
    )
    def fingerprint(edges: DataFrame) -> tuple[int, int]:
        """(edge count, wrapped sum of per-edge hashes) in ONE aggregate
        pass. Edge sets are distinct, so multiset sum-of-hash equality is
        a sound NECESSARY condition for set equality — a cheap pre-filter
        that lets the loop skip the exceptAll set-compare on every round
        where the fingerprint already proves change; exceptAll stays the
        authority and runs (once) only at the probable fixpoint."""
        # hash summed in DECIMAL(38,0): LONG sums overflow-throw under
        # ANSI mode (session default) once enough edges accumulate
        row = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")), F.lit(0)
            ).alias("h"),
        ).first()
        return int(row.n), int(row.h)

    # lazy checkpoint fused with the fingerprint job: fingerprint(E)
    # materializes E's blocks (and raw's, one evidence execution total)
    # in the same job that reads the count+hash — one job where the
    # eager form paid one per checkpoint plus one per fingerprint
    E = (
        raw.filter(F.col("x") != F.col("y"))
        .select(F.greatest("x", "y").alias("a"), F.least("x", "y").alias("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_edges, e_hash = fingerprint(E)
    converged = n_edges == 0
    rnd = 0
    while not converged and rnd < STAR_MAX_ROUNDS:
        rnd += 1
        sym = E.union(E.select(F.col("b").alias("a"), F.col("a").alias("b")))
        # large-star: (v, m(u)) for v ∈ N(u) with v > u, m(u) = min(N(u) ∪ {u})
        mins = (
            sym.groupBy("a")
            .agg(F.min("b").alias("mn"))
            .select("a", F.least("mn", "a").alias("m"))
        )
        large = (
            sym.filter(F.col("b") > F.col("a"))
            .join(mins, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star on the downhill edges: every u re-links its
        # down-neighborhood D(u) and itself to m = min(D(u))
        dmins = large.groupBy("a").agg(F.min("b").alias("m"))
        from_members = (
            large.join(dmins, "a")
            .filter(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )
        from_centers = dmins.select("a", F.col("m").alias("b"))
        new_e = (
            from_members.union(from_centers)
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        new_n, new_hash = fingerprint(new_e)
        converged = (
            new_n == n_edges and new_hash == e_hash and new_e.exceptAll(E).isEmpty()
        )
        E, n_edges, e_hash = new_e, new_n, new_hash
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {STAR_MAX_ROUNDS} rounds"
        )
    # fixpoint edge set is {(member, root)}: members label by their root,
    # roots (and edge-less nodes) label themselves
    members = E.select(F.col("a").alias("id"), F.col("b").alias("comp"))
    labeled = members.groupBy("id").agg(F.min("comp").alias("comp"))
    all_ids = (
        touched if nodes is None else touched.union(nodes.select("id")).distinct()
    )
    singles = all_ids.join(labeled.select("id"), "id", "left_anti")
    roots = singles.select("id", F.col("id").alias("comp"))
    return labeled.union(roots)
