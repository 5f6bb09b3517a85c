"""Connected components over an edge list — the transitive-closure stage
of near-dedup: LSH gives pairwise collisions; the dedup *cluster* is the
component (A~B, B~C ⟹ {A,B,C} keep one survivor).

Algorithm: iterative min-label propagation (each vertex adopts the
smallest label among itself and its neighbors) until fixpoint. Per
iteration: one join edges⋈labels + one groupBy min — both shuffled on
vertex id, so an iteration is linear in |E|. Convergence in O(diameter)
iterations; near-dup graphs are unions of small cliques, so diameter is
tiny in practice. ``localCheckpoint`` truncates the lineage each round —
without it the plan doubles per iteration and the driver OOMs long before
the data does (the classic iterative-Spark trap).

``connected_components_star`` below is the large-star/small-star
optimization [Kiveris et al., SoCC'14]: O(log n) rounds on adversarial
(long-chain) graphs with the same per-round plan shape and the same
output contract — equivalence and the round-count bound are pinned by
tests/test_components.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_iterations: int = 20,
) -> DataFrame:
    """(vertex, component) for every vertex appearing in ``edges``;
    component = min vertex id reachable."""
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).union(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    sym = sym.where(F.col("a") != F.col("b")).distinct().localCheckpoint()

    labels = (
        sym.select(F.col("a").alias("vertex"))
        .distinct()
        .withColumn("component", F.col("vertex"))
        .localCheckpoint()
    )

    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym["b"] == labels["vertex"])
            .groupBy(F.col("a").alias("vertex"))
            .agg(F.min("component").alias("nbr_component"))
        )
        updated = (
            labels.join(neighbor_min, "vertex", "left")
            .select(
                "vertex",
                F.least(
                    F.col("component"), F.coalesce("nbr_component", F.col("component"))
                ).alias("component"),
                (F.coalesce("nbr_component", F.col("component")) < F.col("component")).alias(
                    "_changed"
                ),
            )
            .localCheckpoint()
        )
        n_changed = updated.where(F.col("_changed")).count()
        labels = updated.drop("_changed")
        if n_changed == 0:
            break
    return labels


def near_dup_components(bands: DataFrame, id_col: str) -> DataFrame:
    """Dedup clusters from LSH band rows: star edges doc↔bucket-minimum
    (linear in corpus, no pairwise expansion) → connected components.
    Returns (id, component) where component is the cluster's canonical
    (minimum) doc id; singleton docs keep component == their own id only
    if they collided with nothing (absent from the result)."""
    mins = bands.groupBy("band_id", "band_key").agg(F.min(id_col).alias("bucket_min"))
    edges = (
        bands.join(mins, ["band_id", "band_key"])
        .where(F.col(id_col) != F.col("bucket_min"))
        .select(F.col(id_col).alias("src"), F.col("bucket_min").alias("dst"))
        .distinct()
    )
    return connected_components(edges).withColumnRenamed("vertex", id_col)


def _union_find_labels(sym: DataFrame) -> DataFrame:
    """Single-task exact union-find over a (pinned, answer-sized) edge
    state: (vertex, component=min reachable id) for every vertex in
    ``sym``. The small-state finish of ``connected_components_star`` —
    executor-side via ``mapInPandas`` (never a driver collect), one
    linear pass, zero shuffles, zero rounds.

    Ordering note: roots are kept at the set minimum under Python ``<``,
    which matches Spark's ``least`` for numerics and for strings (UTF-8
    byte order preserves code-point order), so labels are bit-identical
    to the distributed alternation's.
    """
    from pyspark.sql import types as T

    vt = sym.schema["a"].dataType
    out_schema = T.StructType(
        [T.StructField("vertex", vt), T.StructField("component", vt)]
    )

    def labels(batches):
        import numpy as np
        import pandas as pd

        # factorized union-find: endpoints are mapped to integer codes
        # (pd.factorize) and the parent table is one int64 array — tens
        # of MB at the 2M-row bound where a Python dict of boxed values
        # costs hundreds; `uniq` keeps the ORIGINAL values (exact dtype,
        # no None mixed in, so no float64 inference corrupting ids
        # above 2^53) for both the min-root comparisons and the output.
        a_chunks, b_chunks = [], []
        for pdf in batches:
            a_chunks.append(pdf["a"].to_numpy())
            b_chunks.append(pdf["b"].to_numpy())
        if not a_chunks:
            yield pd.DataFrame({"vertex": [], "component": []})
            return
        a = np.concatenate(a_chunks)
        b = np.concatenate(b_chunks)
        codes, uniques = pd.factorize(np.concatenate([a, b]))
        uniq = np.asarray(uniques)
        ca, cb = codes[: a.size], codes[a.size :]
        parent = np.arange(uniq.size, dtype=np.int64)

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for i in range(a.size):
            ra, rb = find(ca[i]), find(cb[i])
            if ra != rb:
                # attach the larger-valued root under the smaller, so a
                # set's root IS its minimum original value throughout
                if uniq[rb] < uniq[ra]:
                    ra, rb = rb, ra
                parent[rb] = ra
        roots = np.array([find(i) for i in range(uniq.size)], dtype=np.int64)
        order = np.argsort(uniq, kind="stable")
        yield pd.DataFrame(
            {"vertex": uniq[order], "component": uniq[roots][order]}
        )

    return sym.coalesce(1).mapInPandas(labels, out_schema)


# ~2M edge rows ≈ 32 MB: sizes the star-CC round-state partitions and
# is the default bound below which it finishes in one local task
_STATE_ROWS_PER_PARTITION = 2_000_000


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_rounds: int = 30,
    local_finish_rows: int = _STATE_ROWS_PER_PARTITION,
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — the
    O(log n)-round variant the plain min-label fixpoint
    (``connected_components``) documents as its adversarial-graph
    upgrade. Label propagation moves the minimum ONE HOP per round, so a
    duplicate CHAIN of length d costs d rounds; the star operations
    rewire every node toward its neighborhood minimum, halving component
    diameter per alternation — a 10^6-long chain converges in ~20 rounds
    instead of 10^6 (tests/test_components.py pins a 120-node path at
    ≤12 rounds vs 119 hops).

    Per alternation: two groupBy-mins + two joins, all shuffled on
    vertex id, linear in |E|; ONE ``localCheckpoint`` per alternation
    pair truncates lineage (checkpointing each star separately doubled
    the per-round job count for no correctness gain). Convergence = the
    edge multiset's symmetric difference empty, checked as one job
    (anti-joins in both directions unioned, limit 1). Same output
    contract: (vertex, component=min reachable id) for every vertex in
    ``edges``.

    r17 optimization (guide §2.4/§2.6 — at bench scale the cost is
    stage-barrier count, not bytes; every lever below was A/B-measured
    on the real operator at sf0.1, quiet host, output-equality asserted
    each time):

    - round state is coalesced before each checkpoint to a partition
      count derived from the materialized edge count
      (``_STATE_ROWS_PER_PARTITION``, ~2M edge rows ≈ 32 MB per
      partition) instead of whatever layout AQE left — measured −20%
      on dedup_clusters_exact at sf0.1 where the state collapses to one
      partition, while a 100 TB edge set still gets thousands of
      partitions (the r15 note that a HARD coalesce(1) would serialize
      real work at scale is why this is size-derived, not constant);
    - ONE distinct per alternation pair instead of two: the large-star
      output feeds small-star un-deduplicated (groupBy-min and the
      phase filters are multiplicity-insensitive, and the intermediate
      is bounded by 2(|E|+|V|) — no compounding), the pair's final
      distinct restores the canonical edge set, so the per-round state
      sequence is identical. 94 → 83 Spark jobs, ~−8%;
    - setup distinct runs on the orientation-NORMALIZED half
      (least/greatest) and the reverse orientation is unioned after —
      half the rows through the dedup shuffle for the same symmetric
      edge set (−15%); ``vertices`` is no longer checkpointed (it was
      materialized eagerly but consumed exactly once, at the end — it
      now derives lazily from the pinned setup state);
    - the convergence diff runs every round: with 1-partition round
      state the diff job (~0.2 s) is cheaper than the extra
      materialization an overshoot costs (~0.7 s), so skipping checks
      LOST time when measured (8.8 s checking every 2nd round vs
      6.9 s every round).

    AQE-off inside the loop (fewer jobs: 92 → 29) was measured SLOWER
    (9.0 s vs 6.9 s even with shuffle.partitions pinned to the state
    size) — job count is not the cost here, per-stage scheduling with
    a good layout is; left alone.

    r18 optimization: when the materialized edge state is at most
    ``local_finish_rows`` (default = the same 2M-row bound that sizes
    round-state partitions), the alternation loop is skipped entirely in
    favor of a single-task executor-side union-find
    (``_union_find_labels``) — identical labels, one job instead of
    rounds × ~8 stages of scheduling latency. Pass ``local_finish_rows=0``
    to force the distributed loop (the equivalence tests do).
    """
    half = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = half.union(
        half.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint()
    vertices = sym.select(F.col("a").alias("vertex")).distinct()
    # one cheap count on the pinned state sizes every round's coalesce;
    # edge mass only shrinks across star alternations (dups collapse),
    # so sizing once at entry is conservative for every later round
    n_edges = sym.count()
    # small-state finish (r18, guide §1.2 "fix the distributed algorithm"):
    # when the pinned edge state fits one task (same ~2M-row bound that
    # sizes the round state), every star alternation is pure stage-
    # scheduling latency — at sf0.1 the 22k-row state spent 5 rounds ×
    # ~8 stages ≈ all of dedup_clusters_exact's CC time. A single-task
    # union-find pass computes the identical labels (property-tested
    # against the alternation AND the fixpoint in tests/test_components)
    # in one job. At 100 TB the distributed alternations run unchanged —
    # this is the standard finish-small step of cluster CC jobs, gated on
    # measured state size, not a local-mode constant.
    if n_edges <= local_finish_rows:
        return _union_find_labels(sym)
    n_state_parts = max(
        1,
        min(
            sym.rdd.getNumPartitions(),
            -(-n_edges // _STATE_ROWS_PER_PARTITION),
        ),
    )

    def star(adj: DataFrame, large: bool, dedup: bool) -> DataFrame:
        # m(u) = min(N(u) ∪ {u}); every u also re-links itself to m(u),
        # so connectivity is preserved under both phases
        m = adj.groupBy("a").agg(
            F.least(F.first("a"), F.min("b")).alias("m")
        )
        nbr = adj.join(m, "a")
        cond = F.col("b") > F.col("a") if large else F.col("b") <= F.col("a")
        out = (
            nbr.where(cond)
            .select(F.col("b").alias("u"), F.col("m").alias("v"))
            .union(m.select(F.col("a").alias("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
        )
        if dedup:
            out = out.distinct()
        return out.union(
            out.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).select(F.col("u").alias("a"), F.col("v").alias("b"))

    for _ in range(max_rounds):
        # one materialization per ALTERNATION PAIR; the symmetrized
        # union may carry an edge twice (both orientations emitted) —
        # harmless to groupBy-min, and the convergence check below is
        # multiplicity-insensitive (anti-joins, not exceptAll)
        nxt = (
            star(star(sym, large=True, dedup=False), large=False, dedup=True)
            .coalesce(n_state_parts)
            .localCheckpoint()
        )
        diff = (
            nxt.join(sym, ["a", "b"], "left_anti")
            .union(sym.join(nxt, ["a", "b"], "left_anti"))
            .limit(1)
            .count()
        )
        sym = nxt
        if diff == 0:
            break

    labels = (
        sym.groupBy("a")
        .agg(F.least(F.first("a"), F.min("b")).alias("component"))
        .select(F.col("a").alias("vertex"), "component")
    )
    # vertices that became isolated stars' centers keep their own label
    return (
        vertices.join(labels, "vertex", "left")
        .select(
            "vertex",
            F.coalesce("component", F.col("vertex")).alias("component"),
        )
    )
