"""Connected components over near-duplicate pair graphs.

One-pass LSH dedup (``dedup.minhash_dedup``) drops the larger id of
each PAIR, which under-deletes when duplicates chain (A~B, B~C, but
A!~C keeps both A and C's cluster-mates).  Cluster-level dedup first
resolves the pair graph into components, then keeps exactly one
representative per component — the standard last step of a corpus
dedup pipeline.

Algorithm: iterated min-label propagation to a fixpoint.  Each node's
label starts as its own id; every round each node takes the minimum
label in its closed neighborhood; converged when no label changes.
Rounds needed = graph diameter (near-dup clusters are tiny and
dense, so 2-4 rounds in practice); each round is one shuffle keyed on
node id.  ``materialize.checkpoint`` truncates the growing lineage
each round — without it the plan doubles per iteration and Catalyst
analysis dominates after ~10 rounds.

Scale notes (100 TB corpora): ``connected_components`` is the simple
propagation variant, O(rounds × |edges|) shuffle volume, the right
tool for near-dup graphs whose components are small.  For adversarial
diameters (million-node chains) ``connected_components_star``
implements the large-star/small-star decomposition [Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14] — same
DataFrame primitives, O(log n) rounds on any graph shape.
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import cached, checkpoint


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Resolve an undirected edge list into ``(id, component)`` where
    ``component`` is the minimum node id reachable from ``id``.

    Nodes appear in the output iff they appear in some edge; isolated
    nodes are the caller's identity mapping.
    """
    # Build the symmetric edge list in ONE pass over ``edges`` (an
    # explode of both orientations instead of a union of two selects —
    # the caller's frame is typically the full near-dup pair pipeline,
    # and every plan reference re-runs it) and materialize it ONCE:
    # both the self-loop derivation and the closed-neighborhood union
    # below read it.
    sym = checkpoint(
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src).alias("u"), F.col(dst).alias("v")
                    ),
                    F.struct(
                        F.col(dst).alias("u"), F.col(src).alias("v")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.u", "_e.v")
        .distinct()
    )
    # Self-loops folded into the edge stream make the per-round update
    # a SINGLE join: min over the closed neighborhood {u} ∪ N(u) comes
    # straight out of one sym⋈labels + groupBy, and the self-loop row
    # (v = u, carrying u's own label) doubles as the old-label channel
    # for the convergence flag — the previous shape needed a second
    # labels⋈neighbor_min SMJ per round just to re-attach each node's
    # own label.  |V| extra rows on a |2E| stream buy one fewer
    # shuffle join per iteration for every consumer.
    loops = (
        sym.select(F.col("u").alias("id"))
        .distinct()
        .select(F.col("id").alias("u"), F.col("id").alias("v"))
    )
    # The O(|E|) side of the per-round join is IMMUTABLE across rounds:
    # hash-partition it on the join key (v) and sort within partitions
    # ONCE, so every round's sort-merge join reuses both the exchange
    # and the sort (the pagerank e_deg convention) — only the O(|V|)
    # label frame moves per round.  Before this, every round
    # re-shuffled and re-sorted the full closed-neighborhood edge list.
    with cached(
        sym.unionByName(loops)
        .repartition(F.col("v"))
        .sortWithinPartitions("v")
    ) as closed:
        labels = loops.select(F.col("u").alias("id"), F.col("u").alias("component"))
        for _ in range(max_iterations):
            new_labels = checkpoint(
                closed.join(labels.hint("merge"), closed.v == labels.id)
                .groupBy("u")
                .agg(
                    F.min("component").alias("component"),
                    # old label = the component riding the self-loop row
                    # (exactly one per u); change flag computed IN the
                    # update pass so convergence is a cheap scan of the
                    # round output, not a second join
                    F.min(F.when(F.col("v") == F.col("u"), F.col("component"))).alias(
                        "_old"
                    ),
                )
                .select(
                    F.col("u").alias("id"),
                    "component",
                    (F.col("component") < F.col("_old")).alias("_chg"),
                )
                # lazy: the convergence aggregate below is the single
                # action that both materializes the round's blocks and
                # answers "did anything change" — one job per round where
                # the eager-checkpoint-then-count shape paid two
            )
            changed = new_labels.agg(
                F.max(F.when(F.col("_chg"), 1).otherwise(0)).alias("c")
            ).first()["c"]
            labels = new_labels.select("id", "component")
            if not changed:
                break
    return labels


def cluster_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Keep one representative per near-dup CLUSTER (transitive
    closure of ``pairs``): the minimum id of each component survives;
    rows in no pair survive untouched."""
    comp = connected_components(pairs, src, dst)
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers.hint("merge"), on=id_col, how="left_anti")


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Alternating large-star / small-star connected components
    [Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14] — same output contract as :func:`connected_components`
    (``(id, component)``, component = min reachable id, nodes that
    appear in some edge), but converging in O(log n) rounds on ANY
    graph, including the million-node chains where plain min-label
    propagation needs diameter rounds.

    Each round is two phases over the (bidirectional) edge list:

    - **large-star**: every node u computes m = min({u} ∪ N(u)) and
      reconnects its strictly-larger neighbors to m;
    - **small-star**: u computes m over {u} ∪ {v ∈ N(u): v ≤ u} and
      reconnects those smaller-or-equal neighbors (and itself) to m.

    Both phases are partial-aggregated groupBy + join — no windows,
    no driver state; ``checkpoint`` truncates lineage per round.
    Converged when the edge multiset stops changing; the final graph
    is a forest of stars pointing at each component's minimum id.
    """
    e = checkpoint(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct(),
        eager=True,
    )
    all_nodes = checkpoint(
        e.select(F.col("u").alias("id"))
        .unionByName(e.select(F.col("v").alias("id")))
        .distinct(),
        eager=True,
    )

    def _bidir(g: DataFrame) -> DataFrame:
        return g.unionByName(
            g.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )

    for _ in range(max_iterations):
        # large-star: m = min over {u} ∪ N(u); edges (v, m) for v > u
        nb = _bidir(e)
        mins = nb.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            nb.join(mins.hint("merge"), "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # small-star: m over {u} ∪ {v ≤ u}; edges (v, m) and (u, m)
        small_nb = nb.filter(F.col("v") <= F.col("u"))
        mins_s = small_nb.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        small = (
            small_nb.join(mins_s.hint("merge"), "u")
            .select(
                F.col("v").alias("n"), F.col("u").alias("self"), "m"
            )
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("n").alias("u"), F.col("m").alias("v")),
                        F.struct(
                            F.col("self").alias("u"), F.col("m").alias("v")
                        ),
                    )
                ).alias("p")
            )
            .select("p.u", "p.v")
        )
        new_e = checkpoint(
            large.unionByName(small)
            .filter(F.col("u") != F.col("v"))
            .distinct(),
            eager=True,
        )
        changed = (
            new_e.exceptAll(e).limit(1).count()
            + e.exceptAll(new_e).limit(1).count()
        )
        e = new_e
        if not changed:
            break
    stars = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    return all_nodes.join(stars.hint("merge"), "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping: float = 0.85,
    checkpoint_every: int = 3,
    teleport: DataFrame | None = None,
    teleport_id: str = "id",
) -> DataFrame:
    """PageRank over a directed edge list → ``(id, rank)``.

    The simplified formulation: ``r' = (1−d)/N + d·Σ r(u)/outdeg(u)``
    over in-neighbors, dangling mass NOT redistributed (a node with no
    out-edges leaks its damped mass — the common simplification; both
    the operator and its SQL oracle use it, so they agree exactly).

    Per iteration: one shuffle join of the edge list against the
    current ranks on the source key + one aggregate keyed by
    destination.  The edge list is pre-joined with out-degrees ONCE,
    hash-partitioned on the join key, and persisted — its cached
    output partitioning satisfies every iteration's join requirement,
    so the O(|E|) side never re-shuffles: per-round exchange volume is
    O(|V|) (the rank vector), not O(|E|) (the dominant term of the
    naive MapReduce formulation).  The node list is pre-partitioned on
    ``id`` the same way for the rank rebuild join.  ``checkpoint``
    every ``checkpoint_every`` rounds truncates the growing plan
    lineage, exactly as ``connected_components`` does.  Node ids may
    be any orderable type; rank sums are doubles (round on output when
    comparing across engines).

    ``teleport`` personalizes the walk (TrustRank, Gyöngyi et al.
    VLDB'04): the teleport vector becomes uniform over the seed set
    instead of uniform over all nodes — ``r' = (1−d)·t + d·Σ r/deg``
    with ``t_i = 1/|S|`` on seeds, else 0, and ``r0 = t``.  Rank then
    measures random-walk proximity to the trusted seeds — the graph
    half of seed-based quality curation.  Same per-iteration cost;
    the seed flag is joined into the node list ONCE.
    """
    if not 0 < damping < 1:
        raise ValueError("damping must be in (0, 1)")
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    checkpoint_every = max(int(checkpoint_every or 0), 0)  # 0/None → never
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct()
    nodes = (
        e.select(F.col("u").alias("id"))
        .unionByName(e.select(F.col("v").alias("id")))
        .distinct()
    )
    with ExitStack() as scope:
        if teleport is not None:
            seeds = teleport.select(F.col(teleport_id).alias("id")).distinct()
            n_seeds = seeds.join(nodes, "id").count()
            if n_seeds == 0:
                raise ValueError("no teleport seed appears in the graph")
            # materialize the seed-flagged node list ONCE — every
            # iteration's rank rebuild reads it
            nodes = checkpoint(
                nodes.join(seeds.withColumn("_s", F.lit(1)).hint("merge"), "id", "left")
                .select(
                    "id",
                    F.when(F.col("_s") == 1, F.lit(1.0 / n_seeds))
                    .otherwise(F.lit(0.0))
                    .alias("_t"),
                )
                .repartition("id"),
                eager=True,
            )
            base_col = F.lit(1.0 - damping) * F.col("_t")
            ranks = nodes.select("id", F.col("_t").alias("rank"))
        else:
            nodes = scope.enter_context(cached(nodes.repartition("id")))
            n = nodes.count()  # scalar: the teleport term is a literal
            base_col = F.lit((1.0 - damping) / n)
            ranks = nodes.withColumn("rank", F.lit(1.0 / n))
        outdeg = e.groupBy("u").agg(F.count(F.lit(1)).alias("_deg"))
        e_deg = scope.enter_context(
            cached(e.join(outdeg.hint("merge"), "u").repartition("u"))
        )

        for i in range(iterations):
            contribs = (
                e_deg.join(ranks.hint("merge"), e_deg.u == ranks.id)
                .select("v", (F.col("rank") / F.col("_deg")).alias("_c"))
                .groupBy("v")
                .agg(F.sum("_c").alias("_in"))
            )
            ranks = (
                nodes.join(contribs.hint("merge"), nodes.id == contribs.v, "left")
                .select(
                    "id",
                    (
                        base_col
                        + F.lit(damping) * F.coalesce("_in", F.lit(0.0))
                    ).alias("rank"),
                )
            )
            if (
                checkpoint_every
                and (i + 1) % checkpoint_every == 0
                and i + 1 < iterations
            ):
                ranks = checkpoint(ranks, eager=True)
        # materialize the result before the scope releases the per-call
        # caches — a long-lived session calling pagerank repeatedly must
        # not pin a fresh copy of the edge list per call
        ranks = checkpoint(ranks, eager=True)
    return ranks


def local_clustering(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected edge list → ``(id, degree, n_triangles, coefficient)``.

    Algorithm: degree-ordered edge orientation [Schank & Wagner 2005;
    the MapReduce form in Suri & Vassilvitskii, WWW'11 "Counting
    triangles and the curse of the last reducer"].  Each undirected
    edge is oriented from its lower-(degree, id) endpoint to the
    higher one, which bounds every node's out-degree by O(√|E|)
    regardless of how skewed the raw degree distribution is — the
    wedge join below is therefore O(Σ outdeg²) ≤ O(|E|^1.5) instead of
    the O(Σ deg²) a naive formulation pays on power-law graphs (the
    "curse of the last reducer").  Three shuffles total: degree agg,
    wedge join on the middle vertex, closing-edge join; each triangle
    is found exactly once (at its lowest-ordered apex) and then
    credited to all three vertices with an explode + count.

    Scale: no collect, no windows; the two joins are plain equi-joins
    AQE can re-plan, and the oriented edge list is persisted once
    because both join sides read it.  Node ids may be any orderable
    type (the (degree, id) tie-break must be total).
    """
    # materialize the canonical edge list and the degree table once:
    # deg is read three times (both orientation sides + the output
    # join) and e twice — uncheckpointed, each reference would replay
    # the caller's edge construction (often itself a self-join)
    e = checkpoint(
        edges.filter(F.col(src) != F.col(dst))
        .select(
            F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b")
        )
        .distinct(),
        eager=True,
    )
    deg = checkpoint(
        e.select(F.col("a").alias("id"))
        .unionByName(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree")),
        eager=True,
    )
    # orient a→b iff (deg[a], a) < (deg[b], b)
    da, db = deg.alias("da"), deg.alias("db")
    with cached(
        e.join(da.hint("merge"), F.col("a") == F.col("da.id"))
        .join(db.hint("merge"), F.col("b") == F.col("db.id"))
        .select(
            F.when(
                (F.col("da.degree") < F.col("db.degree"))
                | (
                    (F.col("da.degree") == F.col("db.degree"))
                    & (F.col("a") < F.col("b"))
                ),
                F.col("a"),
            )
            .otherwise(F.col("b"))
            .alias("lo"),
            F.when(
                (F.col("da.degree") < F.col("db.degree"))
                | (
                    (F.col("da.degree") == F.col("db.degree"))
                    & (F.col("a") < F.col("b"))
                ),
                F.col("b"),
            )
            .otherwise(F.col("a"))
            .alias("hi"),
        )
    ) as o:
        # wedges centered at the apex: x→y, x→z with y < z in the SAME
        # (degree, id) order the orientation used — o is a DAG, so (y, z)
        # ordered pairs double-count each wedge unless one side is fixed;
        # plain column comparison suffices because hi ids at equal rank
        # sort by id and the closing edge is looked up both ways below.
        w1, w2 = o.alias("w1"), o.alias("w2")
        wedges = w1.join(
            w2.hint("merge"),
            (F.col("w1.lo") == F.col("w2.lo"))
            & (F.col("w1.hi") < F.col("w2.hi")),
        ).select(
            F.col("w1.lo").alias("x"),
            F.col("w1.hi").alias("y"),
            F.col("w2.hi").alias("z"),
        )
        # closing-edge lookup: wedges order (y, z) by id, the oriented
        # edge list by (degree, id) — canonicalize BOTH to (min-id,
        # max-id) so the probe is a pure equi-join (an OR of the two
        # orientations would force a nested-loop join)
        closing = o.select(
            F.least("lo", "hi").alias("p"), F.greatest("lo", "hi").alias("q")
        )
        tri = wedges.join(
            closing.hint("merge"),
            (F.col("y") == F.col("p")) & (F.col("z") == F.col("q")),
        ).select("x", "y", "z")
        per_node = (
            tri.select(F.explode(F.array("x", "y", "z")).alias("id"))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_triangles"))
        )
        out = checkpoint(
            deg.join(per_node.hint("merge"), "id", "left")
            .select(
                "id",
                "degree",
                F.coalesce("n_triangles", F.lit(0))
                .cast("bigint")
                .alias("n_triangles"),
                F.when(
                    F.col("degree") >= 2,
                    F.round(
                        2.0
                        * F.coalesce("n_triangles", F.lit(0))
                        / (F.col("degree") * (F.col("degree") - 1.0)),
                        9,
                    ),
                )
                .otherwise(F.lit(0.0))
                .alias("coefficient"),
            ),
            eager=True,
        )
    return out


def label_propagation(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    iterations: int = 3,
) -> DataFrame:
    """Synchronous label propagation [Raghavan et al. 2007] over an
    undirected edge list → ``(id, label)`` after exactly
    ``iterations`` rounds.

    Every node starts labeled with its own id; each round it adopts
    the most frequent label among its neighbors, ties broken by the
    smallest label — fully deterministic (the async/random-order
    variants are not), so a fixed round count has an exact unrolled
    SQL twin.  Per round: one join of the symmetric edge list against
    current labels + one (node, label) count + one per-node argmax —
    all partial-aggregated, shuffle volume O(|E|) per round like
    pagerank.  ``checkpoint`` after each round truncates lineage.

    Note sync LPA can oscillate 2-cycles on bipartite structure; that
    is inherent to the synchronous schedule and does not affect
    determinism at a fixed round count.
    """
    from pyspark.sql import Window

    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    with cached(
        edges.filter(F.col(src) != F.col(dst))
        .select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(
            edges.filter(F.col(src) != F.col(dst)).select(
                F.col(dst).alias("u"), F.col(src).alias("v")
            )
        )
        .distinct()
    ) as sym:
        labels = sym.select(F.col("u").alias("id")).distinct().withColumn(
            "label", F.col("id")
        )
        rank_w = Window.partitionBy("u").orderBy(
            F.col("_n").desc(), F.col("label").asc()
        )
        for _ in range(iterations):
            cnt = (
                sym.join(labels.hint("merge"), sym.v == labels.id)
                .groupBy("u", "label")
                .agg(F.count(F.lit(1)).alias("_n"))
            )
            labels = checkpoint(
                cnt.withColumn("_rn", F.row_number().over(rank_w))
                .filter(F.col("_rn") == 1)
                .select(F.col("u").alias("id"), "label"),
                eager=True,
            )
        labels = checkpoint(labels, eager=True)
    return labels


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "u",
    dst: str = "v",
    id_col: str = "id",
    max_hops: int = 4,
) -> DataFrame:
    """Multi-source BFS hop distance over an undirected edge list →
    ``(id, dist)`` for every node within ``max_hops`` of any source —
    the "distance from trusted seeds" signal (the BFS half of
    TrustRank-style curation: label quality by graph proximity to a
    vetted seed set).

    Frontier-free formulation: carry the full distance map and relax
    one hop per round (``d' = min(d, min_neighbor d + 1)``) — each
    round is one edge⋈distance shuffle join + one min-aggregate,
    O(|E|) like a pagerank step, and the result after round r is
    exactly "shortest distance ≤ r", so a fixed round count has an
    exact unrolled SQL twin.  Nodes never reached within
    ``max_hops`` are absent from the output (no sentinel rows).
    ``checkpoint`` per round truncates lineage.
    """
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    with cached(
        edges.filter(F.col(src) != F.col(dst))
        .select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(
            edges.filter(F.col(src) != F.col(dst)).select(
                F.col(dst).alias("u"), F.col(src).alias("v")
            )
        )
        .distinct()
    ) as sym:
        dist = (
            sources.select(F.col(id_col).alias("id"))
            .distinct()
            .withColumn("dist", F.lit(0).cast("int"))
        )
        for _ in range(max_hops):
            relaxed = checkpoint(
                sym.join(dist.hint("merge"), sym.v == dist.id)
                .select(sym.u.alias("id"), (F.col("dist") + 1).alias("dist"))
                .unionByName(dist)
                .groupBy("id")
                .agg(F.min("dist").alias("dist")),
                eager=True,
            )
            dist = relaxed
        dist = checkpoint(dist, eager=True)
    return dist


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "u",
    dst: str = "v",
    peel_rounds: int = 4,
) -> DataFrame:
    """k-core peeling over an undirected edge list → surviving
    ``(id, degree)`` after ``peel_rounds`` synchronous peel rounds
    (each round drops every node whose degree within the current
    subgraph is < k, all at once).  The true k-core is the fixpoint;
    a fixed round count is an upper bound that tightens monotonically
    and — run to convergence — equals it.  Fixed rounds keep the
    operator's exact unrolled SQL twin (and each extra round past
    convergence is a no-op, so "enough" rounds ARE the fixpoint).

    Per round: one degree aggregate over the surviving edge list +
    two semi joins to filter edges — O(|E|) shuffle per round, edges
    shrink monotonically.  The classic distributed formulation
    (Montresor et al., "Distributed k-core decomposition").
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if peel_rounds < 1:
        raise ValueError("peel_rounds must be >= 1")
    e = checkpoint(
        edges.filter(F.col(src) != F.col(dst))
        .select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(
            edges.filter(F.col(src) != F.col(dst)).select(
                F.col(dst).alias("u"), F.col(src).alias("v")
            )
        )
        .distinct(),
        eager=True,
    )
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
    for _ in range(peel_rounds):
        keep = deg.filter(F.col("degree") >= k).select("u")
        e = checkpoint(
            e.join(keep.hint("merge"), "u")
            .join(keep.select(F.col("u").alias("v")).hint("merge"), "v")
            .select("u", "v"),
            eager=True,
        )
        deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
    return deg.filter(F.col("degree") >= k).select(
        F.col("u").alias("id"), "degree"
    )


def merge_components(
    labels: DataFrame,
    new_edges: DataFrame,
    id_col: str = "id",
    comp_col: str = "component",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Fold NEW near-dup pairs into EXISTING component labels without
    recomputing over the historical pair graph → updated ``(id,
    component)`` — the cluster-maintenance complement of
    ``incremental_dedup``'s persistent MinHash index: the index keeps
    probe cost off the old corpus, this keeps resolution cost off the
    old pair set.

    Existing clusters enter the rerun as STAR edges (member → root),
    so the propagation works over ``|labels| + |new_edges|`` edges —
    proportional to the current corpus plus the delta, never to the
    accumulated pair history.  Because every star points at its
    cluster's minimum id, the merged result is IDENTICAL to a full
    recompute over (historical ∪ new) pairs — the gate query proves
    that equivalence cross-engine (Spark runs two-stage incremental,
    the oracle one full resolution).

    Rows present only in ``labels`` (untouched singletons) pass
    through; ids appearing only in ``new_edges`` join the universe.
    """
    star = labels.filter(F.col(id_col) != F.col(comp_col)).select(
        F.col(id_col).alias("id_a"), F.col(comp_col).alias("id_b")
    )
    delta = new_edges.select(
        F.col(src).alias("id_a"), F.col(dst).alias("id_b")
    )
    merged = connected_components(star.unionByName(delta), "id_a", "id_b")
    universe = (
        labels.select(F.col(id_col).alias("id"))
        .unionByName(delta.select(F.col("id_a").alias("id")))
        .unionByName(delta.select(F.col("id_b").alias("id")))
        .distinct()
    )
    return universe.join(merged.hint("merge"), "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )


def dbscan_from_pairs(
    universe: DataFrame,
    pairs: DataFrame,
    id_col: str = "id",
    src: str = "id_a",
    dst: str = "id_b",
    min_pts: int = 3,
) -> DataFrame:
    """DBSCAN (Ester et al. KDD'96) over a precomputed ε-neighbor pair
    graph → ``(id, role, cluster)`` with role ∈ {core, border, noise}
    and cluster = the minimum core id of the component (-1 for noise).

    The ε-range query — DBSCAN's expensive half — is exactly the
    near-dup pair kernel this engine already ships (exact cosine
    pairs, or LSH-bucketed at scale), so density clustering composes
    from shipped parts: neighbor counts (one agg) → core points
    (≥ ``min_pts`` neighbors, self excluded) → components over the
    core-core subgraph → border points attach to their minimum-
    cluster core neighbor.  Every step is a join/aggregate with
    min-tie-breaks — fully deterministic, recursive-CTE oracle-able.

    Scale: O(|pairs|) shuffles + the components rounds on the CORE
    subgraph only (noise/border never iterate); pair generation is the
    bucketed kernel's job, so no all-pairs anything here.

    Ids must be integral: ``cluster`` is a BIGINT (min core id, ``-1``
    noise sentinel), so a string-keyed universe would silently cast
    every cluster to NULL — rejected here instead.  String ids should
    be mapped through ``xxhash64``/a surrogate key first.
    """
    if min_pts < 1:
        raise ValueError("min_pts must be >= 1")
    from pyspark.sql import types as T

    id_type = universe.schema[id_col].dataType
    if not isinstance(
        id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        raise TypeError(
            f"dbscan_from_pairs requires an integral {id_col!r} "
            f"(cluster is BIGINT with -1 as the noise sentinel); got "
            f"{id_type.simpleString()} — hash or surrogate-key string "
            "ids first"
        )
    sym = checkpoint(
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(
            pairs.select(F.col(dst).alias("u"), F.col(src).alias("v"))
        )
        .distinct(),
        eager=True,
    )
    ncount = sym.groupBy("u").agg(F.count(F.lit(1)).alias("_n"))
    core = ncount.filter(F.col("_n") >= min_pts).select(
        F.col("u").alias("id")
    )
    ce = (
        sym.join(core.select(F.col("id").alias("u")).hint("merge"), "u")
        .join(core.select(F.col("id").alias("v")).hint("merge"), "v")
        .select(F.col("u").alias("id_a"), F.col("v").alias("id_b"))
    )
    comp = connected_components(ce, "id_a", "id_b")
    core_cl = core.join(comp.hint("merge"), "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("cluster")
    )
    border = (
        sym.join(
            core_cl.hint("merge").select(
                F.col("id").alias("v"), F.col("cluster").alias("_c")
            ),
            "v",
        )
        .groupBy("u")
        .agg(F.min("_c").alias("cluster"))
        .join(core.select(F.col("id").alias("u")).hint("merge"), "u", "left_anti")
        .select(F.col("u").alias("id"), "cluster")
    )
    labeled = core_cl.withColumn("role", F.lit("core")).unionByName(
        border.withColumn("role", F.lit("border"))
    )
    return (
        universe.select(F.col(id_col).alias("id"))
        .join(labeled.hint("merge"), "id", "left")
        .select(
            "id",
            F.coalesce("role", F.lit("noise")).alias("role"),
            F.coalesce("cluster", F.lit(-1)).cast("bigint").alias("cluster"),
        )
    )
