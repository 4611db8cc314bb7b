"""Graph operators over similarity/relationship edge lists (extension
surface; the reference has no graph processing — these are the
graph-shaped curation passes a training pipeline runs over its own
near-duplicate graph: connected components lives in
operators/similarity.py, centrality lives here).

Scale shape: everything is edge-relation joins + hash aggregates —
no adjacency materialization on the driver, no vertex-program
framework. Per-iteration cost is one join on the edge relation and one
(dst) aggregate, both AQE-planned; iterates are localCheckpointed so
the lineage (and the re-execution cost of a lost stage) stays one
iteration deep, the same fixpoint discipline as
similarity.connected_components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def symmetrize(pairs: DataFrame, a: str = "id_a", b: str = "id_b") -> DataFrame:
    """Undirected pair list -> directed edge relation (both directions),
    columns (src, dst)."""
    return pairs.select(
        F.col(a).alias("src"), F.col(b).alias("dst")
    ).unionByName(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))


def pagerank_fixed(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    round_to: int = 9,
) -> DataFrame:
    """PageRank with a FIXED iteration count over a directed edge
    relation (src, dst) -> (v, pagerank) rows, one per node that
    appears in the edge relation.

    Fixed iterations instead of convergence-test iterations is a
    deliberate portability and determinism choice: the result is a
    closed-form function of the edge set, so an external engine can
    replay it exactly (the registered query's DuckDB oracle chains one
    CTE per iteration), and at 100 TB the scheduler sees a statically
    known DAG instead of a data-dependent loop. Convergence monitoring
    belongs in a metric (sum |r_t - r_{t-1}|), not in control flow.

    Node scope: nodes OF THE GRAPH (distinct edge endpoints). Isolated
    vertices never influence ranks of connected ones and hold the
    trivial rank (1-d)/N' under every teleport convention, so callers
    wanting them report that closed form rather than paying joins.

    On a symmetrized (undirected) graph every node has out-degree >= 1,
    so there is no dangling mass; for general directed input the
    dangling correction is deliberately omitted and documented (the
    near-dup graphs this engine builds are all symmetric).

    Plan: degree is joined into the edge relation ONCE before the loop
    (the degree of an edge's source never changes across iterations,
    so the old per-iteration edges⋈deg join paid iters-1 redundant
    joins; the per-edge contribution stays `_pr / _d` — the identical
    division, so FP results are unchanged). Per iteration that leaves
    one edges-to-ranks join (shuffle keyed src — AQE broadcasts the
    rank relation when small) + one (dst) hash aggregate. Each iterate
    is localCheckpointed, so the plan stays one round deep. Ranks are
    rounded only at the END; intermediate iterates keep full doubles.
    """
    # materialize ONCE: the edge relation is consumed 2x (degree
    # aggregate + the contribution loop), and in this engine it is
    # typically the tail of an expensive pipeline (LSH verify) —
    # without the checkpoint every consumer would re-execute that
    # whole lineage
    edges = edges.localCheckpoint()
    nodes = (
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .distinct()
        .localCheckpoint()
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.select("v", F.lit(0.0).alias("pagerank")).limit(0)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("_d"))
    cedges = (
        edges.join(deg, "src")
        .select("src", "dst", "_d")
        .localCheckpoint()
    )
    base = (1.0 - damping) / n_nodes
    ranks = nodes.select("v", F.lit(1.0 / n_nodes).alias("_pr"))
    for _ in range(iters):
        contribs = (
            cedges.join(ranks, F.col("src") == F.col("v"))
            .select("dst", (F.col("_pr") / F.col("_d")).alias("_c"))
            .groupBy("dst")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = (
            nodes.join(contribs, nodes.v == contribs.dst, "left")
            .select(
                "v",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
                ).alias("_pr"),
            )
            .localCheckpoint()
        )
    return ranks.select("v", F.round(F.col("_pr"), round_to).alias("pagerank"))


def degree_stats(edges: DataFrame) -> DataFrame:
    """Per-node (v, out_degree, in_degree) from a directed edge
    relation — two hash aggregates and an outer join, the cheap
    structural profile run before choosing a traversal strategy."""
    out_d = edges.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_d = edges.groupBy(F.col("dst").alias("v")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        out_d.join(in_d, "v", "full_outer")
        .select(
            "v",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


def k_hop_reach(edges: DataFrame, k: int = 3) -> DataFrame:
    """(v, n_reachable) — how many OTHER nodes each node reaches within
    k hops. The blast-radius statistic over a near-dup graph: a doc
    with a large k-hop neighborhood sits in a dense duplication family
    (candidate for aggressive collapse), an n_reachable of 1-2 is an
    isolated pair.

    Plan: frontier expansion as k joins on the edge relation with a
    DISTINCT per round (reach sets, not walks); the reach relation is
    localCheckpointed per hop — the same bounded-iteration discipline
    as pagerank_fixed, with output bounded by sum of reach-set sizes
    (at 100 TB this is run on the near-dup graph, which is sparse by
    construction — LSH only emits verified pairs). Edges are
    materialized once for the same reason as pagerank_fixed.
    """
    edges = edges.localCheckpoint()
    # self-loops are dropped from the BASE relation too, not just from
    # expansions — otherwise a self-loop edge makes a node count itself
    # in n_reachable, contradicting the "OTHER nodes" contract.
    reach = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    for _ in range(k - 1):
        expanded = (
            reach.join(
                edges.select(
                    F.col("src").alias("dst"), F.col("dst").alias("_nxt")
                ),
                "dst",
            )
            .select("src", F.col("_nxt").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )
        reach = reach.unionByName(expanded).distinct().localCheckpoint()
    return reach.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("n_reachable")
    )


def rank_within_components(
    ranks: DataFrame,
    components: DataFrame,
    id_col: str = "v",
    rank_col: str = "pagerank",
    component_col: str = "component_id",
) -> DataFrame:
    """Per-component centrality ranking: each node's rank WITHIN its
    duplicate family (rank desc, id asc — deterministic) plus the
    family size. rank_in_component == 1 is the family's canonical
    representative — the principled alternative to longest-wins that
    curate_near_dup_keep_best approximates: keep the doc whose content
    RADIATES most through the family, drop the rest.

    Plan: one equi-join onto the component map (broadcast when the map
    is dim-sized; bucketed co-partition at 100 TB) + ONE window
    shuffle keyed component_id. Windows are per-family — family sizes
    are near-dup-bounded, so no global or skewed partition; both
    window functions (row_number, count) share the single sort."""
    from pyspark.sql import Window

    comp = components.select(F.col(id_col), F.col(component_col))
    w = Window.partitionBy(component_col).orderBy(
        F.col(rank_col).desc(), F.col(id_col).asc()
    )
    return (
        ranks.join(comp, id_col)
        .select(
            component_col,
            id_col,
            rank_col,
            F.row_number().over(w).alias("rank_in_component"),
            F.count(F.lit(1))
            .over(Window.partitionBy(component_col))
            .cast("long")
            .alias("n_members"),
        )
    )


def component_density(
    pairs: DataFrame,
    components: DataFrame,
    id_col: str = "v",
    component_col: str = "component_id",
    round_to: int = 9,
) -> DataFrame:
    """Per-family edge density over the verified near-dup graph:
    (component_id, n_members, n_edges, density) with density =
    n_edges / C(n_members, 2). Density ~1 is a clique — every member
    verifies against every other (aggressive collapse is safe);
    density ~2/m is a chain — members verified transitively but not
    pairwise (collapse conservatively, the endpoints may share little)
    — the structural refinement of k_hop_reach's blast-radius count.

    Plan: one pair-to-component join (undirected pairs carry both
    endpoints in one component by construction, so joining id_a
    suffices) + two component-keyed aggregates and a
    component-map-sized join — nothing corpus-shaped."""
    comp_a = components.select(
        F.col(id_col).alias("id_a"), F.col(component_col)
    )
    edges = (
        pairs.join(comp_a, "id_a")
        .groupBy(component_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    )
    members = components.groupBy(component_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    m = F.col("n_members").cast("double")
    return (
        members.filter(F.col("n_members") >= 2)
        .join(edges, component_col, "left")
        .select(
            component_col,
            "n_members",
            F.coalesce("n_edges", F.lit(0)).cast("long").alias("n_edges"),
            F.round(
                F.coalesce("n_edges", F.lit(0)) / (m * (m - 1) / 2.0),
                round_to,
            ).alias("density"),
        )
    )
