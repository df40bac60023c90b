"""Graph materialization + the BFS query surface (SURVEY.md §2.8).

The reference materializes a petgraph StableDiGraph on demand by joining
relations to entities in memory (routes/graph.rs:183-214) and answers
GET /graph-search with a per-start-node BFS over BOTH edge directions,
a first-visit parent tree, depth <= max_depth, collecting a path whenever a
Disease node is reached at depth > 0, stopping at max_paths
(routes/graph.rs:419-465; duplicate impl examples/traverse_graph.rs:147-199).

Spark restatement:
  * vertices/edges are plain DataFrames (G1) — the inner-join endpoint
    resolution (J3, graph.rs:203-213) already happened in the relation fold,
    so every edge is FK-clean by construction.
  * BFS is a driver-side loop of frontier joins — one shuffle join + one
    anti-join per level, ALL start nodes advanced simultaneously (the
    frontier carries a ``start`` column), bounded by max_depth iterations.
    At scale this is the textbook level-synchronous BFS: work per level is
    |frontier ⋈ edges|, lineage truncated per level.
  * Determinism deviations from the reference (documented, strict
    improvements): start nodes are ordered by entity_id (the reference takes
    the first 50 in HashMap iteration order, graph.rs:227 — nondeterministic);
    first-visit ties at the same BFS level keep the lexicographically
    smallest path (reference keeps tokio-arrival queue order); the max_paths
    cut is ordered by (depth, path).

Every iterative operator here (BFS, label propagation, closeness, stress,
k-core, the rank kernel, weighted paths, HITS, components) runs inside one
:class:`kgspark.session.LoopScope`: its rounds run without AQE re-planning,
it cuts lineage per round (reliable checkpoint when a checkpoint dir is
configured, localCheckpoint otherwise), holds the inputs its rounds re-read,
and returns a cut result.  A loop that stops when nothing changes reads that
count from the round's cut (``ls.cut(df, observe=...)``), not from a job of
its own.  On return every other cut and hold is released, so a call leaves
one persisted frame behind: the one it returned.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .session import LineageScope, LoopScope, graph_parts

DEFAULT_MAX_DEPTH = 6    # routes/graph.rs:37
DEFAULT_MAX_PATHS = 5    # routes/graph.rs:38
DEFAULT_MAX_STARTS = 50  # max_symptoms, routes/graph.rs:39


def vertices(entity_table: DataFrame) -> DataFrame:
    """G1/G2 vertex set: one row per entity (id, name, type, description)."""
    return entity_table.select(
        F.col("entity_id").alias("id"),
        F.col("entity_name").alias("name"),
        F.col("entity_type").alias("entity_type"),
        F.col("entity_description").alias("description"),
        "doc_id",
    )


def edges(relation_table: DataFrame) -> DataFrame:
    """G1/G2 edge set (directed): src/dst entity ids + description."""
    return relation_table.select(
        F.col("relation_id").alias("id"),
        F.col("source_entity_id").alias("src"),
        F.col("target_entity_id").alias("dst"),
        F.col("relationship_description").alias("description"),
        "doc_id",
    )


def undirected(edge_table: DataFrame) -> DataFrame:
    """Both-direction walk surface (WalkDir::Both, graph.rs:457-461):
    each edge usable forward (is_forward=true) and backward."""
    fwd = edge_table.select(
        "src", "dst", "description", F.lit(True).alias("is_forward")
    )
    rev = edge_table.select(
        F.col("dst").alias("src"),
        F.col("src").alias("dst"),
        "description",
        F.lit(False).alias("is_forward"),
    )
    return fwd.union(rev)


def neighbors(
    edge_table: DataFrame, node_ids: DataFrame, direction: str = "both"
) -> DataFrame:
    """G7: out / in / both neighbor expansion of a node-id set.

    ``node_ids`` must have a single column ``id``.
    """
    if direction == "out":
        surface = edge_table.select(F.col("src").alias("id"), F.col("dst").alias("neighbor"))
    elif direction == "in":
        surface = edge_table.select(F.col("dst").alias("id"), F.col("src").alias("neighbor"))
    elif direction == "both":
        surface = edge_table.select(
            F.col("src").alias("id"), F.col("dst").alias("neighbor")
        ).union(
            edge_table.select(F.col("dst").alias("id"), F.col("src").alias("neighbor"))
        )
    else:
        raise ValueError(f"direction must be out/in/both, got {direction!r}")
    return node_ids.join(surface, "id").select("id", "neighbor").distinct()


def start_nodes(
    vertex_table: DataFrame,
    start_type: str = "Symptom",
    q: str | None = None,
    max_starts: int = DEFAULT_MAX_STARTS,
) -> DataFrame:
    """G3 + W5: typed start nodes, optional ci name-contains filter,
    deterministic order by entity id, first ``max_starts``."""
    out = vertex_table.filter(F.lower("entity_type") == start_type.lower())
    if q:
        out = out.filter(F.lower("name").contains(q.lower()))
    return out.orderBy("id").limit(max_starts)


def bfs_paths(
    vertex_table: DataFrame,
    edge_table: DataFrame,
    start_type: str = "Symptom",
    target_type: str = "Disease",
    q: str | None = None,
    max_depth: int = DEFAULT_MAX_DEPTH,
    max_paths: int = DEFAULT_MAX_PATHS,
    max_starts: int = DEFAULT_MAX_STARTS,
) -> DataFrame:
    """G4: per-start BFS over both directions → (start, path, depth).

    ``path`` is the array of entity ids from start to a reached target-type
    node; one path per (start, reached node) — the first-visit parent-tree
    semantics of the reference.  Level-synchronous driver loop, <= max_depth
    rounds, each one join + one anti-join + one min-aggregation.
    """
    with LoopScope(edge_table.sparkSession) as ls:
        und = ls.cut(undirected(edge_table).select("src", "dst").distinct())
        types = vertex_table.select("id", "entity_type")

        starts = start_nodes(vertex_table, start_type, q, max_starts).select(
            F.col("id").alias("start")
        )
        frontier = ls.cut(
            starts.select(
                "start",
                F.col("start").alias("node"),
                F.array("start").alias("path"),
            )
        )
        visited = ls.cut(frontier.select("start", "node"))

        found: list[DataFrame] = []
        for depth in range(1, max_depth + 1):
            expanded = (
                frontier.join(und, frontier["node"] == und["src"])
                .select(
                    "start",
                    F.col("dst").alias("node"),
                    F.concat("path", F.array("dst")).alias("path"),
                )
            )
            fresh, n_fresh = ls.cut(
                expanded.join(visited, ["start", "node"], "left_anti")
                .groupBy("start", "node")
                .agg(F.min("path").alias("path")),
                observe=F.count(F.lit(1)),
            )
            if n_fresh == 0:
                break
            hits = (
                fresh.join(types, fresh["node"] == types["id"])
                .filter(F.lower("entity_type") == target_type.lower())
                .select("start", "path", F.lit(depth).alias("depth"))
            )
            found.append(hits)
            visited = ls.cut(visited.union(fresh.select("start", "node")))
            frontier = fresh

        if not found:
            return starts.select(
                "start",
                F.array().cast("array<string>").alias("path"),
                F.lit(0).alias("depth"),
            ).limit(0)

        w = Window.partitionBy("start").orderBy("depth", "path")
        return ls.result(
            reduce(DataFrame.union, found)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= max_paths)
            .drop("rn")
        )


def render_paths(
    paths: DataFrame, vertex_table: DataFrame, edge_table: DataFrame
) -> DataFrame:
    """G5: path → 'A --- desc ---> B ... ' llm-friendly string.

    Every (a, b) step joins the edge table on (src,dst) ∪ (dst,src) with an
    is_forward flag (J4, graph.rs:375-387: forward edge preferred); node ids
    render as names.  Steps re-assemble via one groupBy over (start, path).
    """
    steps = paths.select(
        "start",
        "path",
        "depth",
        F.posexplode(F.expr("slice(path, 1, size(path) - 1)")).alias("i", "a"),
    ).withColumn("b", F.element_at("path", F.col("i") + 2))

    # one edge per (a,b): prefer forward, then smallest description
    picked = (
        undirected(edge_table)
        .groupBy("src", "dst")
        .agg(F.max(F.struct("is_forward", F.col("description"))).alias("w"))
        .select(
            "src",
            "dst",
            F.col("w.description").alias("description"),
            F.col("w.is_forward").alias("is_forward"),
        )
    )
    names = vertex_table.select("id", "name")
    na = names.select(F.col("id").alias("a"), F.col("name").alias("name_a"))
    nb = names.select(F.col("id").alias("b"), F.col("name").alias("name_b"))
    joined = (
        steps.join(picked, (steps["a"] == picked["src"]) & (steps["b"] == picked["dst"]))
        .join(na, "a")
        .join(nb, "b")
    )
    seg = F.concat(
        F.col("name_a"),
        F.when(F.col("is_forward"), F.lit(" --- ")).otherwise(F.lit(" <--- ")),
        F.col("description"),
        F.when(F.col("is_forward"), F.lit(" ---> ")).otherwise(F.lit(" --- ")),
        F.col("name_b"),
    )
    return (
        joined.groupBy("start", "path", "depth")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", seg.alias("seg")))),
                    lambda s: s["seg"],
                ),
                " ----- ",
            ).alias("rendered")
        )
    )


def graph_search(
    entity_table: DataFrame,
    relation_table: DataFrame,
    q: str | None = None,
    start_type: str = "Symptom",
    target_type: str = "Disease",
    max_depth: int = DEFAULT_MAX_DEPTH,
    max_paths: int = DEFAULT_MAX_PATHS,
    max_starts: int = DEFAULT_MAX_STARTS,
    llm_friendly: bool = False,
) -> DataFrame:
    """G6: the GET /graph-search analog (params graph.rs:98-181)."""
    v, e = vertices(entity_table), edges(relation_table)
    p = bfs_paths(
        v, e, start_type, target_type, q, max_depth, max_paths, max_starts
    )
    if llm_friendly:
        return render_paths(p, v, e)
    return p


def _dot_escape(s: str) -> str:
    return (s or "").replace("\\", "\\\\").replace('"', '\\"')


def _truncate(s: str, n: int = 40) -> str:
    """Char-truncate with ellipsis (F8, examples/create_graph.rs:215-225)."""
    s = s or ""
    return s if len(s) <= n else s[:n] + "…"


def to_dot(
    vertex_table: DataFrame,
    edge_table: DataFrame,
    cluster_by_doc: bool = True,
    max_nodes: int = 2000,
    max_edges: int = 16000,
) -> str:
    """S9/G8: render the graph to Graphviz DOT, clustered by doc_id
    (examples/create_graph.rs:100-225).

    Driver-side render — intended for SMALL graphs (dashboards, debugging).
    This is the repo's only unbounded-shape ``collect()``, so BOTH inputs
    are counted against explicit ceilings BEFORE anything is collected:
    ``max_nodes`` (default 2000) and ``max_edges`` (default 16000 — a
    multigraph can exceed any node bound on edges alone).  Above either
    bound the render raises ``ValueError`` rather than OOMing the driver;
    large-graph exports go through :func:`kgspark.materialize.export_json`
    instead.
    """
    n = vertex_table.count()
    if n > max_nodes:
        raise ValueError(f"graph too large to render: {n} nodes > {max_nodes}")
    m = edge_table.count()
    if m > max_edges:
        raise ValueError(f"graph too large to render: {m} edges > {max_edges}")
    verts = sorted(
        vertex_table.collect(), key=lambda r: r["id"]
    )  # deterministic order (reference iterates HashMap order)
    eds = sorted(
        edge_table.collect(), key=lambda r: (r["src"], r["dst"], r["id"])
    )
    out = ["digraph knowledge_graph {", "  rankdir=LR;", "  node [shape=box];"]
    if cluster_by_doc:
        by_doc: dict[str, list] = {}
        for v in verts:
            by_doc.setdefault(v["doc_id"], []).append(v)
        for i, doc_id in enumerate(sorted(by_doc)):
            out.append(f'  subgraph "cluster_{i}" {{')
            out.append(f'    label="{_dot_escape(_truncate(doc_id, 16))}";')
            for v in by_doc[doc_id]:
                out.append(
                    f'    "{_dot_escape(v["id"])}" '
                    f'[label="{_dot_escape(_truncate(v["name"]))}\\n'
                    f'({_dot_escape(v["entity_type"])})"];'
                )
            out.append("  }")
    else:
        for v in verts:
            out.append(
                f'  "{_dot_escape(v["id"])}" '
                f'[label="{_dot_escape(_truncate(v["name"]))}"];'
            )
    for e in eds:
        out.append(
            f'  "{_dot_escape(e["src"])}" -> "{_dot_escape(e["dst"])}" '
            f'[label="{_dot_escape(_truncate(e["description"]))}"];'
        )
    out.append("}")
    return "\n".join(out)


def count_by_type(vertex_table: DataFrame) -> DataFrame:
    """A3 (examples/traverse_graph.rs:261-267)."""
    return vertex_table.groupBy(
        F.lower("entity_type").alias("entity_type")
    ).agg(F.count(F.lit(1)).alias("n_entities"))


# ------------------------------------------------- name-level graph analytics
#
# The reference's graph surface stops at traversal (BFS / neighbors / DOT,
# graph.rs:375-461); these are the beyond-reference analytics a KG consumer
# runs next: degree centrality and triangle (co-occurrence clustering)
# counts.  Both operate on the NAME-level projection of the triple set —
# entity ids are per-doc content-addressed, so the id-level graph is a
# disjoint union of per-document stars, while the name projection is the
# cross-document knowledge graph users actually query.
#
# Scale shape: everything reduces to distinct-pair sets and hash aggregates
# on name keys — no driver collects, no cartesian anything.  The triangle
# join chain is the standard a<b<c oriented-edge enumeration, which bounds
# the join fan-out by the arboricity of the graph (each triangle counted
# exactly once).


def name_edges(triples: DataFrame) -> DataFrame:
    """Undirected, deduplicated name-level edge set from a triple table:
    one row per unordered pair {subj, obj}, canonically oriented a < b."""
    return (
        triples.select(
            F.least("subj", "obj").alias("a"), F.greatest("subj", "obj").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _adjacency(triples: DataFrame) -> DataFrame:
    """The undirected name graph as (name, nb): each distinct edge of
    :func:`name_edges` once per direction."""
    e = name_edges(triples)
    return e.select(F.col("a").alias("name"), F.col("b").alias("nb")).union(
        e.select(F.col("b").alias("name"), F.col("a").alias("nb"))
    )


def degrees(triples: DataFrame) -> DataFrame:
    """Per-name degree centrality over the distinct name-level edge sets:
    out_degree (distinct objects the name relates to), in_degree (distinct
    subjects relating to it), and undirected degree (distinct neighbors —
    NOT out+in, since a reciprocal pair collapses to one neighbor).

    Two hash-aggregate shuffles on name keys, then a coalesced full outer
    merge — every stage is a plain shuffle-on-key that scales linearly.
    """
    d = triples.select("subj", "obj").filter(F.col("subj") != F.col("obj")).distinct()
    outd = d.groupBy(F.col("subj").alias("name")).agg(
        F.count(F.lit(1)).cast("long").alias("out_degree")
    )
    ind = d.groupBy(F.col("obj").alias("name")).agg(
        F.count(F.lit(1)).cast("long").alias("in_degree")
    )
    und = (
        d.select(F.col("subj").alias("name"), F.col("obj").alias("nb"))
        .union(d.select(F.col("obj").alias("name"), F.col("subj").alias("nb")))
        .distinct()
        .groupBy("name")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    return (
        und.join(outd, "name", "full_outer")
        .join(ind, "name", "full_outer")
        .select(
            "name",
            F.coalesce("degree", F.lit(0)).alias("degree"),
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


def triangle_counts(triples: DataFrame) -> DataFrame:
    """Per-name triangle participation count over the undirected name graph.

    Standard oriented enumeration: with edges canonically a < b, a triangle
    a < b < c is found exactly once as (a,b) ⋈ (b,c) ⋈ (a,c) — three
    equi-joins on name keys, no orientation double-counting to divide out.
    Names in no triangle are omitted (join semantics, mirrored by the
    oracle).  Fan-out is Σ d(v)² in the worst case; at web scale the hub
    names that dominate that bound are exactly the heads the skew module
    salts (kgspark.skew), and AQE's skew-join split handles the rest.
    """
    e = name_edges(triples)
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    return (
        tri.select(
            F.explode(F.array("x", "y", "z")).alias("name")
        )
        .groupBy("name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )


RA_SCALE = 10**6


def link_prediction(triples: DataFrame, k: int = 50) -> DataFrame:
    """Link prediction over the undirected name graph: score NON-adjacent
    pairs by shared neighborhood — n_common (common-neighbor count) and the
    Resource-Allocation index (Zhou, Lü & Zhang 2009), RA = Σ_z 1/deg(z)
    over common neighbors z.  RA is computed in scaled INTEGER arithmetic
    (Σ RA_SCALE div deg(z)) so the score column is bit-exact regardless of
    partition/summation order — the same fixed-point discipline as pagerank
    and hits above.  Returns the top-k pairs ordered by
    (ra_micro desc, n_common desc, a, b) — fully deterministic tie-break.

    Scale shape: candidates are generated by the two-hop self-join on the
    shared-neighbor key (volume Σ deg(z)² — bounded by hub degrees, exactly
    what kgspark.skew salts and AQE skew-split handles), then ONE hash
    aggregate on the (a, b) pair key, an anti-join against the existing
    edge set, and a TakeOrderedAndProject for the top-k (never a global
    sort).  No n² pair enumeration anywhere.
    """
    e = name_edges(triples)
    adj = _adjacency(triples)
    deg = adj.groupBy("name").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    lhs = adj.select(F.col("name").alias("z"), F.col("nb").alias("a"))
    rhs = adj.select(F.col("name").alias("z"), F.col("nb").alias("b"))
    return (
        lhs.join(rhs, "z")
        .filter(F.col("a") < F.col("b"))
        .join(deg.withColumnRenamed("name", "z"), "z")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum(F.expr(f"{RA_SCALE} div deg")).alias("ra_micro"),
        )
        .join(e, ["a", "b"], "left_anti")
        .orderBy(F.desc("ra_micro"), F.desc("n_common"), "a", "b")
        .limit(k)
    )


def components(triples: DataFrame) -> DataFrame:
    """Connected components of the undirected distinct name-pair graph:
    (name, component_id, n_members) with component_id = the component's
    MINIMUM member name (what hash-min label propagation converges to, and
    what any independent union-find can restate).

    Reuses :func:`kgspark.canon.connected_components` — the same iterative
    hash-min join the canonicalization stage runs, one shuffle-join + one
    aggregation per round, lineage truncated per round, O(diameter) rounds.
    """
    from . import canon

    with LoopScope(triples.sparkSession) as ls:
        pairs = (
            triples.select(
                F.col("subj").alias("name_a"), F.col("obj").alias("name_b")
            )
            .filter(F.col("name_a") != F.col("name_b"))
            .distinct()
        )
        comp = ls.adopt(canon.connected_components(pairs))
        sizes = comp.groupBy("comp").agg(
            F.count(F.lit(1)).cast("long").alias("n_members")
        )
        return ls.result(
            comp.join(sizes, "comp").select(
                F.col("node").alias("name"),
                F.col("comp").alias("component_id"),
                "n_members",
            )
        )


LPA_ITERS = 5


def lpa_communities(triples: DataFrame, iters: int = LPA_ITERS) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007) over the undirected distinct name-pair graph: every node
    starts labeled with its own name; each round it adopts the label most
    frequent among its NEIGHBORS' previous-round labels, ties broken to
    the lexicographically smallest label.  Unlike :func:`components`
    (hash-MIN propagation, which converges to connected components), the
    mode-label update splits dense regions joined by thin bridges — the
    community structure, not mere reachability.

    The round count is FIXED (``iters``, default 5) and part of the spec,
    the pagerank/HITS/kcore discipline: synchronous LPA can oscillate on
    bipartite substructures, so "run to convergence" is not well-defined —
    a pinned round count makes the result deterministic under any
    partitioning and lets the oracle unroll the identical recurrence.

    Output: (name, community_id = final label, n_members).

    Scale shape: per round ONE shuffle join (labels onto the adjacency's
    neighbor key) + ONE hash aggregate on (name, label) + an argmax fold
    via min(struct(-count, label)) — no windows over whole partitions;
    lineage truncated per round so the plan stays O(1) deep.
    """
    with LoopScope(triples.sparkSession) as ls:
        adj = ls.hold(_adjacency(triples))
        lab = adj.select("name").distinct().withColumn("label", F.col("name"))
        for _ in range(iters):
            votes = (
                adj.join(
                    lab.select(F.col("name").alias("nb"), "label"), "nb"
                )
                .groupBy("name", "label")
                .agg(F.count(F.lit(1)).cast("long").alias("n"))
            )
            lab = ls.cut(
                votes.groupBy("name")
                .agg(
                    F.min(F.struct((-F.col("n")).alias("neg"), "label")).alias("s")
                )
                .select("name", F.col("s.label").alias("label"))
            )
        sizes = lab.groupBy("label").agg(
            F.count(F.lit(1)).cast("long").alias("n_members")
        )
        return ls.result(
            lab.join(sizes, "label").select(
                "name", F.col("label").alias("community_id"), "n_members"
            )
        )


CLOSENESS_SCALE = 10**6


def harmonic_closeness(
    triples: DataFrame,
    n_sources: int | None = None,
    max_iters: int = 20,
) -> DataFrame:
    """Harmonic closeness centrality over the undirected name graph:
    ``H(v) = Σ_u 1/d(v, u)`` over reachable others, in scaled INTEGER
    arithmetic (each distance contributes ``1e6 div d`` — bit-exact, no
    float sums; the harmonic form handles disconnected graphs where
    classic closeness is undefined).  Also returns ``n_reachable``.

    Level-synchronous multi-source BFS: the frontier is (src, node) pairs,
    one shuffle join against the adjacency + one visited anti-join per
    round, O(diameter) rounds, lineage truncated per round — the same loop
    discipline as bfs_paths/components.  With all nodes as sources the
    total state is O(n·m) worst case; at web scale pass ``n_sources`` to
    run the standard K-sampled-sources estimate (deterministic: the K
    lexicographically-smallest names), which bounds state by K·m.
    """
    with LoopScope(triples.sparkSession) as ls:
        adj = ls.hold(_adjacency(triples))
        nodes = adj.select("name").distinct()
        sources = (
            nodes.orderBy("name").limit(n_sources) if n_sources else nodes
        ).select(F.col("name").alias("src"))
        frontier = visited = ls.hold(
            sources.select("src", F.col("src").alias("node"))
        )
        per_round = []
        for dist in range(1, max_iters + 1):
            nxt, n_nxt = ls.cut(
                frontier.join(adj, frontier["node"] == adj["name"])
                .select("src", F.col("nb").alias("node"))
                .distinct()
                .join(visited, ["src", "node"], "left_anti"),
                observe=F.count(F.lit(1)),
            )
            if n_nxt == 0:
                break
            per_round.append(
                nxt.groupBy("src").agg(
                    F.count(F.lit(1)).cast("long").alias("n"),
                    (F.count(F.lit(1)) * (CLOSENESS_SCALE // dist))
                    .cast("long")
                    .alias("h"),
                )
            )
            visited = ls.cut(visited.union(nxt))
            frontier = nxt
        if not per_round:
            return triples.sparkSession.createDataFrame(
                [], "name string, n_reachable long, harmonic_micro long"
            )
        return ls.result(
            reduce(DataFrame.union, per_round)
            .groupBy(F.col("src").alias("name"))
            .agg(
                F.sum("n").cast("long").alias("n_reachable"),
                F.sum("h").cast("long").alias("harmonic_micro"),
            )
        )


STRESS_SOURCES = 8
STRESS_MAX_DEPTH = 8


def stress_centrality(
    triples: DataFrame,
    n_sources: int = STRESS_SOURCES,
    max_depth: int = STRESS_MAX_DEPTH,
) -> DataFrame:
    """Sampled-source stress centrality (Shimbel 1953) — the integer-exact
    member of the betweenness family: ``stress(v)`` = number of shortest
    source→target paths with ``v`` strictly interior, summed over ordered
    pairs whose source is one of the ``n_sources`` lexicographically
    smallest names (the harmonic_closeness sampling rule).  Classic
    betweenness divides each pair's count by σ_st — a float whose
    distributed sum order is nondeterministic; stress keeps the identical
    Brandes two-sweep structure in pure 64-bit counts, so the value hash
    is well-defined and the oracle can unroll the recurrence exactly.

    Brandes (2001) shape: a forward level-synchronous multi-source BFS
    accumulating path counts σ(s,v) (one adjacency join + one visited
    anti-join + one (src, node) hash aggregate per level), then a backward
    sweep down the BFS DAG accumulating ψ(s,v) = Σ_{w∈succ(v)}(1 + ψ(s,w))
    — succ(v) = neighbors one level deeper in the same source's BFS — with
    the source-s contribution through v being σ(s,v)·ψ(s,v).  State is
    O(K·n) for K sources, 2·diameter rounds (capped ``max_depth``),
    lineage truncated per round — the bfs_paths loop discipline.  At web
    scale K is the knob: exact-all-sources is O(n·m) (Brandes' bound) and
    never the plan; sampling bounds state and rounds independently of
    corpus size.
    """
    with LoopScope(triples.sparkSession) as ls:
        adj = ls.hold(_adjacency(triples))
        nodes = ls.hold(adj.select("name").distinct())
        sources = nodes.orderBy("name").limit(n_sources).select(
            F.col("name").alias("src")
        )
        levels = [
            ls.cut(
                sources.select(
                    "src",
                    F.col("src").alias("node"),
                    F.lit(1).cast("long").alias("sigma"),
                )
            )
        ]
        settled = ls.hold(levels[0].select("src", "node"))
        for _ in range(max_depth):
            nxt, n_nxt = ls.cut(
                levels[-1]
                .join(adj, levels[-1]["node"] == adj["name"])
                .select("src", F.col("nb").alias("node"), "sigma")
                .join(settled, ["src", "node"], "left_anti")
                .groupBy("src", "node")
                .agg(F.sum("sigma").cast("long").alias("sigma")),
                observe=F.count(F.lit(1)),
            )
            if n_nxt == 0:
                break
            levels.append(nxt)
            settled = ls.cut(settled.union(nxt.select("src", "node")))
        psis = [
            levels[-1].select("src", "node", F.lit(0).cast("long").alias("psi"))
        ]
        for lv in range(len(levels) - 2, -1, -1):
            succ = (
                levels[lv]
                .select("src", "node")
                .join(adj, F.col("node") == adj["name"])
                .select("src", "node", F.col("nb").alias("w"))
            )
            contrib = (
                succ.join(
                    psis[-1].select(
                        "src", F.col("node").alias("w"), F.col("psi").alias("wpsi")
                    ),
                    ["src", "w"],
                )
                .groupBy("src", "node")
                .agg(F.sum(F.lit(1) + F.col("wpsi")).cast("long").alias("psi"))
            )
            psi_l = (
                levels[lv]
                .select("src", "node")
                .join(contrib, ["src", "node"], "left")
                .select(
                    "src",
                    "node",
                    F.coalesce("psi", F.lit(0)).cast("long").alias("psi"),
                )
            )
            psis.append(ls.cut(psi_l))
        allf = reduce(
            DataFrame.union,
            [
                lvl.join(psi, ["src", "node"]).select("src", "node", "sigma", "psi")
                for lvl, psi in zip(reversed(levels), psis)
            ],
        )
        stress = (
            allf.filter(F.col("node") != F.col("src"))
            .select("node", (F.col("sigma") * F.col("psi")).alias("c"))
            .groupBy(F.col("node").alias("name"))
            .agg(F.sum("c").cast("long").alias("stress"))
        )
        return ls.result(
            nodes.join(stress, "name", "left").select(
                "name", F.coalesce("stress", F.lit(0)).cast("long").alias("stress")
            )
        )


KCORE_ITERS = 8


def kcore(
    triples: DataFrame,
    iters: int = KCORE_ITERS,
    assert_converged: bool = False,
) -> DataFrame:
    """k-core decomposition via the neighborhood h-index fixed point
    (Lü, Chen, Ren, Zhou, Zhang & Stanley 2016, "The H-index of a network
    node"): initialize c₀(v) = deg(v); each round
    ``c(v) = H({c(u) : u ~ v})`` where H is the h-index (largest h such
    that ≥ h neighbors have value ≥ h).  The sequence decreases
    monotonically and its fixed point is exactly coreness(v).  All values
    are small integers, so the result is BIT-EXACT — and the op is SPECIFIED
    as "``iters`` synchronous rounds" (like pagerank/hits) so the oracle can
    unroll the identical recurrence; a convergence test pins that ``iters``
    rounds reach the fixed point on the test corpora (the closed-vocabulary
    name graph converges in 2-3 rounds).  HONESTY BOUND: convergence needs
    up to graph-radius rounds — a long path/chain of radius > ``iters``
    returns the (still monotonically decreasing, hence upper-bound)
    ``iters``-round iterate, NOT final coreness.  Callers on unknown
    topology either raise ``iters`` (the oracle unrolls whatever
    KCORE_ITERS says) or pass ``assert_converged=True``, which runs ONE
    extra round and raises if anything still moved
    (raise-instead-of-wrong-rows, the time-travel discipline).

    Per-round plan: one edge⋈state join shuffled on the neighbor key + one
    hash aggregate computing the h-index with Catalyst HOFs
    (sort_array → transform with index → filter → size; the per-node array
    is deg(v)-sized — hub-key skew is the kgspark.skew salting/AQE case).
    Lineage truncated every round, graph-sized partitioning as in hits.

    Output: (name, coreness) as long; isolated names (no edges) don't
    appear, matching degrees()/triangle_counts() join semantics.
    """
    spark = triples.sparkSession
    with LoopScope(spark) as ls:
        adj, n_adj = ls.cut(_adjacency(triples), observe=F.count(F.lit(1)))
        if n_adj == 0:
            return spark.createDataFrame([], "name string, coreness long")
        adj = ls.hold(adj.repartition(graph_parts(spark, n_adj), "nb"))

        def h_round(state: DataFrame) -> DataFrame:
            nbvals = adj.join(
                state.select(F.col("name").alias("nb"), F.col("val").alias("nbval")),
                "nb",
            )
            return nbvals.groupBy("name").agg(
                F.expr(
                    "size(filter(transform(sort_array(collect_list(nbval), false),"
                    " (v, i) -> v >= CAST(i + 1 AS BIGINT)), x -> x))"
                ).cast("long").alias("val")
            )

        cur = adj.groupBy("name").agg(
            F.count(F.lit(1)).cast("long").alias("val")
        )
        for _ in range(iters):
            cur = h_round(ls.cut(cur))
        result = ls.result(cur.withColumnRenamed("val", "coreness"))
        if assert_converged:
            nxt = h_round(result.withColumnRenamed("coreness", "val"))
            _, moved = ls.cut(
                result.join(nxt, "name").filter(F.col("coreness") != F.col("val")),
                observe=F.count(F.lit(1)),
            )
            if moved:
                raise ValueError(
                    f"kcore did not converge in {iters} rounds (graph radius"
                    f" exceeds the round budget) — raise iters"
                )
        return result


PAGERANK_SCALE = 10**12
PAGERANK_ITERS = 15
PPR_SEEDS = 3


def _directed(ls: LineageScope, triples: DataFrame):
    """Shared prep of the directed operators (pagerank, PPR, HITS): the
    distinct non-self-loop (subj, obj) pairs partitioned on ``subj`` and the
    nodes as (name, out_deg) partitioned on ``name``, both held by ``ls``
    with the same :func:`~kgspark.session.graph_parts` width, so every
    per-round join reuses the distribution.  The node count rides the cut of
    the nodes; the two holds fill during the first round.  Returns (pairs,
    nodes, n_nodes, nparts), or None for an empty graph."""
    d = ls.hold(
        triples.select("subj", "obj").filter(F.col("subj") != F.col("obj")).distinct()
    )
    out_deg = d.groupBy(F.col("subj").alias("name")).agg(
        F.count(F.lit(1)).cast("long").alias("out_deg")
    )
    nodes, n = ls.cut(
        d.select(F.col("subj").alias("name"))
        .union(d.select(F.col("obj").alias("name")))
        .distinct()
        .join(out_deg, "name", "left")
        .select("name", F.coalesce("out_deg", F.lit(0)).alias("out_deg")),
        observe=F.count(F.lit(1)),
    )
    if n == 0:
        return None
    nparts = graph_parts(triples.sparkSession, n)
    d = ls.hold(d.repartition(nparts, "subj"))
    nodes = ls.hold(nodes.repartition(nparts, "name"))
    return d, nodes, n, nparts


def _rank_rounds(
    ls: LineageScope,
    d: DataFrame,
    nodes: DataFrame,
    seed: str,
    k: int,
    iters: int,
    scale: int,
    nparts: int,
) -> DataFrame:
    """The integer rank recurrence of :func:`pagerank` and
    :func:`personalized_pagerank`, ``iters`` rounds from the prep of
    :func:`_directed`.  ``seed`` is a SQL expression over ``nodes`` that is 1
    on a seed and 0 elsewhere, ``k`` the number of seeds; restart and
    dangling mass return to the seeds::

        r'(v) = seed(v) * (15*scale DIV (100*k))
                + 85 * (inflow(v) + seed(v) * (dangling DIV k)) DIV 100

    PageRank is the case seed ≡ 1, k = N.  Returns the ``nodes`` columns
    plus ``rank``.

    Per round: one broadcast 1-row dangling aggregate (not a driver
    collect), one edge⋈rank join reusing the ``subj`` distribution, one
    inflow aggregation repartitioned to the same width.  Lineage MUST
    truncate every round: each round reads the ranks three times (dangling
    agg, inflow join, rank update), so an uncheckpointed k-round window
    re-evaluates the chain 3^k-fold — measured 8.7s with a 3-round window vs
    5.3s per-round at sf0.1 (the same blowup the oracle's AS MATERIALIZED
    CTEs prevent).
    """
    base = (15 * scale) // (100 * k)
    ranks = nodes.select(
        *nodes.columns, F.expr(f"CAST({seed} * {scale // k}L AS BIGINT)").alias("rank")
    )
    for _ in range(iters):
        ranks = ls.cut(ranks)
        dangf = ranks.filter(F.col("out_deg") == 0).agg(
            F.coalesce(F.sum("rank"), F.lit(0)).cast("long").alias("dang")
        )
        inflow = (
            d.join(
                ranks.filter((F.col("out_deg") > 0) & (F.col("rank") > 0))
                .select(F.col("name").alias("subj"), "out_deg", "rank"),
                "subj",
            )
            .select("obj", F.expr("rank DIV out_deg").alias("share"))
            .repartition(nparts, "obj")
            .groupBy(F.col("obj").alias("name"))
            .agg(F.sum("share").alias("inflow"))
        )
        ranks = (
            nodes.join(inflow, "name", "left")
            .crossJoin(F.broadcast(dangf))
            .select(
                *nodes.columns,
                F.expr(
                    f"CAST({seed} * {base}L + 85 * (coalesce(inflow, 0L)"
                    f" + {seed} * (dang DIV {k}L)) DIV 100 AS BIGINT)"
                ).alias("rank"),
            )
        )
    return ranks


def personalized_pagerank(
    triples: DataFrame,
    n_seeds: int = PPR_SEEDS,
    iters: int = PAGERANK_ITERS,
    scale: int = PAGERANK_SCALE,
) -> DataFrame:
    """Personalized (topic-sensitive) PageRank: the same integer
    fixed-point recurrence as :func:`pagerank`, but the restart mass AND
    the dangling mass return to a SEED SET instead of spreading uniformly
    — ranks measure importance *relative to the seeds* (Haveliwala 2002),
    the standard "what matters near these entities" KG query.  Nodes
    unreachable from the seeds get rank exactly 0 (integer arithmetic, no
    float dust).

    Seeds are deterministic: the ``n_seeds`` lexicographically smallest
    node names (the harmonic_closeness sampling rule), so the result is a
    pure function of the corpus.  Update, all 64-bit integer on a total
    mass of ``scale`` with ``k = |seeds|``::

        r'(v) = [v∈S] * (15*scale DIV (100*k))
                + 85 * (inflow(v) + [v∈S] * (dangling DIV k)) DIV 100

    Same kernel and per-round plan as pagerank (:func:`_rank_rounds`); the
    k seed names are collected once and flag the nodes by literal
    membership, so no round joins a seed frame.
    """
    with LoopScope(triples.sparkSession) as ls:
        g = _directed(ls, triples)
        if g is None:
            return triples.sparkSession.createDataFrame([], "name string, ppr long")
        d, nodes, _, nparts = g
        seeds = [r["name"] for r in nodes.orderBy("name").limit(n_seeds).collect()]
        nodes = nodes.withColumn("is_seed", F.col("name").isin(seeds).cast("long"))
        ranks = _rank_rounds(ls, d, nodes, "is_seed", len(seeds), iters, scale, nparts)
        return ls.result(ranks.select("name", "is_seed", F.col("rank").alias("ppr")))


WSP_SEEDS = 3
WSP_HOPS = 4
WSP_MICRO = 10**6


def weighted_shortest_paths(
    triples: DataFrame,
    n_seeds: int = WSP_SEEDS,
    hops: int = WSP_HOPS,
    micro: int = WSP_MICRO,
) -> DataFrame:
    """Bounded-hop WEIGHTED shortest distances (multi-source Bellman-Ford)
    over the directed corpus name graph — the weighted companion to the
    unweighted BFS the reference exposes (graph_search.rs:22 explores by
    hop count only; here edge COST is evidence-derived, so a well-attested
    2-hop route can beat a thinly-attested direct edge).

    Edge weight is integer micro-cost ``micro DIV support`` where
    ``support`` is the number of DISTINCT documents asserting the directed
    (subj, obj) relation — more independent evidence, cheaper edge, and
    all-integer arithmetic keeps the value hash exact.  Sources are the
    ``n_seeds`` lexicographically smallest node names (the PPR/closeness
    sampling rule); the relaxation runs exactly ``hops`` synchronous
    rounds, so dist(v) = min cost over paths from any seed in <= hops
    edges — unreachable-within-budget nodes are absent, seeds are 0.

    Scale shape: one support aggregate (shuffle on the edge key), then per
    round ONE dist⋈edges equi-join co-partitioned on the tail name plus a
    hash-min aggregate on the head name; the frontier frame carries one
    row per reached node (bounded by |V|), lineage truncated per round.
    No path enumeration — costs fold, paths don't materialize.
    """
    spark = triples.sparkSession
    nparts = max(1, min(int(spark.conf.get("spark.sql.shuffle.partitions")), 8))
    with LoopScope(spark) as ls:
        edges = ls.hold(
            triples.filter(F.col("subj") != F.col("obj"))
            .groupBy("subj", "obj")
            .agg(F.countDistinct("doc_id").cast("long").alias("support"))
            .select(
                "subj",
                "obj",
                F.expr(f"CAST({micro} DIV support AS BIGINT)").alias("w"),
            )
            .repartition(nparts, "subj")
        )
        if edges.count() == 0:
            return spark.createDataFrame([], "name string, dist_micro long")
        nodes = (
            edges.select(F.col("subj").alias("name"))
            .union(edges.select(F.col("obj").alias("name")))
            .distinct()
        )
        dist = (
            nodes.orderBy("name")
            .limit(n_seeds)
            .select("name", F.lit(0).cast("long").alias("dist"))
        )
        for _ in range(hops):
            dist = ls.cut(dist)
            relaxed = (
                dist.join(edges, dist["name"] == edges["subj"])
                .select(
                    F.col("obj").alias("name"),
                    (F.col("dist") + F.col("w")).cast("long").alias("dist"),
                )
            )
            dist = (
                dist.unionByName(relaxed)
                .groupBy("name")
                .agg(F.min("dist").cast("long").alias("dist"))
            )
        return ls.result(dist.select("name", F.col("dist").alias("dist_micro")))


HITS_SCALE = 10**6
HITS_ITERS = 10


def hits(
    triples: DataFrame,
    iters: int = HITS_ITERS,
    scale: int = HITS_SCALE,
) -> DataFrame:
    """Integer fixed-point HITS (hubs and authorities, Kleinberg 1999) over
    the directed distinct name-pair graph: per round
    ``a_raw(v) = Σ h(u) over in-edges u→v`` then ``h_raw(v) = Σ a(w) over
    out-edges v→w`` (using the NEW a), each renormalized to total mass
    ``scale`` by integer division ``x DIV max(Σx DIV scale, 1)`` — the
    quotient-first form so no intermediate ever exceeds ``Σx`` (the naive
    ``x*scale DIV Σx`` overflows int64 once the edge count approaches
    ``2^63/scale²``).  All arithmetic is 64-bit integer, so the result is
    BIT-EXACT under any partitioning — same contract as :func:`pagerank`.

    Same prep (:func:`_directed`) and per-round plan discipline as
    pagerank: co-partitioned edge⋈state joins, broadcast 1-row
    normalization sums, lineage truncated EVERY round and once mid-round
    (each round reads the state three times; a k-round uncheckpointed
    window re-evaluates 3^k-fold).

    Output: (name, hub, authority) as longs.
    """

    def _norm(df: DataFrame, col: str) -> DataFrame:
        total = df.agg(
            F.coalesce(F.sum(col), F.lit(0)).cast("long").alias("_t")
        )
        return (
            df.crossJoin(F.broadcast(total))
            .select(
                "name",
                F.expr(f"{col} DIV greatest(_t DIV {scale}, 1)")
                .cast("long")
                .alias(col),
            )
        )

    with LoopScope(triples.sparkSession) as ls:
        g = _directed(ls, triples)
        if g is None:
            return triples.sparkSession.createDataFrame(
                [], "name string, hub long, authority long"
            )
        d, nodes, n, nparts = g
        state = nodes.select(
            "name",
            F.lit(scale // n).cast("long").alias("hub"),
            F.lit(scale // n).cast("long").alias("authority"),
        )
        for _ in range(iters):
            state = ls.cut(state)
            a_raw = (
                d.join(
                    state.select(F.col("name").alias("subj"), "hub"), "subj"
                )
                .repartition(nparts, "obj")
                .groupBy(F.col("obj").alias("name"))
                .agg(F.sum("hub").cast("long").alias("authority"))
            )
            a_full = nodes.join(a_raw, "name", "left").select(
                "name", F.coalesce("authority", F.lit(0)).alias("authority")
            )
            a_new = ls.cut(_norm(a_full, "authority"))
            h_raw = (
                d.join(
                    a_new.select(F.col("name").alias("obj"), "authority"), "obj"
                )
                .repartition(nparts, "subj")
                .groupBy(F.col("subj").alias("name"))
                .agg(F.sum("authority").cast("long").alias("hub"))
            )
            h_full = nodes.join(h_raw, "name", "left").select(
                "name", F.coalesce("hub", F.lit(0)).alias("hub")
            )
            h_new = _norm(h_full, "hub")
            state = h_new.join(a_new, "name").select("name", "hub", "authority")
        return ls.result(state)


def pagerank(
    triples: DataFrame,
    iters: int = PAGERANK_ITERS,
    scale: int = PAGERANK_SCALE,
) -> DataFrame:
    """Integer fixed-point PageRank over the directed distinct name-pair
    graph (damping 0.85, ``iters`` synchronous rounds, dangling mass
    redistributed uniformly).

    All arithmetic is 64-bit integer on a total mass of ``scale`` — rank
    update ``r'(v) = 15*scale DIV (100*N)
    + 85*(inflow(v) + dangling DIV N) DIV 100`` with integer-exact DIV —
    so the result is BIT-EXACT regardless of partitioning or aggregation
    order (float PageRank sums in nondeterministic order; fixed-point
    makes the value-hash oracle well-defined).

    This is the all-nodes-seeded case (seed ≡ 1, k = N) of the kernel
    :func:`personalized_pagerank` runs (:func:`_rank_rounds`): a
    Pregel-style driver loop, per round one broadcast-scalar dangling
    aggregate, one edge⋈rank join + one hash aggregate on the destination
    key.  Edges and the degree frame are computed once and held; both sides
    of the per-round join are co-partitioned on the name key, so each round
    is one shuffle of the rank frame.
    """
    with LoopScope(triples.sparkSession) as ls:
        g = _directed(ls, triples)
        if g is None:
            return triples.sparkSession.createDataFrame(
                [], "name string, pagerank long"
            )
        d, nodes, n, nparts = g
        ranks = _rank_rounds(ls, d, nodes, "1", n, iters, scale, nparts)
        return ls.result(ranks.select("name", F.col("rank").alias("pagerank")))


NT_BASE = "https://kg.example/"


def to_ntriples(triples: DataFrame, base: str = NT_BASE) -> DataFrame:
    """RDF N-Triples serialization of the KG — the interchange format
    downstream triple stores load.

    One line per distinct (subj, pred, obj): ``<s-iri> <p-iri> <o-iri> .``
    with IRIs minted under ``base`` (``entity/`` and ``prop/`` namespaces)
    and names form-encoded (java.net.URLEncoder semantics via Catalyst's
    ``url_encode`` — space→'+', unreserved ``[A-Za-z0-9._*-]`` kept, the
    rest %XX), so every emitted IRI is N-Triples-legal for any name.
    Pure Catalyst projection after one distinct — the export is a
    distributed text write (``df.write.text``), never a driver collect,
    so a 10^11-triple graph serializes at scan speed.
    """

    def iri(ns: str, col) -> "F.Column":
        return F.concat(F.lit(f"<{base}{ns}/"), F.url_encode(col), F.lit(">"))

    return (
        triples.select("subj", "pred", "obj")
        .distinct()
        .select(
            F.concat_ws(
                " ",
                iri("entity", F.col("subj")),
                iri("prop", F.col("pred")),
                iri("entity", F.col("obj")),
                F.lit("."),
            ).alias("ntriple")
        )
    )


def export_ntriples(triples: DataFrame, path: str, base: str = NT_BASE) -> None:
    """Write the graph as N-Triples text files (S8 download-sink analog,
    distributed — one part file per partition, loadable by any RDF store)."""
    to_ntriples(triples, base).write.mode("overwrite").text(path)
