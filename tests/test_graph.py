"""BFS graph-query tests on a hand-built graph with known paths (SURVEY §5.4)
plus an end-to-end run over the synthetic corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgspark import canon, datagen, graph, pipeline


def _graph(spark, nodes, edge_list):
    v = spark.createDataFrame(
        [(i, i, t, f"{i} desc") for i, t in nodes],
        "id string, name string, entity_type string, description string",
    ).withColumn("doc_id", F.lit("doc-x"))
    e = spark.createDataFrame(
        [(f"r{k}", s, d, f"{s}->{d}") for k, (s, d) in enumerate(edge_list)],
        "id string, src string, dst string, description string",
    ).withColumn("doc_id", F.lit("doc-x"))
    return v, e


@pytest.fixture(scope="module")
def toy(spark):
    nodes = [
        ("s1", "Symptom"), ("s2", "Symptom"),
        ("m1", "Mechanism"),
        ("d1", "Disease"), ("d2", "Disease"), ("d3", "Disease"),
        ("x1", "Mechanism"), ("x2", "Mechanism"), ("x3", "Mechanism"),
        ("x4", "Mechanism"), ("x5", "Mechanism"),
        ("iso", "Disease"),
    ]
    edge_list = [
        ("s1", "m1"), ("m1", "d1"), ("d2", "m1"),  # d2 reachable backward
        ("s2", "x1"), ("x1", "x2"), ("x2", "x3"),
        ("x3", "x4"), ("x4", "x5"), ("x5", "d3"),  # d3 at depth 6
    ]
    return _graph(spark, nodes, edge_list)


def test_bfs_both_directions_and_parent_tree(spark, toy):
    v, e = toy
    got = {
        (r["start"], tuple(r["path"]), r["depth"])
        for r in graph.bfs_paths(v, e, max_depth=3).collect()
        if r["start"] == "s1"
    }
    assert got == {
        ("s1", ("s1", "m1", "d1"), 2),
        ("s1", ("s1", "m1", "d2"), 2),  # backward edge d2->m1 walked
    }


def test_bfs_depth_limit(spark, toy):
    v, e = toy
    at6 = [r for r in graph.bfs_paths(v, e, max_depth=6).collect() if r["start"] == "s2"]
    at5 = [r for r in graph.bfs_paths(v, e, max_depth=5).collect() if r["start"] == "s2"]
    assert len(at6) == 1 and at6[0]["depth"] == 6
    assert at5 == []


def test_bfs_max_paths_cut(spark):
    nodes = [("s3", "Symptom")] + [(f"da{i}", "Disease") for i in range(7)]
    edge_list = [("s3", f"da{i}") for i in range(7)]
    v, e = _graph(spark, nodes, edge_list)
    got = graph.bfs_paths(v, e, max_paths=5).collect()
    assert len(got) == 5
    # deterministic cut: (depth, path) order keeps the smallest ids
    assert sorted(r["path"][1] for r in got) == [f"da{i}" for i in range(5)]


def test_neighbors_directions(spark, toy):
    v, e = toy
    ids = spark.createDataFrame([("m1",)], "id string")
    out = {r["neighbor"] for r in graph.neighbors(e, ids, "out").collect()}
    inn = {r["neighbor"] for r in graph.neighbors(e, ids, "in").collect()}
    both = {r["neighbor"] for r in graph.neighbors(e, ids, "both").collect()}
    assert out == {"d1"}
    assert inn == {"s1", "d2"}
    assert both == {"s1", "d1", "d2"}


def test_render_paths(spark, toy):
    v, e = toy
    p = graph.bfs_paths(v, e, max_depth=3)
    rendered = {
        r["rendered"]
        for r in graph.render_paths(p, v, e).collect()
    }
    assert "s1 --- s1->m1 ---> m1 ----- m1 --- m1->d1 ---> d1" in rendered
    # backward step renders with reversed arrow
    assert "s1 --- s1->m1 ---> m1 ----- m1 <--- d2->m1 --- d2" in rendered


def test_graph_search_on_synthetic_corpus(spark):
    web = datagen.web_pages(spark, 120, 42)
    built = pipeline.build(web)
    hits = graph.graph_search(built["entities"], built["relations"])
    rows = hits.collect()
    assert len(rows) > 0  # the corpus plants Symptom/Disease co-occurrences
    # every path starts at a Symptom and ends at a Disease
    v = graph.vertices(built["entities"])
    types = {r["id"]: r["entity_type"] for r in v.collect()}
    for r in rows:
        assert types[r["path"][0]] == "Symptom"
        assert types[r["path"][-1]] == "Disease"
        assert r["depth"] == len(r["path"]) - 1


def test_count_by_type(spark, toy):
    v, _ = toy
    got = {r["entity_type"]: r["n_entities"] for r in graph.count_by_type(v).collect()}
    assert got == {"symptom": 2, "mechanism": 6, "disease": 4}


def test_reliable_checkpoint_flag(spark, toy, tmp_path):
    """VERDICT r2 item 10: with a checkpoint dir configured, the iterative
    loops use reliable checkpoints (durable across executor loss at cluster
    scale) and produce identical results; default stays localCheckpoint."""
    v, e = toy
    baseline = {
        (r["start"], tuple(r["path"]), r["depth"])
        for r in graph.bfs_paths(v, e, max_depth=3).collect()
    }
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None  # default unchanged
    ckpt = str(tmp_path / "ckpt")
    sc.setCheckpointDir(ckpt)
    try:
        durable = {
            (r["start"], tuple(r["path"]), r["depth"])
            for r in graph.bfs_paths(v, e, max_depth=3).collect()
        }
        assert durable == baseline
        # reliable checkpoint data actually landed in the configured dir
        files = [p for p in (tmp_path / "ckpt").rglob("*") if p.is_file()]
        assert files, "expected RDD checkpoint files under the checkpoint dir"
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )
    assert sc.getCheckpointDir() is None


@pytest.mark.slow
def test_bfs_and_render_scale_tier_parity(spark):
    """VERDICT r3 item 7: the iterative BFS join loop gets scale-tier
    evidence like every other operator — Person→Product search over the
    sf0.1 documents-derived graph (~31k entities / ~43k relations), checked
    against an independent driver-side level-synchronous BFS that shares no
    code with the joins implementation, then render_paths over the result.
    """
    import os

    from kgspark import extraction

    from .conftest import SF_BENCH

    docs = spark.read.parquet(os.path.join(SF_BENCH, "documents.parquet"))
    ents = extraction.entities(docs)
    rels = extraction.relations(docs)

    p = graph.graph_search(
        ents, rels, start_type="Person", target_type="Product"
    )
    rows = p.collect()
    got = {(r["start"], "->".join(r["path"]), r["depth"]) for r in rows}

    # -- independent oracle: plain-dict BFS over the collected graph -------
    etype = {
        r["entity_id"]: r["entity_type"]
        for r in ents.select("entity_id", "entity_type").collect()
    }
    adj: dict[str, set[str]] = {}
    for r in rels.select("source_entity_id", "target_entity_id").collect():
        adj.setdefault(r["source_entity_id"], set()).add(r["target_entity_id"])
        adj.setdefault(r["target_entity_id"], set()).add(r["source_entity_id"])
    starts = sorted(e for e, t in etype.items() if t.lower() == "person")[:50]
    frontier = {(s, s): [s] for s in starts}
    visited = set(frontier)
    hits: list[tuple[str, list[str], int]] = []
    for depth in range(1, 7):
        nxt: dict[tuple[str, str], list[str]] = {}
        for (s, node), path in frontier.items():
            for nbr in adj.get(node, ()):
                key = (s, nbr)
                if key in visited:
                    continue
                cand = path + [nbr]
                if key not in nxt or cand < nxt[key]:
                    nxt[key] = cand
        if not nxt:
            break
        for (s, node), path in nxt.items():
            if etype.get(node, "").lower() == "product":
                hits.append((s, path, depth))
        visited |= set(nxt)
        frontier = nxt
    want = set()
    by_start: dict[str, list[tuple[str, list[str], int]]] = {}
    for s, path, depth in hits:
        by_start.setdefault(s, []).append((s, path, depth))
    for s, items in by_start.items():
        for s2, path, depth in sorted(items, key=lambda x: (x[2], x[1]))[:5]:
            want.add((s2, "->".join(path), depth))

    assert len(got) > 0, "scale-tier graph found no Person→Product paths"
    assert got == want

    # -- render over the found paths: one rendered row per path, segment
    # structure consistent with depth (depth steps, depth-1 separators) ----
    rendered = graph.render_paths(
        p, graph.vertices(ents), graph.edges(rels)
    ).collect()
    assert {(r["start"], tuple(r["path"])) for r in rendered} == {
        (r["start"], tuple(r["path"])) for r in rows
    }
    for r in rendered:
        assert r["rendered"].count(" ----- ") == r["depth"] - 1


# ----------------------------------------------------------- k-core (r5)

def _peel_coreness(edges: set[tuple[str, str]]) -> dict[str, int]:
    """Independent ground truth: classic iterative peeling (remove all
    nodes of degree < k, repeat; survivors of the k-round have coreness
    >= k) — shares nothing with the h-index fixed point it checks."""
    nbrs: dict[str, set[str]] = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    core = {n: 0 for n in nbrs}
    alive = dict(nbrs)
    k = 1
    while alive:
        changed = True
        while changed:
            drop = [n for n, ns in alive.items() if len(ns) < k]
            changed = bool(drop)
            for n in drop:
                for m in alive[n]:
                    alive[m].discard(n)
                del alive[n]
        for n in alive:
            core[n] = k
        k += 1
    return core


def _kcore_triples(spark, edges):
    rows = [(a, "p", b, "d") for a, b in sorted(edges)]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, doc_id string"
    )


def test_kcore_clique_plus_chain(spark):
    # 4-clique {A,B,C,D} (coreness 3) with a pendant chain D-E-F (coreness 1)
    clique = {("A", "B"), ("A", "C"), ("A", "D"), ("B", "C"), ("B", "D"), ("C", "D")}
    chain = {("D", "E"), ("E", "F")}
    got = {
        r["name"]: r["coreness"]
        for r in graph.kcore(_kcore_triples(spark, clique | chain)).collect()
    }
    assert got == {"A": 3, "B": 3, "C": 3, "D": 3, "E": 1, "F": 1}


def test_kcore_matches_independent_peeling_and_converges(spark):
    import random

    r = random.Random(7)
    nodes = [f"n{i:02d}" for i in range(40)]
    edges = set()
    while len(edges) < 120:
        a, b = r.sample(nodes, 2)
        edges.add((min(a, b), max(a, b)))
    t = _kcore_triples(spark, edges)
    got = {r_["name"]: r_["coreness"] for r_ in graph.kcore(t).collect()}
    want = _peel_coreness(edges)
    assert got == want
    # fixed point: one extra round changes nothing (the spec's 8 rounds
    # have converged on this graph class)
    more = {r_["name"]: r_["coreness"] for r_ in graph.kcore(t, iters=graph.KCORE_ITERS + 1).collect()}
    assert more == got


def test_kcore_round_budget_honesty_on_long_path(spark):
    """A radius-10 path exceeds the default 8-round budget: the iterate is
    a (correct) upper bound, assert_converged raises, and a bigger budget
    reaches the true all-ones coreness."""
    import pytest

    edges = {(f"p{i:02d}", f"p{i + 1:02d}") for i in range(20)}
    t = _kcore_triples(spark, edges)
    got8 = {r["name"]: r["coreness"] for r in graph.kcore(t).collect()}
    want = _peel_coreness(edges)  # all 1s on a path
    assert all(v == 1 for v in want.values())
    assert all(got8[n] >= want[n] for n in want)  # monotone upper bound
    assert any(got8[n] > want[n] for n in want)   # ...not yet converged
    with pytest.raises(ValueError, match="did not converge"):
        graph.kcore(t, assert_converged=True)
    got12 = {r["name"]: r["coreness"] for r in graph.kcore(t, iters=12, assert_converged=True).collect()}
    assert got12 == want


def test_harmonic_closeness_hand_computed(spark):
    """Path A-B-C plus disconnected pair X-Y: harmonic sums of 1e6 div d,
    reachability never crosses components, and n_sources sampling limits
    output to the K lexicographically-smallest names."""
    edges = {("A", "B"), ("B", "C"), ("X", "Y")}
    t = _kcore_triples(spark, edges)
    got = {
        r["name"]: (r["n_reachable"], r["harmonic_micro"])
        for r in graph.harmonic_closeness(t).collect()
    }
    # A: d(B)=1, d(C)=2 -> 1e6 + 500000; B: two at d=1 -> 2e6; X/Y: one at d=1
    assert got["A"] == (2, 1_500_000)
    assert got["C"] == (2, 1_500_000)
    assert got["B"] == (2, 2_000_000)
    assert got["X"] == (1, 1_000_000) and got["Y"] == (1, 1_000_000)
    sampled = {
        r["name"] for r in graph.harmonic_closeness(t, n_sources=2).collect()
    }
    assert sampled == {"A", "B"}


def test_lpa_communities_splits_barbell(spark):
    """Two triangles joined by one bridge edge: LPA's mode-label update
    resolves them as TWO communities (components would merge them into
    one), each labeled by its earliest-converging member, sizes 3+3."""
    tri_a = {("a1", "a2"), ("a1", "a3"), ("a2", "a3")}
    tri_b = {("b1", "b2"), ("b1", "b3"), ("b2", "b3")}
    bridge = {("a3", "b1")}
    got = {
        r["name"]: (r["community_id"], r["n_members"])
        for r in graph.lpa_communities(
            _kcore_triples(spark, tri_a | tri_b | bridge)
        ).collect()
    }
    # Hand-unrolled 5 synchronous rounds (see kgspark.graph.lpa_communities):
    # triangle A settles on label a1 by round 2; the bridge pulls b1's
    # community to label a3 (b-side votes dominate its single a-side edge).
    assert got == {
        "a1": ("a1", 3),
        "a2": ("a1", 3),
        "a3": ("a1", 3),
        "b1": ("a3", 3),
        "b2": ("a3", 3),
        "b3": ("a3", 3),
    }


def test_lpa_communities_isolated_pair_oscillation_is_pinned(spark):
    """A single edge {X, Y} oscillates under synchronous LPA (each adopts
    the other's previous label every round); the FIXED odd round count
    pins the result deterministically: after 5 swaps each carries the
    other's name."""
    got = {
        r["name"]: r["community_id"]
        for r in graph.lpa_communities(
            _kcore_triples(spark, {("X", "Y")})
        ).collect()
    }
    assert got == {"X": "Y", "Y": "X"}


def test_personalized_pagerank_mass_stays_near_seeds(spark):
    """Seeds are the lexicographically smallest names.  On
    A -> B -> C with isolated edge X -> Y and n_seeds=1 (seed A):
    every node reachable from A gets positive rank, X gets 0 exactly
    (integer arithmetic — no float dust), Y gets 0 (its only inflow is
    X's 0), and rank decays along the path A > B > C."""
    edges = {("A", "B"), ("B", "C"), ("X", "Y")}
    got = {
        r["name"]: (r["is_seed"], r["ppr"])
        for r in graph.personalized_pagerank(
            _kcore_triples(spark, edges), n_seeds=1
        ).collect()
    }
    assert got["A"][0] == 1
    assert sum(s for s, _ in got.values()) == 1
    assert got["X"][1] == 0 and got["Y"][1] == 0
    assert got["A"][1] > got["B"][1] > got["C"][1] > 0


def test_personalized_pagerank_symmetric_seeds_tie(spark):
    """Two seeds with mirror-image topology must get bit-identical ranks:
    A -> M, B -> M with seeds {A, B} — symmetry survives the integer
    recurrence because both seeds see the same inflow/dangling terms."""
    got = {
        r["name"]: r["ppr"]
        for r in graph.personalized_pagerank(
            _kcore_triples(spark, {("A", "M"), ("B", "M")}), n_seeds=2
        ).collect()
    }
    assert got["A"] == got["B"] > 0
    assert got["M"] > 0


def _wsp_triples(spark, edges):
    """edges: {(subj, obj): n_supporting_docs} — each directed pair is
    asserted in that many distinct docs, so support (and the micro edge
    cost 1e6 DIV support) is controlled per edge."""
    rows = [
        (a, "p", b, f"d{i}")
        for (a, b), n in sorted(edges.items())
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, doc_id string"
    )


def _wsp_brute(edges, seeds, hops, micro=1_000_000):
    w = {(a, b): micro // n for (a, b), n in edges.items()}
    dist = {s: 0 for s in seeds}
    for _ in range(hops):
        nxt = dict(dist)
        for (a, b), c in w.items():
            if a in dist and dist[a] + c < nxt.get(b, float("inf")):
                nxt[b] = dist[a] + c
        dist = nxt
    return dist


def test_weighted_paths_evidence_beats_thin_direct_edge(spark):
    """A->C asserted once (cost 1e6) vs A->B->C asserted 4x each
    (250k + 250k): the well-attested 2-hop route must win."""
    edges = {("A", "C"): 1, ("A", "B"): 4, ("B", "C"): 4}
    got = {
        r["name"]: r["dist_micro"]
        for r in graph.weighted_shortest_paths(
            _wsp_triples(spark, edges), n_seeds=1
        ).collect()
    }
    assert got["A"] == 0
    assert got["B"] == 250_000
    assert got["C"] == 500_000


def test_weighted_paths_hop_budget_truncates(spark):
    """Chain A->B->C->D->E->F with hops=4: E is reached (4 edges),
    F is absent — the budget bounds path length, not cost."""
    chain = {(a, b): 1 for a, b in zip("ABCDE", "BCDEF")}
    got = {
        r["name"]: r["dist_micro"]
        for r in graph.weighted_shortest_paths(
            _wsp_triples(spark, chain), n_seeds=1
        ).collect()
    }
    assert got["E"] == 4_000_000
    assert "F" not in got


def test_weighted_paths_matches_bruteforce_random_graph(spark):
    """Fixed-seed random multigraph vs an independent driver-side bounded
    Bellman-Ford — every (name, dist) must agree exactly, seeds = the 3
    lexicographically smallest node names (the operator's sampling rule)."""
    import random

    rng = random.Random(2026)
    names = [f"n{i:02d}" for i in range(14)]
    edges = {}
    for _ in range(40):
        a, b = rng.sample(names, 2)
        edges[(a, b)] = rng.randint(1, 5)
    nodes = sorted({x for e in edges for x in e})
    expect = _wsp_brute(edges, set(nodes[:3]), hops=4)
    got = {
        r["name"]: r["dist_micro"]
        for r in graph.weighted_shortest_paths(
            _wsp_triples(spark, edges)
        ).collect()
    }
    assert got == expect


def test_stress_centrality_matches_python_reference(spark):
    """Integer Brandes two-sweep vs an independent per-source Python BFS
    reference (sigma forward, psi backward over the BFS DAG) on a seeded
    120-node random graph — plus hand values on a chain and a star."""
    import random
    from collections import deque

    from kgspark import graph as g

    def py_stress(edges, sources, nodes, max_depth):
        adj = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        stress = {n: 0 for n in nodes}
        for s in sources:
            dist = {s: 0}
            sigma = {s: 1}
            order = [s]
            dq = deque([s])
            while dq:
                v = dq.popleft()
                if dist[v] == max_depth:
                    continue  # nodes deeper than max_depth are not visited
                for w in sorted(adj.get(v, ())):
                    if w not in dist:
                        dist[w] = dist[v] + 1
                        sigma[w] = 0
                        dq.append(w)
                        order.append(w)
                    if dist[w] == dist[v] + 1:
                        sigma[w] += sigma[v]
            psi = {v: 0 for v in dist}
            for v in reversed(order):
                for w in adj.get(v, ()):
                    if w in dist and dist[w] == dist[v] + 1:
                        psi[v] += 1 + psi[w]
            for v in dist:
                if v != s:
                    stress[v] += sigma[v] * psi[v]
        return stress

    r = random.Random(9)
    nodes = [f"n{i:03d}" for i in range(120)]
    edges = {
        tuple(sorted(r.sample(nodes, 2)))
        for _ in range(300)
    }
    triples = spark.createDataFrame(
        [(a, "r", b, "d") for a, b in sorted(edges)],
        ["subj", "pred", "obj", "doc_id"],
    )
    got = {
        row["name"]: row["stress"]
        for row in g.stress_centrality(triples, n_sources=8, max_depth=8).collect()
    }
    present = sorted({a for a, _ in edges} | {b for _, b in edges})
    want = py_stress(edges, sorted(present)[:8], present, max_depth=8)
    assert got == want
    # where the depth cap binds: a 6-chain seen from c0 stops at c2
    chain = [(f"c{i}", f"c{i + 1}") for i in range(5)]
    got = {
        row["name"]: row["stress"]
        for row in g.stress_centrality(
            spark.createDataFrame(
                [(a, "r", b, "d") for a, b in chain],
                ["subj", "pred", "obj", "doc_id"],
            ),
            n_sources=1,
            max_depth=2,
        ).collect()
    }
    names = [f"c{i}" for i in range(6)]
    assert got == py_stress(chain, ["c0"], names, max_depth=2)
    assert got["c1"] == 1
