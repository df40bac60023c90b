"""Seeded benchmark inputs and the pure-Python answers the Spark outputs are
checked against.

Nothing here imports Spark: the inputs are written with pyarrow, and the
references (union-find components, integer PageRank, typed BFS) restate the
documented semantics of ``kgspark.graph`` independently.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import random
from collections import defaultdict

import pyarrow as pa
import pyarrow.parquet as pq

PREDICATES = ["indicates", "causes", "treats", "links", "co_occurs"]
TYPED_SHARE = 0.02  # share of names typed Symptom, and again Disease


def zipf_graph(seed: int, n_names: int, n_edges: int, blocks: int):
    """Hub-heavy triple graph: ``blocks`` disjoint name blocks; each edge picks
    its subject by Zipf rank inside a random block (so every block has a few
    hubs of degree ~n_edges / (blocks * H(n))) and its object uniformly in the
    same block.  Rank order is name order, so each block's hub is its smallest
    name and the hash-min label rounds of ``components`` do not swing with the
    seed.  About TYPED_SHARE of names are Symptom and as many are Disease,
    the start and target types of ``graph.graph_search``.

    Returns (triples, entities, relations) as lists of row tuples.
    """
    r = random.Random(seed)
    per = n_names // blocks
    names = [f"n{i:06d}" for i in range(per * blocks)]
    ranked = [names[b * per:(b + 1) * per] for b in range(blocks)]
    cum = list(itertools.accumulate(1.0 / (k + 1) for k in range(per)))
    edges: set[tuple[str, str, str]] = set()
    while len(edges) < n_edges:
        block = ranked[r.randrange(blocks)]
        subj = r.choices(block, cum_weights=cum)[0]
        obj = block[r.randrange(per)]
        if subj != obj:
            edges.add((subj, r.choice(PREDICATES), obj))
    triples = sorted(edges)
    types = {}
    for n in names:
        u = r.random()
        types[n] = (
            "Symptom" if u < TYPED_SHARE
            else "Disease" if u < 2 * TYPED_SHARE
            else "Concept"
        )
    entities = [
        (f"ent-{n}", n, types[n], f"{n} is a {types[n]}", "doc-zipf") for n in names
    ]
    relations = [
        (f"rel-{k:07d}", f"ent-{s}", f"ent-{o}", f"{s} {p} {o}", "doc-zipf")
        for k, (s, p, o) in enumerate(triples)
    ]
    return [t + ("doc-zipf",) for t in triples], entities, relations


TRIPLE_COLS = ["subj", "pred", "obj", "doc_id"]
ENTITY_COLS = [
    "entity_id", "entity_name", "entity_type", "entity_description", "doc_id",
]
RELATION_COLS = [
    "relation_id", "source_entity_id", "target_entity_id",
    "relationship_description", "doc_id",
]


def write_parquet(rows: list[tuple], cols: list[str], path: str, files: int) -> None:
    """Write string-typed rows as ``files`` parquet files under ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // files)
    for i in range(files):
        part = rows[i * step:(i + 1) * step]
        table = pa.table(
            {c: pa.array([row[j] for row in part], pa.string()) for j, c in enumerate(cols)}
        )
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


# ---------------------------------------------------------------- references


def components_ref(triples) -> dict[str, tuple[str, int]]:
    """name -> (min member name, component size) over subj != obj pairs."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, _p, o, _d in triples:
        if s == o:
            continue
        parent.setdefault(s, s)
        parent.setdefault(o, o)
        a, b = find(s), find(o)
        if a != b:
            parent[max(a, b)] = min(a, b)
    roots = {n: find(n) for n in parent}
    sizes: dict[str, int] = defaultdict(int)
    for root in roots.values():
        sizes[root] += 1
    # union by min keeps each root the smallest member of its component
    return {n: (root, sizes[root]) for n, root in roots.items()}


def pagerank_ref(triples, iters: int, scale: int) -> dict[str, int]:
    """Integer fixed-point PageRank, the arithmetic ``graph.pagerank``
    documents: r'(v) = 15*scale DIV (100*N) + 85*(inflow(v) + dangling DIV N) DIV 100."""
    pairs = {(s, o) for s, _p, o, _d in triples if s != o}
    out_deg: dict[str, int] = defaultdict(int)
    for s, _o in pairs:
        out_deg[s] += 1
    nodes = sorted({s for s, _ in pairs} | {o for _, o in pairs})
    n = len(nodes)
    base = (15 * scale) // (100 * n)
    rank = {v: scale // n for v in nodes}
    for _ in range(iters):
        dang = sum(rank[v] for v in nodes if out_deg[v] == 0)
        inflow: dict[str, int] = defaultdict(int)
        for s, o in pairs:
            inflow[o] += rank[s] // out_deg[s]
        rank = {v: base + 85 * (inflow[v] + dang // n) // 100 for v in nodes}
    return rank


def bfs_ref(entities, relations, start_type, target_type, max_depth, max_paths, max_starts):
    """{(start, path tuple, depth)} with ``graph.bfs_paths`` semantics: typed
    starts ordered by id, both edge directions, first-visit per (start, node)
    keeping the smallest path, targets ranked by (depth, path)."""
    adj: dict[str, set[str]] = defaultdict(set)
    for _rid, s, o, _desc, _doc in relations:
        adj[s].add(o)
        adj[o].add(s)
    etype = {e[0]: e[2].lower() for e in entities}
    starts = sorted(e[0] for e in entities if e[2].lower() == start_type.lower())
    out = set()
    for start in starts[:max_starts]:
        frontier = {start: (start,)}
        visited = {start}
        hits = []
        for depth in range(1, max_depth + 1):
            fresh: dict[str, tuple] = {}
            for node, path in frontier.items():
                for nb in adj[node]:
                    if nb in visited:
                        continue
                    cand = path + (nb,)
                    if nb not in fresh or cand < fresh[nb]:
                        fresh[nb] = cand
            if not fresh:
                break
            hits += [
                (depth, p) for nb, p in fresh.items()
                if etype[nb] == target_type.lower()
            ]
            visited |= fresh.keys()
            frontier = fresh
        for depth, p in sorted(hits)[:max_paths]:
            out.add((start, p, depth))
    return out


def sample_indices(seed: int, n: int, k: int) -> list[int]:
    """A seeded sample of page indices (stable across Python versions)."""
    key = hashlib.sha256(f"sample:{seed}".encode()).digest()
    return sorted(random.Random(int.from_bytes(key[:8], "big")).sample(range(n), k))
