"""VALUES-based DuckDB oracles for the web_pages pipeline queries.

The web corpus is synthesized (not a driver parquet table), so its oracles
inline expected rows as SQL ``VALUES``.  Expected rows come from two
independent driver-side implementations:

  * the construction fold — :mod:`kgspark.refimpl` (imperative per-doc
    HashMap fold, shares only the per-row kernels with Spark);
  * canonicalization — a union-find implemented HERE, mirroring the LSH
    banding arithmetic numerically (same md5-derived 60-bit hashes — Python
    hashlib vs Spark ``conv(substr(md5..))``) but sharing zero code with the
    distributed joins/components loop it checks.

The corpus size is FIXED (WEB_N) regardless of sf_dir: the comparison
validates distributed-fold semantics, not scan scale (bench covers scale).
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

from . import datagen, html_extract, oracles, refimpl, spec

WEB_N = 160
WEB_SEED = 42


def _q(s: str) -> str:
    return "'" + str(s).replace("'", "''") + "'"


def _lit(c, t: str) -> str:
    if c is None:
        return "NULL"
    if t == "s":
        return _q(c)
    if t == "b":
        return "TRUE" if c else "FALSE"
    return str(int(c))


def _values(rows: list[tuple], cols: list[str], types: list[str]) -> str:
    # None-safe sort (rows may carry NULL cells after a non-unique prefix);
    # ordering only shapes the SQL literal — the compare is order-insensitive.
    def _key(r: tuple):
        return tuple((c is None, "" if c is None else str(c)) for c in r)

    body = ",\n".join(
        "(" + ", ".join(_lit(c, t) for c, t in zip(r, types)) + ")"
        for r in sorted(rows, key=_key)
    )
    return f"SELECT * FROM (VALUES\n{body}\n) AS t({', '.join(cols)})"


def _ontology_check_sql(triple_rows: list[tuple], ent_rows: list[tuple]) -> str:
    """Domain/range validation rendered as pure SQL over golden-triple and
    golden-entity VALUES — same join/CASE logic the Spark side compiles, so
    the compare exercises the broadcast-join validation independently of
    the Catalyst plan.  Ontology rows come from kgspark.spec (shared config,
    not shared logic — same pattern as the alias dictionary).  The type dim
    is unique per name (min type — mirrors validate()'s first-wins merge,
    so a multi-typed surface form never fans a triple out)."""
    by_name: dict[str, str] = {}
    for e in ent_rows:
        if e[1] not in by_name or e[2] < by_name[e[1]]:
            by_name[e[1]] = e[2]
    type_rows = sorted(by_name.items())  # (name, min type)
    tri = _values(triple_rows, ["subj", "pred", "obj", "doc_id"], ["s"] * 4)
    ty = _values(type_rows, ["entity_name", "entity_type"], ["s", "s"])
    dom = _values(
        spec.web_ontology_domain_rows(), ["pred", "subj_type"], ["s", "s"]
    )
    rng = _values(
        spec.web_ontology_range_rows(), ["pred", "obj_type"], ["s", "s"]
    )
    known = ", ".join(_q(p) for p in sorted(spec.WEB_ONTOLOGY))
    return f"""
SELECT t.subj, t.pred, t.obj, t.doc_id,
       ts.entity_type AS subj_type, tob.entity_type AS obj_type,
       CASE WHEN t.pred NOT IN ({known}) THEN 'unknown_predicate'
            WHEN d.pred IS NOT NULL AND r.pred IS NOT NULL THEN 'ok'
            WHEN d.pred IS NULL AND r.pred IS NULL THEN 'domain+range'
            WHEN d.pred IS NULL THEN 'domain'
            ELSE 'range' END AS status
FROM ({tri}) t
JOIN ({ty}) ts ON ts.entity_name = t.subj
JOIN ({ty}) tob ON tob.entity_name = t.obj
LEFT JOIN ({dom}) d ON d.pred = t.pred AND d.subj_type = ts.entity_type
LEFT JOIN ({rng}) r ON r.pred = t.pred AND r.obj_type = tob.entity_type
"""


# ---------------------------------------------- python KG-QA oracle folds
# Independent imperative restatements of the ontology/fusion/link-prediction
# operators (dict/set folds, zero Spark-shaped code) rendered as VALUES.

def _functional_violation_rows(triple_rows: list[tuple]) -> list[tuple]:
    from collections import defaultdict

    objs_by_key: dict[tuple[str, str], set[str]] = defaultdict(set)
    for s, p, o, _d in triple_rows:
        if p in spec.FUNCTIONAL_PREDICATES:
            objs_by_key[(p, s)].add(o)
    return [
        (p, s, len(objs), ",".join(sorted(objs)))
        for (p, s), objs in objs_by_key.items()
        if len(objs) > 1
    ]


def _triple_support_rows(ct_rows: list[tuple]) -> list[tuple]:
    from collections import defaultdict

    docs: dict[tuple[str, str, str], set[str]] = defaultdict(set)
    for s, p, o, d in ct_rows:
        docs[(s, p, o)].add(d)
    return [
        (s, p, o, len(ds), min(ds)) for (s, p, o), ds in docs.items()
    ]


def _current_fact_rows(
    triple_rows: list[tuple], ts_by_doc: dict[str, object]
) -> list[tuple]:
    best: dict[tuple[str, str], tuple] = {}
    for s, p, o, d in triple_rows:
        if p not in spec.FUNCTIONAL_PREDICATES:
            continue
        cand = (ts_by_doc[d], d, o)  # same (warc_ts, doc_id, obj) argmax order
        if best.get((s, p), ()) < cand:
            best[(s, p)] = cand
    return [
        (s, p, o, ts.strftime("%Y-%m-%d %H:%M:%S"), d)
        for (s, p), (ts, d, o) in best.items()
    ]


def _temporal_triple_rows(
    ct_rows: list[tuple], ts_by_doc: dict[str, object]
) -> list[tuple]:
    agg: dict[tuple[str, str, str], list] = {}
    for s, p, o, d in ct_rows:
        ts = ts_by_doc[d]
        a = agg.setdefault((s, p, o), [ts, ts, set()])
        a[0] = min(a[0], ts)
        a[1] = max(a[1], ts)
        a[2].add(d)
    return [
        (
            s, p, o,
            fs.strftime("%Y-%m-%d %H:%M:%S"),
            ls.strftime("%Y-%m-%d %H:%M:%S"),
            len(ds),
        )
        for (s, p, o), (fs, ls, ds) in agg.items()
    ]


def _negative_sample_rows(ct_rows: list[tuple]) -> list[tuple]:
    names = sorted(
        {s for s, _p, _o, _d in ct_rows} | {o for _s, _p, o, _d in ct_rows}
    )
    m = len(names)
    true_triples = sorted({(s, p, o) for s, p, o, _d in ct_rows})
    true_set = set(true_triples)
    out = []
    for s, p, o in true_triples:
        h = hashlib.sha256(
            f"{s}:{p}:{o}:{spec.NEG_SAMPLE_SALT}".encode()
        ).hexdigest()
        neg = names[int(h[:15], 16) % m]
        if neg != o and (s, p, neg) not in true_set:
            out.append((s, p, o, neg))
    return out


def _cooccurrence_rows(ent_rows: list[tuple]) -> list[tuple]:
    from collections import defaultdict
    from itertools import combinations

    docs_by_name: dict[str, set[str]] = defaultdict(set)
    names_by_doc: dict[str, set[str]] = defaultdict(set)
    for e in ent_rows:
        name, doc = e[1], e[3]
        docs_by_name[name].add(doc)
        names_by_doc[doc].add(name)
    n_total = len(names_by_doc)
    pair_docs: dict[tuple[str, str], int] = defaultdict(int)
    for names in names_by_doc.values():
        for a, b in combinations(sorted(names), 2):
            pair_docs[(a, b)] += 1
    out = []
    for (a, b), n_ab in pair_docs.items():
        if n_ab < 2:
            continue
        n_a, n_b = len(docs_by_name[a]), len(docs_by_name[b])
        lift = ((n_ab * 10**6) // n_a) * n_total // n_b
        out.append((a, b, n_ab, n_a, n_b, lift))
    return out


def _closeness_rows(ct_rows: list[tuple]) -> list[tuple]:
    from collections import defaultdict, deque

    nbrs: dict[str, set[str]] = defaultdict(set)
    for s, _p, o, _d in ct_rows:
        if s != o:
            nbrs[s].add(o)
            nbrs[o].add(s)
    out = []
    for src in nbrs:
        dist = {src: 0}
        dq = deque([src])
        while dq:
            u = dq.popleft()
            for v in nbrs[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    dq.append(v)
        others = [d for n, d in dist.items() if n != src]
        out.append(
            (src, len(others), sum(10**6 // d for d in others))
        )
    return out


def _link_prediction_rows(ct_rows: list[tuple], k: int = 50) -> list[tuple]:
    from collections import defaultdict
    from itertools import combinations

    edges = sorted({
        (min(s, o), max(s, o)) for (s, _p, o, _d) in ct_rows if s != o
    })
    nbrs: dict[str, set[str]] = defaultdict(set)
    for a, b in edges:
        nbrs[a].add(b)
        nbrs[b].add(a)
    deg = {n: len(v) for n, v in nbrs.items()}
    scores: dict[tuple[str, str], list[int]] = defaultdict(lambda: [0, 0])
    for z, ns in nbrs.items():
        for a, b in combinations(sorted(ns), 2):
            c = scores[(a, b)]
            c[0] += 1
            c[1] += 10**6 // deg[z]
    eset = set(edges)
    out = [
        (a, b, n_common, ra)
        for (a, b), (n_common, ra) in scores.items()
        if (a, b) not in eset
    ]
    out.sort(key=lambda r: (-r[3], -r[2], r[0], r[1]))
    return out[:k]


# ------------------------------------------------------- python canon oracle

def _norm(name: str) -> str:
    import re

    return re.sub(" +", " ", re.sub(r"[^a-z0-9 ]", "", name.lower())).strip()


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _shingles(nkey: str, n: int = 3) -> set[str]:
    if len(nkey) <= n:
        return {nkey}
    return {nkey[i : i + n] for i in range(len(nkey) - n + 1)}


def _band_keys(nkey: str, k: int = 8, band_rows: int = 2) -> list[str]:
    from .textops import MINHASH_P, minhash_perm_coeffs

    hs = [_h60(s) % MINHASH_P for s in _shingles(nkey)]
    sig = []
    for j in range(k):
        a, b = minhash_perm_coeffs(j)
        sig.append(min((a * h + b) % MINHASH_P for h in hs))
    return [
        ":".join([str(b)] + [str(sig[b * band_rows + r]) for r in range(band_rows)])
        for b in range(k // band_rows)
    ]


def canon_map_py(names: list[str]) -> dict[str, tuple[str, str]]:
    """name -> (canonical_name, canonical_id) via union-find (independent of
    kgspark.canon's iterative-join implementation)."""
    names = sorted(set(names))
    nkey = {n: _norm(n) for n in names}
    names = [n for n in names if nkey[n]]

    parent = {n: n for n in names}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    # a. exact normalized key
    by_key: dict[str, list[str]] = {}
    for n in names:
        by_key.setdefault(nkey[n], []).append(n)
    for grp in by_key.values():
        for other in grp[1:]:
            union(grp[0], other)

    # b. LSH candidates (same banding arithmetic as the Spark side) + Jaccard
    buckets: dict[str, list[str]] = {}
    for n in names:
        for bk in _band_keys(nkey[n]):
            buckets.setdefault(bk, []).append(n)
    for grp in buckets.values():
        for i, a in enumerate(grp):
            for b in grp[i + 1 :]:
                if a == b:
                    continue
                sa, sb = _shingles(nkey[a]), _shingles(nkey[b])
                if len(sa & sb) / len(sa | sb) >= 0.5:
                    union(a, b)

    # c. alias edges: name whose nkey is an alias joins its canonical name
    #    (only when that canonical display name is itself in the corpus —
    #    mirroring the inner join in canon.alias_edges; otherwise the alias
    #    still votes for the component's canonical display name below).
    alias = dict(spec.web_alias_rows())
    present = set(names)
    for n in names:
        cn = alias.get(nkey[n])
        if cn and cn != n and cn in present:
            union(n, cn)

    comps: dict[str, list[str]] = {}
    for n in names:
        comps.setdefault(find(n), []).append(n)
    out: dict[str, tuple[str, str]] = {}
    for members in comps.values():
        alias_canons = sorted(
            {alias[nkey[m]] for m in members if nkey[m] in alias}
        )
        canon_name = alias_canons[0] if alias_canons else min(members)
        cid = spec.CANON_PREFIX + hashlib.sha256(canon_name.encode()).hexdigest()
        for m in members:
            out[m] = (canon_name, cid)
    return out


# ------------------------------------------------------------- oracle build

@lru_cache(maxsize=1)
def _golden() -> refimpl.KGResult:
    return refimpl.run(datagen.web_pages_rows(WEB_N, WEB_SEED))


@lru_cache(maxsize=1)
def build() -> dict[str, str]:
    g = _golden()

    docs_rows = [
        (d["doc_id"], d["url"], d["lang"], d["content_length"])
        for d in g.docs.values()
    ]
    chunks_rows = [
        (c["chunk_id"], c["doc_id"], c["chunk_order_index"], c["n_tokens"])
        for c in g.chunks
    ]
    ent_rows = [
        (
            e["entity_id"], e["entity_name"], e["entity_type"], e["doc_id"],
            e["chunk_id"], e["chunk_order_index"], e["first_offset"],
        )
        for e in g.entities.values()
    ]
    rel_rows = [
        (
            r["relation_id"], r["doc_id"], r["source_entity_id"],
            r["target_entity_id"], r["subj"], r["obj"],
            r["relationship_description"],
        )
        for r in g.relations.values()
    ]
    triple_rows = sorted(g.triples)

    cmap = canon_map_py([e["entity_name"] for e in g.entities.values()])
    cmap_rows = [(n, cn, cid) for n, (cn, cid) in cmap.items()]
    ct_rows = sorted(
        {
            (cmap[s][0] if s in cmap else s, p, cmap[o][0] if o in cmap else o, d)
            for (s, p, o, d) in g.triples
        }
    )
    type_counts: dict[str, int] = {}
    for e in g.entities.values():
        t = e["entity_type"].lower()
        type_counts[t] = type_counts.get(t, 0) + 1

    # Connected components of the canonical name graph: independent
    # union-find (path compression, min-name representative) over the same
    # distinct undirected pair set the Spark hash-min propagation uses.
    comp_parent: dict[str, str] = {}

    def _find(x: str) -> str:
        while comp_parent[x] != x:
            comp_parent[x] = comp_parent[comp_parent[x]]
            x = comp_parent[x]
        return x

    comp_pairs = {(s, o) for (s, _p, o, _d) in ct_rows if s != o}
    for a, b in sorted(comp_pairs):
        for v in (a, b):
            comp_parent.setdefault(v, v)
        ra, rb = _find(a), _find(b)
        if ra != rb:
            # min-name representative, the hash-min fixpoint
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            comp_parent[hi] = lo
    comp_members: dict[str, list[str]] = {}
    for v in comp_parent:
        comp_members.setdefault(_find(v), []).append(v)
    comp_rows = sorted(
        (name, root, len(members))
        for root, members in comp_members.items()
        for name in members
    )

    # G7 neighbors (both directions) of every Symptom-typed entity.
    symptom_ids = {
        e["entity_id"] for e in g.entities.values() if e["entity_type"] == "Symptom"
    }
    nbr_rows = sorted(
        {
            (eid, nbr)
            for r in g.relations.values()
            for eid, nbr in (
                (r["source_entity_id"], r["target_entity_id"]),
                (r["target_entity_id"], r["source_entity_id"]),
            )
            if eid in symptom_ids
        }
    )

    # G4 BFS paths: independent level-synchronous BFS over the golden graph,
    # mirroring kgspark.graph.bfs_paths' documented determinism rules (starts
    # ordered by entity_id, first-visit min-path ties, (depth, path) top-k) —
    # shares no code with the iterative-join implementation it checks.
    adj: dict[str, set[str]] = {}
    for r in g.relations.values():
        adj.setdefault(r["source_entity_id"], set()).add(r["target_entity_id"])
        adj.setdefault(r["target_entity_id"], set()).add(r["source_entity_id"])
    etype = {e["entity_id"]: e["entity_type"] for e in g.entities.values()}
    starts = sorted(
        eid for eid, t in etype.items() if t.lower() == "symptom"
    )[:50]
    max_depth, max_paths = 6, 5
    hits: list[tuple[str, list[str], int]] = []
    frontier: dict[tuple[str, str], list[str]] = {
        (s, s): [s] for s in starts
    }
    visited: set[tuple[str, str]] = set(frontier)
    for depth in range(1, max_depth + 1):
        nxt: dict[tuple[str, str], list[str]] = {}
        for (s, node), path in frontier.items():
            for nbr in adj.get(node, ()):  # expand both directions
                key = (s, nbr)
                if key in visited:
                    continue
                cand = path + [nbr]
                if key not in nxt or cand < nxt[key]:
                    nxt[key] = cand
        if not nxt:
            break
        for (s, node), path in nxt.items():
            if etype.get(node, "").lower() == "disease":
                hits.append((s, path, depth))
        visited |= set(nxt)
        frontier = nxt
    by_start: dict[str, list[tuple[str, list[str], int]]] = {}
    for s, path, depth in hits:
        by_start.setdefault(s, []).append((s, path, depth))
    bfs_rows = []
    for s, items in by_start.items():
        for s2, path, depth in sorted(items, key=lambda x: (x[2], x[1]))[:max_paths]:
            bfs_rows.append((s2, "->".join(path), depth))

    # G5/J4 path rendering: per (a,b) step pick the edge by max(is_forward,
    # description) over both directions (forward preferred), render
    # "A --- desc ---> B" segments joined with ' ----- '.
    fwd_desc: dict[tuple[str, str], list[str]] = {}
    for r in g.relations.values():
        fwd_desc.setdefault(
            (r["source_entity_id"], r["target_entity_id"]), []
        ).append(r["relationship_description"])
    ename = {e["entity_id"]: e["entity_name"] for e in g.entities.values()}

    def _pick(a: str, b: str) -> tuple[bool, str] | None:
        cands = [(True, d) for d in fwd_desc.get((a, b), [])]
        cands += [(False, d) for d in fwd_desc.get((b, a), [])]
        return max(cands) if cands else None

    render_rows = []
    for s, path_str, depth in bfs_rows:
        path = path_str.split("->")
        segs = []
        ok = True
        for a, b in zip(path, path[1:]):
            picked = _pick(a, b)
            if picked is None:
                ok = False  # step without an edge drops from the render join
                break
            is_fwd, desc = picked
            arrows = (" --- ", " ---> ") if is_fwd else (" <--- ", " --- ")
            segs.append(f"{ename[a]}{arrows[0]}{desc}{arrows[1]}{ename[b]}")
        if ok and segs:
            render_rows.append((s, " ----- ".join(segs), depth))

    # P12 document summaries: content_summary recomputed from the corpus rows
    # (first-wins dedup in the same (url, warc_ts) order as refimpl.run).
    chunk_counts: dict[str, int] = {}
    for c in g.chunks:
        chunk_counts[c["doc_id"]] = chunk_counts.get(c["doc_id"], 0) + 1
    summaries: dict[str, str] = {}
    for url, warc_ts, html_b, _txt, _lang in sorted(
        datagen.web_pages_rows(WEB_N, WEB_SEED), key=lambda r: (str(r[0]), str(r[1]))
    ):
        content = html_extract.extract_text_py(html_b).replace("\r", "").strip()
        if not content:
            continue
        doc_id = spec.DOC_PREFIX + hashlib.sha256(content.encode()).hexdigest()
        if doc_id not in summaries:
            summaries[doc_id] = (
                content if len(content) <= 200 else content[:200] + "…"
            )
    summary_rows = [
        (d, summaries[d], "PROCESSED", r["content_length"], chunk_counts.get(d, 0))
        for d, r in g.docs.items()
    ]

    # Per-domain crawl rollup (kgspark.pipeline.domain_stats): independent
    # direct aggregation over the raw generated rows — no shared code with
    # the Spark groupBy beyond corpus generation itself.
    import re as _re

    dom_acc: dict[str, list] = {}
    for url, _ts, _html, text, lang in datagen.web_pages_rows(WEB_N, WEB_SEED):
        d = _re.match(r"^https?://([^/]+)", url).group(1)
        rec = dom_acc.setdefault(d, [0, 0, set(), 0, set()])
        rec[0] += 1
        if len(text) > 0:
            rec[1] += 1
            rec[2].add(text)
        rec[3] += len(text)
        rec[4].add(lang)
    domain_rows = [
        (d, r[0], r[1], len(r[2]), r[3], len(r[4])) for d, r in dom_acc.items()
    ]

    # URL canonicalization dedup (kgspark.pipeline.url_dedup): independent
    # restatement with urllib.parse (vs Spark's parse_url/regex chain) over
    # the messy crawl-variant fixture.
    from urllib.parse import urlsplit

    def _py_norm_url(u: str) -> str:
        sp = urlsplit(u)
        scheme = sp.scheme.lower()
        host = (sp.hostname or "").lower()
        if host.startswith("www."):
            host = host[4:]
        port = ""
        if sp.port is not None and not (
            (scheme == "http" and sp.port == 80)
            or (scheme == "https" and sp.port == 443)
        ):
            port = f":{sp.port}"
        path = sp.path
        if path == "/":
            path = ""
        elif path.endswith("/"):
            path = path[:-1]
        params = [
            p
            for p in sp.query.split("&")
            if p and not _re.match(r"^(utm_[^=]*|gclid|fbclid|ref)=", p)
        ]
        q = "?" + "&".join(sorted(params)) if params else ""
        return f"{scheme}://{host}{port}{path}{q}"

    url_acc: dict[str, list] = {}
    for url, text in datagen.crawl_url_variants_rows():
        rec = url_acc.setdefault(_py_norm_url(url), [0, set(), set()])
        rec[0] += 1
        rec[1].add(url)
        rec[2].add(text)
    url_rows = [
        (k, r[0], len(r[1]), min(r[1]), len(r[2])) for k, r in url_acc.items()
    ]

    # Host link graph (kgspark.pipeline.host_link_graph): independent
    # restatement with re.findall + urllib.parse (vs Spark's
    # regexp_extract_all/parse_url chain) over the seeded link fixture.
    def _py_host(u: str) -> str:
        h = (urlsplit(u).hostname or "").lower()
        return h[4:] if h.startswith("www.") else h

    link_acc: dict[tuple, list] = {}
    for url, html in datagen.crawl_link_pages_rows():
        src = _py_host(url)
        for href in _re.findall(r'<a\s[^>]*href="([^"]+)"', html.decode("utf-8")):
            if _re.match(r"^https?://", href):
                dst = _py_host(href)
            elif href.startswith("/"):
                dst = src
            else:
                continue
            rec = link_acc.setdefault((src, dst), [0, set()])
            rec[0] += 1
            rec[1].add(url)
    host_graph_rows = [
        (s, d, c, len(us), s != d) for (s, d), (c, us) in link_acc.items()
    ]

    # Anchor-text entity mining (kgspark.pipeline.anchor_entities):
    # independent restatement — two-group re.findall, urllib host
    # resolution, dict lookup on the lower/trim alias key.
    web_alias = dict(spec.web_alias_rows())
    anchor_acc: dict[tuple, list] = {}
    for url, html in datagen.crawl_link_pages_rows():
        src = _py_host(url)
        for href, atext in _re.findall(
            r'<a\s[^>]*href="([^"]+)"[^>]*>([^<]*)</a>', html.decode("utf-8")
        ):
            if _re.match(r"^https?://", href):
                dst = _py_host(href)
            elif href.startswith("/"):
                dst = src
            else:
                continue
            ent = web_alias.get(atext.strip().lower())
            if ent is None:
                continue
            rec = anchor_acc.setdefault((ent, dst), [0, set()])
            rec[0] += 1
            rec[1].add(url)
    anchor_rows = [
        (ent, d, c, len(us)) for (ent, d), (c, us) in anchor_acc.items()
    ]

    # Host PageRank (graph.pagerank composed over pipeline.host_link_graph):
    # independent driver-side restatement of the integer fixed-point
    # recurrence over the fixture's host edges — the same bit-exact update
    # the Spark loop computes, so the VALUES oracle is exact.
    from .graph import PAGERANK_ITERS, PAGERANK_SCALE

    hg_edges = {(s, d) for (s, d) in link_acc if s != d}
    hg_nodes = sorted({x for e in hg_edges for x in e})
    hg_out: dict[str, int] = {}
    for s, _d in hg_edges:
        hg_out[s] = hg_out.get(s, 0) + 1
    hn = len(hg_nodes)
    hr = {v: PAGERANK_SCALE // hn for v in hg_nodes}
    for _ in range(PAGERANK_ITERS):
        dang = sum(hr[v] for v in hg_nodes if hg_out.get(v, 0) == 0)
        inflow: dict[str, int] = {}
        for s, d in hg_edges:
            inflow[d] = inflow.get(d, 0) + hr[s] // hg_out[s]
        hr = {
            v: (15 * PAGERANK_SCALE) // (100 * hn)
            + (85 * (inflow.get(v, 0) + dang // hn)) // 100
            for v in hg_nodes
        }
    host_rank_rows = sorted(hr.items())

    # Redirect resolution (kgspark.pipeline.redirect_resolve): independent
    # restatement — the doubling loop computes p^(min(2^rounds, steps))(x),
    # so the oracle WALKS exactly that many hops (1 + (2^rounds - 1)),
    # stopping early at a terminal; resolved iff the final URL is not
    # itself a redirect source.
    from .pipeline import REDIRECT_ROUNDS

    ptrmap = dict(datagen.crawl_redirects_rows())
    redirect_rows = []
    for src in ptrmap:
        cur = ptrmap[src]
        for _ in range(2**REDIRECT_ROUNDS - 1):
            if cur not in ptrmap:
                break
            cur = ptrmap[cur]
        redirect_rows.append((src, cur, cur not in ptrmap))

    # Robots exclusion (kgspark.pipeline.robots_filter): independent
    # urllib-based restatement of the RFC 9309 subset — group selection
    # (agent group overrides *, never merges), longest matching literal
    # prefix, allow wins length ties, absent host/rule => allowed.
    from urllib.parse import urlparse

    from .pipeline import ROBOTS_AGENT

    by_host: dict[str, list[tuple[str, str, str]]] = {}
    for h, a, k, pfx in datagen.crawl_robots_rows():
        by_host.setdefault(h, []).append((a, k, pfx))
    robots_rows = []
    for url in sorted({u for u, _t in datagen.crawl_url_variants_rows()}):
        pu = urlparse(url)
        host = (pu.hostname or "").lower()
        path = pu.path or "/"
        grp = by_host.get(host, [])
        want = ROBOTS_AGENT if any(a == ROBOTS_AGENT for a, _k, _p in grp) else "*"
        matches = [
            (len(pfx), 1 if k == "allow" else 0, pfx)
            for a, k, pfx in grp
            if a == want and path.startswith(pfx)
        ]
        if matches:
            _l, a_, p_ = max(matches)
            robots_rows.append((url, host, p_, bool(a_)))
        else:
            robots_rows.append((url, host, None, True))

    # C4 line cleanup (kgspark.textops.c4_line_clean): independent Python
    # restatement of the line rules over the raw generated pages; the
    # byte-exact cleaned page is pinned via its sha256.
    c4_rows = []
    for url, _ts, _html, text, _lang in datagen.web_pages_rows(WEB_N, WEB_SEED):
        lines = [l.strip(" ") for l in text.split("\n")]
        lines = [l for l in lines if l != ""]
        kept = [
            l
            for l in lines
            if _re.search(r'[.!?"]$', l)
            and len(_re.split(r"\s+", l)) >= 3
            and "javascript" not in l.lower()
            and "{" not in l
        ]
        c4_rows.append(
            (
                url,
                len(lines),
                len(kept),
                1 if len(kept) >= 3 else 0,
                hashlib.sha256("\n".join(kept).encode("utf-8")).hexdigest(),
            )
        )

    # RDF N-Triples (kgspark.graph.to_ntriples): independent restatement —
    # a python form-encoder (URLEncoder semantics: space→'+', unreserved
    # [A-Za-z0-9._*-] kept, the rest uppercase %XX over UTF-8 bytes) over
    # the golden distinct triple set.
    def _form_enc(s: str) -> str:
        out = []
        for b in s.encode("utf-8"):
            c = chr(b)
            if c.isalnum() or c in "._*-":
                out.append(c)
            elif c == " ":
                out.append("+")
            else:
                out.append(f"%{b:02X}")
        return "".join(out)

    nt_rows = sorted(
        {
            (
                f"<https://kg.example/entity/{_form_enc(s)}> "
                f"<https://kg.example/prop/{_form_enc(p)}> "
                f"<https://kg.example/entity/{_form_enc(o)}> .",
            )
            for s, p, o, _d in g.triples
        }
    )

    # URL quality screen (kgspark.pipeline.url_quality): independent
    # urllib restatement with python integer arithmetic.
    uq_rows = []
    for (u,) in sorted(set(datagen.frontier_urls_rows())):
        pu = urlparse(u)
        host = (pu.hostname or "").lower()
        pth = pu.path or "/"
        depth = len([s for s in pth.split("/") if s])
        n_params = len(pu.query.split("&")) if pu.query else 0
        ndig = sum(c.isdigit() for c in pth)
        ratio = (ndig * 1_000_000) // len(pth)
        spam_hit = any(t in u.lower() for t in spec.SPAM_URL_TOKENS)
        keep = (
            not spam_hit
            and depth <= spec.URL_MAX_PATH_DEPTH
            and n_params <= spec.URL_MAX_QUERY_PARAMS
            and ratio <= spec.URL_MAX_DIGIT_RATIO_MICRO
        )
        uq_rows.append((u, host, depth, n_params, ratio, spam_hit, keep))

    # URL normalization (kgspark.pipeline.url_normalize): independent
    # urllib restatement with the RFC 3986 §5.2.4 remove_dot_segments
    # algorithm written out imperatively (output-buffer form) — shares no
    # mechanics with the Spark side's bounded regexp fixpoint.
    from urllib.parse import urlsplit

    def _rds(path: str) -> str:
        inp, out = path, []
        while inp:
            if inp.startswith("../"):
                inp = inp[3:]
            elif inp.startswith("./"):
                inp = inp[2:]
            elif inp.startswith("/./"):
                inp = "/" + inp[3:]
            elif inp == "/.":
                inp = "/"
            elif inp.startswith("/../"):
                inp = "/" + inp[4:]
                if out:
                    out.pop()
            elif inp == "/..":
                inp = "/"
                if out:
                    out.pop()
            elif inp in (".", ".."):
                inp = ""
            else:
                i = inp.find("/", 1)
                if i == -1:
                    out.append(inp)
                    inp = ""
                else:
                    out.append(inp[:i])
                    inp = inp[i:]
        return "".join(out)

    un_rows = []
    for (u,) in sorted(set(datagen.messy_urls_rows())):
        s = urlsplit(u)
        scheme = s.scheme.lower()
        host = (s.hostname or "").lower()
        port = s.port
        default = (scheme == "http" and port == 80) or (
            scheme == "https" and port == 443
        )
        netloc = host + (f":{port}" if port is not None and not default else "")
        path = _rds(s.path or "/") or "/"
        params = sorted(x for x in s.query.split("&") if x) if s.query else []
        norm = f"{scheme}://{netloc}{path}" + (
            "?" + "&".join(params) if params else ""
        )
        un_rows.append((u, scheme, host, norm, norm != u))

    # Text density (kgspark.pipeline.text_density): independent Python
    # fold over the generated pages — byte lengths from the raw encoded
    # html, tag counts via re over the decoded text, integer micro ratio.
    import re as _re

    td_rows = []
    for url, _ts, html_b, text, _lang in datagen.web_pages_rows(WEB_N, WEB_SEED):
        if not html_b:
            continue
        h = html_b.decode("utf-8")
        td_rows.append(
            (
                url,
                len(html_b),
                len(text),
                len(text) * 1_000_000 // len(html_b),
                len(_re.findall(r"<a[ >]", h)),
                len(_re.findall(r"<p[ >]", h)),
                len(_re.findall(r"<script[ >]", h)),
            )
        )

    # Boilerplate strip (kgspark.textops.boilerplate_strip): independent
    # two-pass dict fold over the host-pages fixture — document-frequency
    # per (host, line), then per-page rebuild under the same integer
    # ratio rule.
    bp_pages = datagen.host_pages_rows()
    bp_host_pages: dict[str, set] = {}
    bp_line_pages: dict[tuple, set] = {}
    # line trim is ASCII-SPACE only (the engines' trim(); tabs are content)
    for url, text in bp_pages:
        host = (urlsplit(url).hostname or "").lower()
        bp_host_pages.setdefault(host, set()).add(url)
        for ln in {l.strip(" ") for l in text.split("\n") if l.strip(" ")}:
            bp_line_pages.setdefault((host, ln), set()).add(url)
    bp_rows = []
    for url, text in bp_pages:
        host = (urlsplit(url).hostname or "").lower()
        lines = [l.strip(" ") for l in text.split("\n") if l.strip(" ")]
        hp = len(bp_host_pages[host])

        def _is_boiler(ln: str, _host=host, _hp=hp) -> bool:
            n = len(bp_line_pages[(_host, ln)])
            return n >= 2 and 10 * n >= 3 * _hp

        kept = [ln for ln in lines if not _is_boiler(ln)]
        bp_rows.append(
            (
                url,
                host,
                len(lines),
                sum(1 for ln in lines if _is_boiler(ln)),
                hashlib.sha256("\n".join(kept).encode("utf-8")).hexdigest(),
            )
        )

    # Paragraph duplication (kgspark.textops.paragraph_dups): independent
    # dict fold over the raw generated pages.
    para_pages: dict[str, set] = {}
    para_count: dict[str, int] = {}
    for url, _ts, _html, text, _lang in datagen.web_pages_rows(WEB_N, WEB_SEED):
        for para in text.split("\n"):
            para = para.strip()
            if not para:
                continue
            para_pages.setdefault(para, set()).add(url)
            para_count[para] = para_count.get(para, 0) + 1
    pd_rows = [
        (hashlib.sha256(p.encode("utf-8")).hexdigest(), p, len(us), para_count[p])
        for p, us in para_pages.items()
        if len(us) >= 2
    ]

    # Curation verdict (kgspark.textops.curation_verdict): independent
    # composition of the already-restated signals — C4 page gate (from the
    # c4 fold above), min-url first-wins per trimmed content, min length.
    c4_pass = {r[0]: bool(r[3]) for r in c4_rows}
    keeper: dict[str, str] = {}
    trimmed: dict[str, str] = {}
    for url, _ts, _html, text, _lang in datagen.web_pages_rows(WEB_N, WEB_SEED):
        t = text.strip()
        trimmed[url] = t
        if t not in keeper or url < keeper[t]:
            keeper[t] = url
    cur_rows = []
    for url, t in trimmed.items():
        flags = {
            "fails_c4": not c4_pass[url],
            "exact_dup": keeper[t] != url,
            "too_short": len(t) < spec.CURATION_MIN_CHARS,
        }
        reasons = ",".join(k for k in ("fails_c4", "exact_dup", "too_short") if flags[k])
        cur_rows.append(
            (url, len(t), not flags["fails_c4"], not flags["exact_dup"],
             not flags["too_short"], not any(flags.values()), reasons)
        )

    # Sitemap frontier (kgspark.pipeline.sitemap_frontier): independent
    # restatement via xml.etree — a REAL XML parser (namespace-aware,
    # entity-decoding) vs the operator's split/regexp mechanism.
    import xml.etree.ElementTree as _ET

    sm_rows = []
    for host, xml_doc in datagen.sitemap_rows():
        root = _ET.fromstring(xml_doc)
        ns = {"sm": "http://www.sitemaps.org/schemas/sitemap/0.9"}
        for u in root.findall("sm:url", ns):
            loc = u.find("sm:loc", ns).text.strip()
            lm = u.find("sm:lastmod", ns)
            pr = u.find("sm:priority", ns)
            prio = (
                int(round(float(pr.text.strip()) * 1_000_000))
                if pr is not None
                else None
            )
            sm_rows.append(
                (host, loc, lm.text.strip() if lm is not None else None, prio)
            )

    # Charset normalization (kgspark.warc.transcode_pages): independent
    # restatement — expected text comes from the fixture's SOURCE strings
    # (never a decoder), status/error from the declared-token rule; the
    # windows-1252 page must fail the UTF-8 gate, not mojibake.
    charset_rows = []
    for label, _codec, token, meta, text in datagen._CHARSET_PAGES:
        cs = token.lower() or meta.lower()
        source = "http" if token else ("meta" if meta else "none")
        if cs in ("", "utf-8", "utf8", "us-ascii"):
            status, out_text, err = "utf8", text, None
        elif cs in ("iso-8859-1", "utf-16", "utf-16be", "utf-16le", "utf-32"):
            status, out_text, err = "transcoded", text, None
        else:
            status, out_text, err = "unsupported_charset", "", "utf8_decode_error"
        charset_rows.append(
            (f"https://charset.test/{label}", cs, source, status, out_text, err)
        )

    # Cross-crawl KG delta (kgspark.pipeline.triple_delta): independent
    # restatement — the imperative refimpl fold runs on BOTH crawls' web
    # rows (crawl 2 via the recrawl generator), then plain set algebra.
    t1 = {(s, p, o) for s, p, o, _d in g.triples}
    g2 = refimpl.run(datagen.crawl2_web_rows(WEB_N, WEB_SEED))
    t2 = {(s, p, o) for s, p, o, _d in g2.triples}
    delta_rows = sorted(
        [(s, p, o, "added") for (s, p, o) in t2 - t1]
        + [(s, p, o, "removed") for (s, p, o) in t1 - t2]
        + [(s, p, o, "kept") for (s, p, o) in t1 & t2]
    )

    # Politeness fetch schedule (kgspark.pipeline.fetch_schedule):
    # independent restatement — group distinct frontier urls by
    # urllib-parsed host, sort each host's queue by url, slot = position,
    # offset = slot * FETCH_DELAY_S.
    from .pipeline import FETCH_DELAY_S

    sched_by_host: dict[str, list[str]] = {}
    for url in sorted({u for u, _t in datagen.crawl_url_variants_rows()}):
        h = (urlparse(url).hostname or "").lower()
        sched_by_host.setdefault(h, []).append(url)
    sched_rows = [
        (url, h, i, i * FETCH_DELAY_S, len(urls))
        for h, urls in sched_by_host.items()
        for i, url in enumerate(sorted(urls))
    ]

    # Recrawl diff (kgspark.pipeline.crawl_diff): independent dict-based
    # restatement of the full-outer verdict over the two snapshot fixtures.
    old_map = dict(datagen.crawl_snapshot_rows("old"))
    new_map = dict(datagen.crawl_snapshot_rows("new"))
    diff_rows = []
    for url in sorted(set(old_map) | set(new_map)):
        o, n = old_map.get(url), new_map.get(url)
        status = (
            "new" if o is None else "gone" if n is None
            else "unchanged" if o == n else "changed"
        )
        diff_rows.append((url, o, n, status))

    # WARC container (kgspark.warc / kgspark.warccodec): independent
    # restatement of the ISO 28500 walk over the SAME fixture blobs —
    # whole-member zlib inflate (wbits=16+MAX) + partition-based header
    # split, vs the codec's chunked member feed + framed slicing.  Payload
    # digests are RECOMPUTED (base32 sha1 of the parsed body), not read
    # back from the header, so the digest column is pinned independently.
    import base64 as _b64
    import zlib as _zl

    warc_rec_rows: list[tuple] = []
    warc_idx_rows: list[tuple] = []
    for fname, blob in datagen.warc_files_rows(WEB_N, 4, WEB_SEED):
        pos = 0
        while pos < len(blob):
            d = _zl.decompressobj(wbits=16 + _zl.MAX_WBITS)
            data = d.decompress(blob[pos:])
            assert d.eof, "oracle: truncated member"
            length = len(blob) - pos - len(d.unused_data)
            head, _sep, payload_plus = data.partition(b"\r\n\r\n")
            lines = head.decode("latin-1").split("\r\n")
            assert lines[0] == "WARC/1.0", "oracle: bad version line"
            h = {}
            for ln in lines[1:]:
                k, _c, v = ln.partition(": ")
                h[k.lower()] = v
            n = int(h["content-length"])
            payload = payload_plus[:n]
            wtype = h["warc-type"]
            url = h.get("warc-target-uri")
            status = ctype = body_sha = None
            body_len = -1
            digest = None
            if not h.get("content-type", "").startswith("application/http"):
                # non-http payload (warcinfo fields) IS the body
                body_sha = hashlib.sha256(payload).hexdigest()
                body_len = len(payload)
            if h.get("content-type", "").startswith("application/http"):
                hh, _s2, body = payload.partition(b"\r\n\r\n")
                hlines = hh.decode("latin-1").split("\r\n")
                status = int(hlines[0].split(" ")[1])
                hth = {}
                for ln in hlines[1:]:
                    k, _c, v = ln.partition(": ")
                    hth[k.lower()] = v
                ctype = hth.get("content-type")
                if hth.get("transfer-encoding", "").lower() == "chunked":
                    # independent dechunk: split on CRLF and fold size/data
                    # line pairs (vs the codec's indexed walk)
                    parts = body.split(b"\r\n")
                    acc, i2 = [], 0
                    while True:
                        n2 = int(parts[i2].split(b";")[0], 16)
                        if n2 == 0:
                            break
                        # data may itself contain CRLF: rejoin until n2 met
                        buf = parts[i2 + 1]
                        j2 = i2 + 1
                        while len(buf) < n2:
                            j2 += 1
                            buf += b"\r\n" + parts[j2]
                        assert len(buf) == n2, "oracle: chunk length drift"
                        acc.append(buf)
                        i2 = j2 + 1
                    body = b"".join(acc)
                body_sha = hashlib.sha256(body).hexdigest()
                body_len = len(body)
                if wtype == "response":
                    digest = "sha1:" + _b64.b32encode(
                        hashlib.sha1(body).digest()
                    ).decode("ascii")
            warc_rec_rows.append(
                (fname, pos, length, wtype, h["warc-record-id"], url,
                 h["warc-date"], status, ctype,
                 h.get("warc-payload-digest"), body_sha, body_len)
            )
            if wtype == "response":
                pu = urlparse(url)
                host = (pu.hostname or "").lower()
                if host.startswith("www."):
                    host = host[4:]
                urlkey = ",".join(reversed(host.split("."))) + ")" + (pu.path or "/")
                if pu.query:
                    urlkey += "?" + "&".join(sorted(pu.query.split("&")))
                warc_idx_rows.append(
                    (urlkey, h["warc-date"], url, fname, pos, length, digest, status)
                )
            pos += length

    # Revisit planning (kgspark.warc.plan_revisits): independent
    # restatement — digests computed straight from the generator page
    # bytes (never via the codec), urlkeys via urlparse; a crawl-2 fetch
    # is a revisit iff crawl 1 captured the same urlkey with the same
    # body digest, and it refers to that capture.
    def _okey(u: str) -> str:
        pu = urlparse(u)
        hh = (pu.hostname or "").lower()
        if hh.startswith("www."):
            hh = hh[4:]
        k = ",".join(reversed(hh.split("."))) + ")" + (pu.path or "/")
        if pu.query:
            k += "?" + "&".join(sorted(pu.query.split("&")))
        return k

    def _dig(body: bytes) -> str:
        import base64 as _b

        return "sha1:" + _b.b32encode(hashlib.sha1(body).digest()).decode("ascii")

    prior_caps: dict[tuple[str, str], tuple[str, str]] = {}
    for url, ts, html, _t, _l in datagen.web_pages_rows(WEB_N, WEB_SEED):
        d1 = ts.strftime("%Y-%m-%dT%H:%M:%SZ")
        key = (_okey(url), _dig(html))
        cand = (d1, url)
        if key not in prior_caps or cand > prior_caps[key]:
            prior_caps[key] = cand
    revisit_rows = []
    for url, d2, body in datagen.crawl2_pages_rows(WEB_N, WEB_SEED):
        ref = prior_caps.get((_okey(url), _dig(body)))
        revisit_rows.append(
            (url, d2, _dig(body), ref is not None,
             ref[1] if ref else None, ref[0] if ref else None)
        )

    # Container-path language enrichment (warc_docs_lang): independent
    # python restatement of the stopword-ratio detector over the KEEPER
    # docs (first-wins fold already restated by refimpl); HALF_UP rounding
    # matches Spark's round().
    from decimal import ROUND_HALF_UP, Decimal

    from .textops import EN_STOPWORDS as _STOPS

    golden_text_by_url = {
        u: t for u, _ts, _h, t, _l in datagen.web_pages_rows(WEB_N, WEB_SEED)
    }
    lang_rows = []
    for d in g.docs.values():
        content = golden_text_by_url[d["url"]].replace("\r", "").strip()
        toks = content.split()
        ratio = Decimal(sum(t in _STOPS for t in toks)) / Decimal(len(toks))
        score = ratio.quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        lang_rows.append((d["url"], "en" if score >= Decimal("0.05") else "unknown"))

    # Robots.txt parse round trip (kgspark.pipeline.parse_robots): the
    # oracle is the GROUND-TRUTH rules table the fixture text renders —
    # any parse drift (group merging, comment leak, pre-group rule kept,
    # empty-Disallow row) breaks the multiset.
    robots_parse_rows = list(datagen.crawl_robots_rows())

    # WAT links round trip (kgspark.warc.build_wat): independent anchor
    # extraction with a REAL html.parser walk (vs Catalyst regexp) over
    # the link-corpus pages; WAT keeps raw hrefs (fragments/mailto too).
    from html.parser import HTMLParser as _HP

    class _Anchors(_HP):
        def __init__(self):
            super().__init__()
            self.out, self._href, self._buf = [], None, []

        def handle_starttag(self, tag, attrs):
            if tag == "a":
                self._href = dict(attrs).get("href")
                self._buf = []

        def handle_data(self, data):
            if self._href is not None:
                self._buf.append(data)

        def handle_endtag(self, tag):
            if tag == "a" and self._href is not None:
                self.out.append((self._href, "".join(self._buf)))
                self._href = None

    wat_rows = []
    for url, html_b in datagen.crawl_link_pages_rows():
        p = _Anchors()
        p.feed(html_b.decode("utf-8"))
        for href, text in p.out:
            wat_rows.append((url, href, text))

    # WET round trip (kgspark.warc.build_wet): successful extractions only
    # (CC sidecar semantics); expected digest is of the GOLDEN text.
    wet_rows = [
        (url, hashlib.sha256(text.encode("utf-8")).hexdigest())
        for url, _ts, _html, text, _lang in datagen.web_pages_rows(WEB_N, WEB_SEED)
        if text
    ]

    # Byte-identity THROUGH the container: expected per-url digest is the
    # sha256 of the GOLDEN text (generator contract), never the extractor's
    # own output; error restates the extraction error contract (fixture
    # html is always non-empty utf-8, so the only class is empty_extraction).
    warc_dig_rows = [
        (
            url,
            hashlib.sha256(text.encode("utf-8")).hexdigest(),
            None if text else "empty_extraction",
        )
        for url, _ts, _html, text, _lang in datagen.web_pages_rows(WEB_N, WEB_SEED)
    ]

    n_docs = len(g.docs)
    return {
        "web_rdf_ntriples": _values(nt_rows, ["ntriple"], ["s"]),
        "kg_crawl_delta": _values(
            delta_rows, ["subj", "pred", "obj", "status"], ["s", "s", "s", "s"]
        ),
        "web_url_quality": _values(
            uq_rows,
            ["url", "host", "path_depth", "n_query_params",
             "digit_ratio_micro", "spam_token_hit", "keep"],
            ["s", "s", "i", "i", "i", "b", "b"],
        ),
        "web_url_normalize": _values(
            un_rows,
            ["url", "scheme", "host", "norm_url", "changed"],
            ["s", "s", "s", "s", "b"],
        ),
        "web_text_density": _values(
            td_rows,
            ["url", "html_bytes", "text_chars", "density_micro",
             "n_anchor_tags", "n_paragraph_tags", "n_script_tags"],
            ["s", "i", "i", "i", "i", "i", "i"],
        ),
        "web_boilerplate_strip": _values(
            bp_rows,
            ["url", "host", "n_lines", "n_boiler_lines", "cleaned_sha256"],
            ["s", "s", "i", "i", "s"],
        ),
        "web_paragraph_dups": _values(
            pd_rows,
            ["para_sha256", "paragraph", "n_pages", "n_occurrences"],
            ["s", "s", "i", "i"],
        ),
        "web_curation_verdict": _values(
            cur_rows,
            ["url", "content_chars", "passes_c4", "is_content_keeper",
             "long_enough", "keep", "reasons"],
            ["s", "i", "b", "b", "b", "b", "s"],
        ),
        "web_sitemap_frontier": _values(
            sm_rows,
            ["host", "loc", "lastmod", "priority_micro"],
            ["s", "s", "s", "i"],
        ),
        "warc_charset_docs": _values(
            charset_rows,
            ["url", "charset", "charset_source", "transcode_status", "text", "error"],
            ["s", "s", "s", "s", "s", "s"],
        ),
        "web_fetch_schedule": _values(
            sched_rows,
            ["url", "host", "slot", "scheduled_offset_s", "n_host"],
            ["s", "s", "i", "i", "i"],
        ),
        "web_crawl_diff": _values(
            diff_rows, ["url", "old_sha", "new_sha", "status"], ["s", "s", "s", "s"]
        ),
        "warc_records": _values(
            warc_rec_rows,
            ["file_name", "rec_offset", "rec_length", "warc_type",
             "record_id", "url", "warc_date", "http_status", "content_type",
             "payload_digest", "html_sha", "html_len"],
            ["s", "i", "i", "s", "s", "s", "s", "i", "s", "s", "s", "i"],
        ),
        "warc_index": _values(
            warc_idx_rows,
            ["urlkey", "warc_date", "url", "file_name", "rec_offset",
             "rec_length", "payload_digest", "http_status"],
            ["s", "s", "s", "s", "i", "i", "s", "i"],
        ),
        "warc_revisit_plan": _values(
            revisit_rows,
            ["url", "warc_date", "payload_digest", "is_revisit",
             "refers_to_url", "refers_to_date"],
            ["s", "s", "s", "b", "s", "s"],
        ),
        "warc_docs_lang": _values(lang_rows, ["url", "lang"], ["s", "s"]),
        "web_robots_parse": _values(
            robots_parse_rows,
            ["host", "agent", "rule", "path_prefix"],
            ["s", "s", "s", "s"],
        ),
        "warc_wat_links": _values(
            wat_rows, ["url", "href", "anchor_text"], ["s", "s", "s"]
        ),
        "warc_wet_roundtrip": _values(
            wet_rows, ["url", "text_sha256"], ["s", "s"]
        ),
        "warc_extract_digests": _values(
            warc_dig_rows, ["url", "text_sha256", "error"], ["s", "s", "s"]
        ),
        "web_c4_clean": _values(
            c4_rows,
            ["url", "n_lines", "n_kept_lines", "passes_c4", "cleaned_sha256"],
            ["s", "i", "i", "b", "s"],
        ),
        "web_url_dedup": _values(
            url_rows,
            ["norm_url", "n_pages", "n_distinct_urls", "canonical_url",
             "n_distinct_texts"],
            ["s", "i", "i", "s", "i"],
        ),
        "web_host_graph": _values(
            host_graph_rows,
            ["src_host", "dst_host", "n_links", "n_pages", "is_external"],
            ["s", "s", "i", "i", "b"],
        ),
        "web_anchor_entities": _values(
            anchor_rows,
            ["entity_name", "dst_host", "n_links", "n_pages"],
            ["s", "s", "i", "i"],
        ),
        "web_host_rank": _values(
            host_rank_rows, ["host", "pagerank"], ["s", "i"]
        ),
        "web_redirect_resolve": _values(
            redirect_rows,
            ["src_url", "final_url", "is_resolved"],
            ["s", "s", "b"],
        ),
        "web_robots_filter": _values(
            robots_rows,
            ["url", "host", "matched_prefix", "allowed"],
            ["s", "s", "s", "b"],
        ),
        "web_domain_stats": _values(
            domain_rows,
            [
                "domain", "n_pages", "n_nonempty", "n_distinct_texts",
                "total_text_chars", "n_langs",
            ],
            ["s", "i", "i", "i", "i", "i"],
        ),
        "web_neighbors": _values(nbr_rows, ["id", "neighbor"], ["s", "s"]),
        "web_doc_summaries": _values(
            summary_rows,
            ["doc_id", "summary", "status", "content_length", "n_chunks"],
            ["s", "s", "s", "i", "i"],
        ),
        "graph_bfs_paths": _values(
            bfs_rows, ["start", "path_str", "depth"], ["s", "s", "i"]
        ),
        "graph_render_paths": _values(
            render_rows, ["start", "rendered", "depth"], ["s", "s", "i"]
        ),
        "web_docs": _values(
            docs_rows, ["doc_id", "url", "lang", "content_length"], ["s", "s", "s", "i"]
        ),
        "web_chunks": _values(
            chunks_rows,
            ["chunk_id", "doc_id", "chunk_order_index", "n_tokens"],
            ["s", "s", "i", "i"],
        ),
        "web_entities": _values(
            ent_rows,
            [
                "entity_id", "entity_name", "entity_type", "doc_id",
                "chunk_id", "chunk_order_index", "first_offset",
            ],
            ["s", "s", "s", "s", "s", "i", "i"],
        ),
        "web_relations": _values(
            rel_rows,
            [
                "relation_id", "doc_id", "source_entity_id",
                "target_entity_id", "subj", "obj", "relationship_description",
            ],
            ["s"] * 7,
        ),
        "web_triples": _values(
            triple_rows, ["subj", "pred", "obj", "doc_id"], ["s"] * 4
        ),
        "web_canonical_map": _values(
            cmap_rows, ["entity_name", "canonical_name", "canonical_id"], ["s"] * 3
        ),
        "web_canonical_triples": _values(
            ct_rows, ["subj", "pred", "obj", "doc_id"], ["s"] * 4
        ),
        "web_graph_components": _values(
            comp_rows, ["name", "component_id", "n_members"], ["s", "s", "i"]
        ),
        # the two src-tagged unions: web-pipeline golden rows next to the
        # same count over the documents table
        "status_lang_rollup": _values(
            [("status", "PROCESSED", n_docs), ("status", "ALL", n_docs)],
            ["src", "label", "n_docs"],
            ["s", "s", "i"],
        )
        + """
UNION ALL
SELECT 'lang' AS src, coalesce(lang, 'ALL') AS label, count(*) AS n_docs
FROM documents GROUP BY ROLLUP(lang)""",
        "entity_type_counts": f"""
WITH {oracles.TOK},
{oracles._M},
{oracles._ENTITIES}
SELECT 'documents' AS src, lower(entity_type) AS entity_type, count(*) AS n_entities
FROM ent GROUP BY lower(entity_type)
UNION ALL
"""
        + _values(
            [("web", t, n) for t, n in type_counts.items()],
            ["src", "entity_type", "n_entities"],
            ["s", "s", "i"],
        ),
        "web_ontology_check": _ontology_check_sql(triple_rows, ent_rows),
        "web_ontology_rollup": f"""
SELECT pred,
       CAST(count(*) AS BIGINT) AS n_triples,
       CAST(count(*) FILTER (WHERE status = 'ok') AS BIGINT) AS n_ok,
       CAST(count(*) FILTER (WHERE status IN ('domain', 'domain+range'))
            AS BIGINT) AS n_domain_violations,
       CAST(count(*) FILTER (WHERE status IN ('range', 'domain+range'))
            AS BIGINT) AS n_range_violations
FROM ({_ontology_check_sql(triple_rows, ent_rows)}) oc
GROUP BY pred
""".strip(),
        "web_functional_violations": _values(
            _functional_violation_rows(sorted(g.triples)),
            ["pred", "subj", "n_objects", "objects"],
            ["s", "s", "i", "s"],
        ),
        "web_triple_support": _values(
            _triple_support_rows(ct_rows),
            ["subj", "pred", "obj", "n_docs", "first_doc_id"],
            ["s", "s", "s", "i", "s"],
        ),
        "web_link_prediction": _values(
            _link_prediction_rows(ct_rows),
            ["a", "b", "n_common", "ra_micro"],
            ["s", "s", "i", "i"],
        ),
        "web_current_facts": _values(
            _current_fact_rows(
                sorted(g.triples),
                {k: v["warc_ts"] for k, v in g.docs.items()},
            ),
            ["subj", "pred", "obj", "asserted_at", "doc_id"],
            ["s"] * 5,
        ),
        "web_negative_samples": _values(
            _negative_sample_rows(ct_rows),
            ["subj", "pred", "obj", "neg_obj"],
            ["s"] * 4,
        ),
        "web_entity_cooccurrence": _values(
            _cooccurrence_rows(ent_rows),
            ["a", "b", "n_ab", "n_a", "n_b", "lift_micro"],
            ["s", "s", "i", "i", "i", "i"],
        ),
        "web_graph_closeness": _values(
            _closeness_rows(ct_rows),
            ["name", "n_reachable", "harmonic_micro"],
            ["s", "i", "i"],
        ),
        "web_temporal_triples": _values(
            _temporal_triple_rows(
                ct_rows, {k: v["warc_ts"] for k, v in g.docs.items()}
            ),
            ["subj", "pred", "obj", "first_seen", "last_seen", "n_docs"],
            ["s", "s", "s", "s", "s", "i"],
        ),
    }
