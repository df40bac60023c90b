"""Hand-built-input semantics tests for the round-5 analytics operators.

The oracle-parity gate proves Spark == DuckDB on the shared corpora; these
pin the SEMANTICS themselves on inputs small enough to verify by hand, so a
matched pair of engine bugs can't slip through the parity gate unnoticed.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kgspark import graph, pipeline, textops


def _triples(spark, pairs):
    return spark.createDataFrame(
        [(a, "rel", b, "d1") for a, b in pairs], ["subj", "pred", "obj", "doc_id"]
    )


def test_degrees_directed_vs_undirected(spark):
    # A->B, B->A (reciprocal pair collapses to ONE undirected neighbor),
    # A->C, D->A; duplicate (A,B) rows must not double-count.
    t = _triples(spark, [("A", "B"), ("A", "B"), ("B", "A"), ("A", "C"), ("D", "A")])
    got = {r["name"]: r for r in graph.degrees(t).collect()}
    assert got["A"]["out_degree"] == 2 and got["A"]["in_degree"] == 2
    assert got["A"]["degree"] == 3  # B, C, D — reciprocal B counted once
    assert got["B"]["degree"] == 1 and got["C"]["degree"] == 1
    assert got["C"]["out_degree"] == 0 and got["C"]["in_degree"] == 1


def test_degrees_ignores_self_loops(spark):
    t = _triples(spark, [("A", "A"), ("A", "B")])
    got = {r["name"]: r for r in graph.degrees(t).collect()}
    assert got["A"]["degree"] == 1 and got["A"]["out_degree"] == 1


def test_triangle_counts_k4(spark):
    # K4 has C(4,3)=4 triangles; every node participates in exactly 3.
    nodes = ["A", "B", "C", "D"]
    edges = [(a, b) for i, a in enumerate(nodes) for b in nodes[i + 1:]]
    got = {r["name"]: r["n_triangles"] for r in
           graph.triangle_counts(_triples(spark, edges)).collect()}
    assert got == {n: 3 for n in nodes}


def test_triangle_counts_direction_blind_no_doubles(spark):
    # Triangle closed through MIXED edge directions + a reciprocal edge:
    # still exactly one triangle, nodes outside it absent from the output.
    t = _triples(spark, [("A", "B"), ("C", "B"), ("C", "A"), ("B", "A"), ("C", "D")])
    got = {r["name"]: r["n_triangles"] for r in graph.triangle_counts(t).collect()}
    assert got == {"A": 1, "B": 1, "C": 1}


def test_repetition_stats_hand_counts(spark):
    # "a b a b c" -> 2-grams [a b, b a, a b, b c]: top 2/4, dup 2/4;
    # 3-grams [a b a, b a b, a b c]: top 1/3, dup 0.
    docs = spark.createDataFrame([(1, "a b a b c")], ["doc_id", "text"])
    got = {r["n"]: r for r in textops.repetition_stats_arrow(docs).collect()}
    assert got[2]["n_ngrams"] == 4
    assert got[2]["top_ngram_frac"] == 0.5 and got[2]["dup_ngram_frac"] == 0.5
    assert got[3]["top_ngram_frac"] == 0.333333 and got[3]["dup_ngram_frac"] == 0.0
    assert 10 not in got  # 5-token doc emits no 10-gram row


def test_repetition_stats_per_row_duplicates(spark):
    # Two raw rows with identical content: per-row semantics — two identical
    # output rows per n, counts NOT merged across the copies.
    docs = spark.createDataFrame(
        [(1, "x y x y"), (2, "x y x y")], ["doc_id", "text"]
    )
    rows = [r for r in textops.repetition_stats_arrow(docs).collect() if r["n"] == 2]
    assert len(rows) == 2
    assert all(r["n_ngrams"] == 3 for r in rows)


def test_tfidf_topk_ranking_and_score(spark):
    import math

    # doc1 dominated by "spark" (3x), "the" appears in both docs (df=2).
    docs = spark.createDataFrame(
        [(1, "spark spark spark the"), (2, "the quick fox")],
        ["doc_id", "text"],
    )
    out = textops.tfidf_topk(docs, k=2).collect()
    top1 = [r for r in out if r["rank"] == 1 and r["term"] == "spark"]
    assert len(top1) == 1 and top1[0]["term_count"] == 3 and top1[0]["doc_freq"] == 1
    expected = round((3 / 4) * (math.log((2 + 1) / (1 + 1)) + 1), 6)
    assert abs(top1[0]["tfidf"] - expected) < 1e-9
    # ties broken by rarity then term: doc2's terms all count 1; "fox"/"quick"
    # (df=1) must take both k=2 slots over "the" (df=2).
    d2_id = top1[0]["kg_doc_id"]
    d2 = sorted(r["term"] for r in out if r["kg_doc_id"] != d2_id)
    assert d2 == ["fox", "quick"]


def test_dedup_clusters_transitive_chain(spark):
    # A~B and B~C near-dups (shared shingles) must land in ONE cluster even
    # if A~C never collides; the unrelated doc stays a singleton rep.
    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, base + " one"),
            (2, base + " one two"),
            (3, base + " one two three"),
            (4, "completely different words entirely here now"),
        ],
        ["doc_id", "text"],
    )
    out = textops.dedup_clusters(docs, threshold=0.3).collect()
    clusters = {}
    for r in out:
        clusters.setdefault(r["cluster_id"], []).append(r)
    sizes = sorted(len(v) for v in clusters.values())
    assert sizes == [1, 3]
    for members in clusters.values():
        reps = [r for r in members if r["is_representative"]]
        assert len(reps) == 1 and reps[0]["kg_doc_id"] == min(
            m["kg_doc_id"] for m in members
        )


def test_domain_stats_hand_counts(spark):
    web = spark.createDataFrame(
        [
            ("https://example-hot.test/a/1", "hello world", "en"),
            ("https://example-hot.test/b/2", "hello world", "de"),
            ("https://example-hot.test/c/3", "", "en"),
            ("http://other.test/x", "different text", "en"),
        ],
        ["url", "text", "lang"],
    )
    got = {r["domain"]: r for r in pipeline.domain_stats(web).collect()}
    hot = got["example-hot.test"]
    assert hot["n_pages"] == 3 and hot["n_nonempty"] == 2
    assert hot["n_distinct_texts"] == 1  # duplicate content counted once
    assert hot["total_text_chars"] == 22 and hot["n_langs"] == 2
    assert got["other.test"]["n_pages"] == 1


def test_events_funnel_ordering_and_partials(spark):
    import datetime as dt

    from kgspark import events as ev

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def row(uid, typ, minutes):
        return (uid, t0 + dt.timedelta(minutes=minutes), typ)

    rows = [
        # u1: full funnel in order
        row(1, "view", 0), row(1, "click", 5), row(1, "purchase", 9),
        # u2: click BEFORE the first view never counts; no later click
        row(2, "click", 0), row(2, "view", 3),
        # u3: view+click, purchase before click doesn't count
        row(3, "purchase", 0), row(3, "view", 1), row(3, "click", 2),
        # u4: no view at all -> absent from the funnel entirely
        row(4, "click", 0), row(4, "purchase", 1),
        # u1 noise: a second, earlier-irrelevant purchase after the first
        row(1, "purchase", 30),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    got = {r["user_id"]: r for r in ev.funnel(df).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["steps_completed"] == 3 and got[1]["converted"]
    assert got[1]["step3_ts"] == "2024-01-01 12:09:00"  # earliest, not 12:30
    assert got[2]["steps_completed"] == 1 and not got[2]["converted"]
    assert got[2]["step2_ts"] is None
    assert got[3]["steps_completed"] == 2 and not got[3]["converted"]
    assert got[3]["step3_ts"] is None


def _events_df(spark, rows):
    """rows: (event_id, user_id, event_type, seconds-offset)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    return spark.createDataFrame(
        [(e, t0 + dt.timedelta(seconds=s), u, ty) for e, u, ty, s in rows],
        ["event_id", "ts", "user_id", "event_type"],
    )


def test_asof_join_most_recent_prior_and_ties(spark):
    from kgspark import events as ev

    df = _events_df(spark, [
        (1, 1, "click", 0),
        (2, 1, "click", 10),      # most recent prior -> wins over event 1
        (3, 1, "purchase", 20),   # gap 10s from click 2
        (4, 1, "click", 30),      # AFTER the purchase: never counts for 3
        (5, 2, "purchase", 5),    # user 2 has no click at all -> NULL match
        (6, 3, "click", 7),
        (7, 3, "purchase", 7),    # same-ts click counts (at-or-before), gap 0
        (8, 4, "click", 1),
        (9, 4, "click", 1),       # same (user, ts) tie -> max event_id wins
        (10, 4, "purchase", 2),
    ])
    got = {r["left_id"]: (r["right_id"], r["gap_us"])
           for r in ev.asof_join(df).collect()}
    assert got == {
        3: (2, 10_000_000),
        5: (None, None),
        7: (6, 0),
        10: (9, 1_000_000),
    }


def test_range_join_window_bounds_and_buckets(spark):
    from kgspark import events as ev

    df = _events_df(spark, [
        (1, 1, "purchase", 59),   # near the 60s bucket boundary
        (2, 1, "error", 61),      # adjacent bucket, delta +2s -> matched
        (3, 1, "error", 119),     # delta +60s exactly -> included
        (4, 1, "error", 120),     # delta +61s -> excluded
        (5, 1, "error", 0),       # delta -59s -> matched (signed)
        (6, 2, "error", 59),      # same ts range, other user -> excluded
    ])
    got = sorted(
        (r["left_id"], r["right_id"], r["delta_us"])
        for r in ev.range_join(df, window_s=60).collect()
    )
    assert got == [
        (1, 2, 2_000_000),
        (1, 3, 60_000_000),
        (1, 5, -59_000_000),
    ]


def test_collocations_pmi_hand_value(spark):
    import math

    # "a b a b": T=4 (a:2, b:2), bigrams [a b, b a, a b] -> B=3;
    # pair (a,b) n=2 -> pmi = ln((2/3) / ((2/4)*(2/4))).
    docs = spark.createDataFrame([(1, "a b a b")], ["doc_id", "text"])
    out = {(r["w1"], r["w2"]): r for r in
           textops.collocations(docs, min_count=1).collect()}
    ab = out[("a", "b")]
    assert ab["n_pair"] == 2 and ab["n_w1"] == 2 and ab["n_w2"] == 2
    assert abs(ab["pmi"] - round(math.log((2 / 3) / (0.5 * 0.5)), 6)) < 1e-9
    assert out[("b", "a")]["n_pair"] == 1
    # min_count filter drops the singleton pair
    kept = textops.collocations(docs, min_count=2).collect()
    assert [(r["w1"], r["w2"]) for r in kept] == [("a", "b")]


def test_value_quantiles_interpolation(spark):
    import datetime as dt

    from kgspark import events as ev

    # values 1..10: p50 = 5.5, p90 = 9.1, p99 = 9.91 ((n-1)*p interpolation)
    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, t0, 7, "view", float(i + 1)) for i in range(10)]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    )
    got = ev.value_quantiles(df).collect()[0]
    assert got["n_events"] == 10
    assert got["p50"] == 5.5 and got["p90"] == 9.1 and got["p99"] == 9.91
    assert got["min_value"] == 1.0 and got["max_value"] == 10.0


def test_train_split_deterministic_and_content_keyed(spark):
    docs = spark.createDataFrame(
        [(i, f"document number {i} body text") for i in range(40)]
        + [(99, "document number 7 body text")],  # content dup of doc 7
        ["doc_id", "text"],
    ).withColumn("lang", F.lit("en"))
    out = textops.train_split(docs).collect()
    by_content = {}
    for r in out:
        by_content.setdefault(r["kg_doc_id"], set()).add(
            (r["split"], r["bucket"], r["in_10pct_sample"])
        )
    # duplicate content -> identical assignment (two rows, one assignment)
    assert all(len(v) == 1 for v in by_content.values())
    # split follows the bucket thresholds exactly
    for r in out:
        want = "train" if r["bucket"] < 80 else ("val" if r["bucket"] < 90 else "test")
        assert r["split"] == want
        assert r["in_10pct_sample"] == (r["bucket"] % 10 == 0)
    # re-running on a repartitioned frame cannot migrate splits
    again = {r["kg_doc_id"]: r["split"]
             for r in textops.train_split(docs.repartition(7)).collect()}
    assert all(again[k] == next(iter(v))[0] for k, v in by_content.items())


def test_contamination_flags_exact_8gram_overlap(spark):
    eight = "w1 w2 w3 w4 w5 w6 w7 w8"
    rows = [
        (0, eight + " eval tail words here"),        # doc_id % 50 == 0 -> eval
        (1, "lead in " + eight + " train side"),     # shares the 8-gram -> hit
        (2, "totally unrelated train content with enough tokens to gram"),
        (3, "w1 w2 w3 w4 w5 w6 w7 different"),       # 7-token prefix only -> clean
        (4, "too short to gram"),                    # < 8 tokens: zero grams,
                                                     # still owes a clean row
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["kg_doc_id"]: r for r in textops.contamination(docs).collect()}
    assert len(got) == 4  # eval doc itself is not in the train output
    flags = sorted((r["contaminated"], r["n_shared_grams"]) for r in got.values())
    assert flags == [(False, 0), (False, 0), (False, 0), (True, 1)]


def test_lm_score_matches_python_reference(spark):
    """Bit-exact vs an independent dict-based Laplace bigram LM, including
    the short-doc NULL row and the duplicate-row per-row contract."""
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    def r6(x):
        # engines round doubles HALF_UP on the shortest decimal repr;
        # Python's round() is banker's — mirror the engines
        return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))

    rows = [
        (0, "a b a b c"),
        (1, "a b x"),
        (2, "c a b"),
        (3, "solo"),           # < 2 tokens: NULL-scored row, n_bigrams 0
        (4, "a b x"),          # duplicate content of row 1: own output row
    ]
    texts = [t for _, t in rows]
    toks = [t.split() for t in texts]
    uni = Counter(w for ts in toks for w in ts)
    big = Counter((ts[i], ts[i + 1]) for ts in toks for i in range(len(ts) - 1))
    v = len(uni)

    def lp(w1, w2):
        return r6(math.log((big[(w1, w2)] + 1) / (uni[w1] + v)))

    def score(ts):
        if len(ts) < 2:
            return (0, None, None)
        lps = [lp(ts[i], ts[i + 1]) for i in range(len(ts) - 1)]
        avg = r6(sum(lps) / len(lps))
        return (len(lps), avg, r6(math.exp(-avg)))

    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = sorted(
        (r["n_bigrams"], r["avg_logprob"], r["ppl_proxy"])
        for r in textops.lm_score(docs).collect()
    )
    want = sorted(score(ts) for ts in toks)
    assert [g[0] for g in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        if w[1] is None:
            assert g[1] is None and g[2] is None
        else:
            assert abs(g[1] - w[1]) < 1e-9 and abs(g[2] - w[2]) < 1e-9


def test_components_min_name_ids_and_sizes(spark):
    # two components: {A,B,C,D} (chain + reciprocal edge) and {X,Y};
    # self-loop Z-Z contributes no node at all
    t = _triples(spark, [
        ("B", "A"), ("A", "B"), ("B", "C"), ("C", "D"), ("X", "Y"), ("Z", "Z"),
    ])
    got = sorted(
        (r["name"], r["component_id"], r["n_members"])
        for r in graph.components(t).collect()
    )
    assert got == [
        ("A", "A", 4), ("B", "A", 4), ("C", "A", 4), ("D", "A", 4),
        ("X", "X", 2), ("Y", "X", 2),
    ]


def test_duplicate_spans_cross_doc_islands(spark):
    """Span boundaries, overlap merge, gap split, adjacency merge, and the
    within-doc / content-dup non-triggers of textops.duplicate_spans."""
    shared_a = "a b c d e f g h"          # 8 tokens, shared run 1
    shared_b = "p q r s t v w z"          # 8 tokens, shared run 2
    rows = [
        (0, shared_a + " i j"),                       # run1 + 2 extra: 3 grams
        (1, "x " + shared_a + " i j y"),              # same run offset by 1
        (2, shared_a + " u1 u2 " + shared_b),         # gap -> two spans
        (3, shared_b + " tail1 tail2"),               # donor for run2
        (4, shared_a + " " + shared_b),               # adjacent runs -> merge
        (5, "k l m n o k2 l2 m2 k l m n o k2 l2 m2"),  # within-doc only: no row
        (6, "dup dup dup dup dup dup dup dup dup"),   # content-dup of doc 7
        (7, "dup dup dup dup dup dup dup dup dup"),   # same kg_doc_id: no row
        (8, "short doc"),                             # < 8 tokens: no grams
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = textops.duplicate_spans(docs).collect()
    import hashlib

    def did(text):
        return "doc-" + hashlib.sha256(text.strip().encode()).hexdigest()

    spans = sorted(
        (r["kg_doc_id"], r["span_start"], r["span_end"], r["span_len"], r["n_grams"])
        for r in out
    )
    expected = sorted([
        # doc 0: grams at pos 0,1,2 all shared with doc 1 -> one span [0,9]
        (did(rows[0][1]), 0, 9, 10, 3),
        # doc 1: the same three grams sit at pos 1,2,3 -> span [1,10]
        (did(rows[1][1]), 1, 10, 10, 3),
        # doc 2: run1 gram at 0, run2 gram at 10; 10 > 0+8 -> two spans
        (did(rows[2][1]), 0, 7, 8, 1),
        (did(rows[2][1]), 10, 17, 8, 1),
        # doc 3: run2 gram at 0 -> one span
        (did(rows[3][1]), 0, 7, 8, 1),
        # doc 4: run1 at 0, run2 at 8: 8 == 0+8 -> adjacent coverage MERGES
        (did(rows[4][1]), 0, 15, 16, 2),
    ])
    assert spans == expected


def _pagerank_py(edges, iters=15, scale=10**12):
    """Independent dict-based restatement of the integer recurrence."""
    edges = sorted(set(edges))
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    out = {v: 0 for v in nodes}
    for a, _ in edges:
        out[a] += 1
    n = len(nodes)
    base = (15 * scale) // (100 * n)
    r = {v: scale // n for v in nodes}
    for _ in range(iters):
        dang = sum(r[v] for v in nodes if out[v] == 0)
        inflow = {v: 0 for v in nodes}
        for a, b in edges:
            inflow[b] += r[a] // out[a]
        r = {v: base + (85 * (inflow[v] + dang // n)) // 100 for v in nodes}
    return r


def test_pagerank_matches_integer_reference(spark):
    """Hub > spoke ordering, dangling-mass handling, and bit-exact match
    with the independent Python fixed-point reference on a hand graph."""
    # hub h pointed at by 3 spokes; h -> t; t dangling; cycle c1<->c2
    edges = [
        ("s1", "h"), ("s2", "h"), ("s3", "h"), ("h", "t"),
        ("c1", "c2"), ("c2", "c1"),
        ("s1", "h"),  # duplicate directed pair: must collapse
    ]
    df = _triples(spark, edges)
    got = {r["name"]: r["pagerank"] for r in graph.pagerank(df).collect()}
    exp = _pagerank_py(edges)
    assert got == exp
    # rank sanity: the hub out-ranks its spokes; t inherits h's mass
    assert got["h"] > got["s1"] == got["s2"] == got["s3"]
    assert got["t"] > got["s1"]
    # total mass conserved up to integer floor loss
    assert 0 <= 10**12 - sum(got.values()) < 10**12 // 100


def test_simhash_profile_exact_recall_vs_naive(spark):
    """Manku pigeonhole banding must find EVERY pair at hamming <= 3 —
    compare the banded rollup against a driver-side naive all-pairs
    popcount over the same fingerprints (seeded random small-vocab corpus,
    which is dense in low-distance pairs)."""
    import random
    from collections import Counter

    rng = random.Random(13)
    texts = sorted(
        {
            " ".join(rng.choice(["a", "b", "c", "d", "e"])
                     for _ in range(rng.randrange(5, 30)))
            for _ in range(60)
        }
    )
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    fps = {r["kg_doc_id"]: r["simhash"]
           for r in textops.simhash(docs).collect()}
    ids = sorted(fps)
    naive = Counter()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            hd = bin(fps[a] ^ fps[b]).count("1")
            if hd <= 3:
                naive[hd] += 1
    got = {r["hamming_distance"]: r["n_pairs"]
           for r in textops.simhash_hamming_profile(docs).collect()}
    assert got == dict(naive) and sum(naive.values()) > 10


def test_retention_cohorts_hand_values(spark):
    import datetime as dt

    from kgspark import events as ev

    day = lambda k, u: (k * 10 + u, dt.datetime(2024, 1, 1 + k, 12), u, "view")  # noqa: E731
    rows = [
        day(0, 1), day(1, 1), day(3, 1), day(9, 1),  # u1: day9 past max_offset
        day(0, 2),                                    # u2: day0 only
        day(1, 3), day(2, 3),                         # u3: cohort day1
        (991, dt.datetime(2024, 1, 2, 13), 3, "click"),  # same-day 2nd event: distinct-day
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    got = sorted(
        (str(r["cohort_date"]), r["day_offset"], r["n_active"], r["n_users"],
         r["retention"])
        for r in ev.retention_cohorts(df).collect()
    )
    assert got == [
        ("2024-01-01", 0, 2, 2, 1.0),
        ("2024-01-01", 1, 1, 2, 0.5),
        ("2024-01-01", 3, 1, 2, 0.5),
        ("2024-01-02", 0, 1, 1, 1.0),
        ("2024-01-02", 1, 1, 1, 1.0),
    ]


def _hits_py(edges, iters=10, scale=10**6):
    """Independent dict-based restatement of the integer HITS recurrence."""
    edges = sorted({(x, y) for x, y in edges if x != y})
    nodes = sorted({x for x, _ in edges} | {y for _, y in edges})
    n = len(nodes)
    h = {v: scale // n for v in nodes}
    a = dict(h)
    for _ in range(iters):
        araw = {v: 0 for v in nodes}
        for u, v in edges:
            araw[v] += h[u]
        q = max(sum(araw.values()) // scale, 1)
        a = {v: araw[v] // q for v in nodes}
        hraw = {v: 0 for v in nodes}
        for u, v in edges:
            hraw[u] += a[v]
        q = max(sum(hraw.values()) // scale, 1)
        h = {v: hraw[v] // q for v in nodes}
    return {v: (h[v], a[v]) for v in nodes}


def test_hits_matches_integer_reference(spark):
    """Bit-exact vs the independent Python fixed-point reference; the
    many-pointed-at node tops authorities, the many-pointing node tops
    hubs; duplicate edges and self-loops collapse/drop."""
    edges = [
        ("s1", "m"), ("s2", "m"), ("s3", "m"),   # m: strong authority
        ("b", "t1"), ("b", "t2"), ("b", "t3"),   # b: strong hub
        ("b", "m"),
        ("b", "m"),                              # duplicate edge collapses
        ("m", "m"),                              # self-loop drops
    ]
    df = _triples(spark, edges)
    got = {r["name"]: (r["hub"], r["authority"])
           for r in graph.hits(df).collect()}
    assert got == _hits_py(edges)
    assert max(got, key=lambda v: got[v][1]) == "m"
    assert max(got, key=lambda v: got[v][0]) == "b"


def test_c4_line_clean_rules(spark):
    """Every C4 line rule on a hand-built page, and the cleaned-page sha."""
    import hashlib

    text = "\n".join(
        [
            "Untitled header no punct",          # dropped: no terminal punct
            "This line survives the filter.",    # kept
            "Too short.",                        # dropped: < 3 tokens
            "Enable JavaScript to continue.",    # dropped: javascript
            "Braces { are markup residue. }",    # dropped: brace
            "   ",                               # not a line (whitespace)
            'He said "stop right there!"',       # kept: quote terminal
            "Third keeper line, with a tail?",   # kept
        ]
    )
    df = spark.createDataFrame([("u1", text), ("u2", "")], ["url", "text"])
    got = {r["url"]: r for r in textops.c4_line_clean(df).collect()}
    r = got["u1"]
    assert r["n_lines"] == 7 and r["n_kept_lines"] == 3 and r["passes_c4"]
    kept = "\n".join(
        [
            "This line survives the filter.",
            'He said "stop right there!"',
            "Third keeper line, with a tail?",
        ]
    )
    assert r["cleaned_sha256"] == hashlib.sha256(kept.encode()).hexdigest()
    e = got["u2"]
    assert e["n_lines"] == 0 and not e["passes_c4"]
    assert e["cleaned_sha256"] == hashlib.sha256(b"").hexdigest()


def test_url_dedup_collapses_syntactic_variants(spark):
    """Every normalization rule on a hand-built frame: tracking params,
    fragment, www/case, default port, trailing slash, param order."""
    rows = [
        ("https://Example.test/a/1?utm_source=x&b=2&a=1#frag", "t1"),
        ("HTTPS://WWW.example.test:443/a/1/?a=1&b=2", "t1"),
        ("https://example.test/a/1?b=2&a=1&gclid=g", "t1"),
        ("http://example.test:80/a/1?a=1&b=2", "t1"),  # http != https scheme
        ("https://other.test/", "t2"),
        ("https://other.test", "t2"),
        ("https://other.test/x?id=1", "t3"),
    ]
    from kgspark import pipeline as pl

    df = spark.createDataFrame(rows, ["url", "text"])
    got = {r["norm_url"]: r for r in pl.url_dedup(df).collect()}
    assert set(got) == {
        "https://example.test/a/1?a=1&b=2",
        "http://example.test/a/1?a=1&b=2",
        "https://other.test",
        "https://other.test/x?id=1",
    }
    g = got["https://example.test/a/1?a=1&b=2"]
    assert g["n_pages"] == 3 and g["n_distinct_urls"] == 3
    assert g["canonical_url"] == "HTTPS://WWW.example.test:443/a/1/?a=1&b=2"
    assert g["n_distinct_texts"] == 1
    assert got["https://other.test"]["n_pages"] == 2


def test_pii_scan_counts_and_redaction(spark):
    """Counts, sequencing (no double-count across categories), and the
    redacted-text sha — expectation computed independently with Python
    ``re`` over the same sequential chain."""
    import hashlib
    import re as _re

    rows = [
        (0, "contact bob.smith+x@sub.example.co.uk or 555-123-4567 today"),
        (1, "ssn 123-45-6789 ip 10.0.255.1 phone 555.123.4567"),
        (2, "email-ish 123-456-7890@example.com trailing"),  # email, NOT phone
        (3, "v1.2.3.4 not-an-ip? and 999-99-9999"),  # \b blocks mid-word ip
        (4, "edge a@b.co 1.2.3.4.5 twice 1.2.3.4 9.9.9.9"),
        (5, "nothing personal here"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["kg_doc_id"]: r for r in textops.pii_scan(docs).collect()}
    assert len(got) == len(rows)
    for _, text in rows:
        t = text.strip()
        exp = {}
        for name, pat, repl in textops.PII_PATTERNS:
            exp[f"n_{name}"] = len(_re.findall(pat, t))
            t = _re.sub(pat, repl, t)
        r = got["doc-" + hashlib.sha256(text.strip().encode()).hexdigest()]
        for k, v in exp.items():
            assert r[k] == v, (text, k, r[k], v)
        assert r["has_pii"] == (sum(exp.values()) > 0)
        assert r["redacted_sha256"] == hashlib.sha256(t.encode()).hexdigest()
    # the email local part did not double-count as a phone (row 2)
    hit = got["doc-" + hashlib.sha256(rows[2][1].encode()).hexdigest()]
    assert hit["n_email"] == 1 and hit["n_phone"] == 0


def test_readability_hand_counts(spark):
    """Word/sentence/syllable proxies and both scores vs an independent
    Python fold over the same deterministic rules."""
    import hashlib
    import re as _re

    rows = [
        (0, "The cat sat. The dog ran!"),
        (1, "Incomprehensibility notwithstanding, equilibrium persists."),
        (2, "no terminators at all just words"),  # sentence floor = 1
        (3, "Rhythm myth gym."),  # y-as-vowel + 1-syllable floor on 'gym'? (has y)
        (4, "A.B.C? One!? Two..."),  # terminator RUNS, not chars
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["kg_doc_id"]: r for r in textops.readability(docs).collect()}
    assert len(got) == len(rows)
    for _, text in rows:
        words = _re.findall(r"[A-Za-z]+", text)
        n_s = max(1, len(_re.findall(r"[.!?]+", text)))
        syl = sum(
            max(1, len(_re.findall(r"[aeiouy]+", w.lower()))) for w in words
        )
        r = got["doc-" + hashlib.sha256(text.strip().encode()).hexdigest()]
        assert r["n_words"] == len(words)
        assert r["n_sentences"] == n_s
        assert r["n_syllables"] == syl
        wps = len(words) / n_s
        spw = syl / len(words)
        assert r["flesch_ease"] == round(206.835 - 1.015 * wps - 84.6 * spw, 6)
        assert r["fk_grade"] == round(0.39 * wps + 11.8 * spw - 15.59, 6)


def test_contamination_eval_wins_for_duplicate_content(spark):
    text = "a1 a2 a3 a4 a5 a6 a7 a8 a9"
    docs = spark.createDataFrame(
        [(0, text), (1, text), (2, "b1 b2 " + text)],
        ["doc_id", "text"],
    )
    got = {r["kg_doc_id"]: r for r in textops.contamination(docs).collect()}
    # the duplicated content (doc 0 eval + doc 1 train) resolves to EVAL, so
    # only doc 2 remains on the train side — and it is contaminated.
    assert len(got) == 1
    (only,) = got.values()
    assert only["contaminated"] and only["n_shared_grams"] == 2


def test_mixture_plan_hand_computed_weights(spark):
    """Micro-integer mixing arithmetic on a crafted corpus: downsample,
    upsample, and excluded-language branches all hand-checked."""
    from kgspark import textops

    rows = (
        [(i, "t", "en") for i in range(80)]
        + [(100 + i, "t", "zh") for i in range(10)]
        + [(200 + i, "t", "xx") for i in range(10)]  # not in targets
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        r["lang"]: (
            r["n_docs"], r["target_micro"], r["weight_micro"], r["expected_docs"]
        )
        for r in textops.mixture_plan(docs).collect()
    }
    # N=100.  en: target 0.5 over 80 docs -> weight 500000*100//80 = 625000
    # (downsample), expected 80*625000//1e6 = 50.
    assert got["en"] == (80, 500_000, 625_000, 50)
    # zh: target 0.15 over 10 docs -> weight 1500000 (1.5x upsample),
    # expected 15.
    assert got["zh"] == (10, 150_000, 1_500_000, 15)
    # xx: absent from targets -> excluded entirely.
    assert got["xx"] == (10, 0, 0, 0)


def test_anomaly_hours_spike_flag_hand_computed(spark):
    """Cross-multiplied spike rule on a crafted series: flat baseline, a
    4x spike hour, a first-hour (no baseline) non-spike, and a >24h-old
    hour correctly aged out of the RANGE frame."""
    import datetime as dt
    from kgspark import events as ev

    base = dt.datetime(2025, 6, 1, 0, 0, 0)
    rows = []
    eid = 0
    def emit(hour_offset, n, etype="click"):
        nonlocal eid
        for _ in range(n):
            rows.append((eid, base + dt.timedelta(hours=hour_offset), 1, etype, 0.0, "{}"))
            eid += 1
    emit(0, 2)    # baseline
    emit(1, 2)
    emit(2, 9)    # 9 * 2 > 3 * 4 -> spike
    emit(30, 5)   # >24h after hours 0-2: frame only sees hour 2 (within 24h?)
    # hour 30 trailing frame = hours in (30-24, 30) = (6, 29] -> empty -> not spike
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    got = {
        r["hour"]: (r["n_events"], r["trailing_hours"], r["trailing_sum"], r["spike"])
        for r in ev.anomaly_hours(df).collect()
    }
    assert got["2025-06-01 00:00:00"] == (2, 0, 0, False)   # no baseline
    assert got["2025-06-01 01:00:00"] == (2, 1, 2, False)
    assert got["2025-06-01 02:00:00"] == (9, 2, 4, True)    # 18 > 12
    assert got["2025-06-02 06:00:00"] == (5, 0, 0, False)   # frame aged out


def test_pack_plan_is_a_contiguous_packing(spark):
    """Structural invariants of concat-and-chunk: offsets tile the token
    stream with no gaps or overlaps, window placement arithmetic holds,
    and duplicate contents pack once."""
    from kgspark import textops

    rows = [(i, f"w{i} " * (i + 1), "en") for i in range(25)]
    rows.append((99, "w0 ", "en"))  # duplicate content of doc 0 (trim-equal)
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = sorted(
        (r["start_offset"], r["n_tokens"], r["start_seq"], r["end_seq"],
         r["offset_in_seq"], r["kg_doc_id"])
        for r in textops.pack_plan(docs, ctx=16).collect()
    )
    assert len(out) == 25  # dup packed once
    pos = 0
    for start, n, sseq, eseq, off, _doc in out:
        assert start == pos  # contiguous, no gaps/overlaps
        assert sseq == start // 16 and eseq == (start + n - 1) // 16
        assert off == start % 16 and 0 <= off < 16
        pos += n
    assert pos == sum(i + 1 for i in range(25))  # total token mass


def test_pack_apply_materializes_the_plan(spark):
    """The materialized windows realize pack_plan exactly: every sequence
    except the corpus tail is full (ctx tokens), the global token stream
    reassembled from seq_texts in seq_id order equals the per-doc token
    streams laid out in plan order, and duplicates pack once."""
    from kgspark import textops

    rows = [(i, f"w{i} " * (i + 1), "en") for i in range(25)]
    rows.append((99, "w0 ", "en"))  # duplicate content of doc 0
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    plan = sorted(
        (r["start_offset"], r["kg_doc_id"])
        for r in textops.pack_plan(docs, ctx=16).collect()
    )
    doc_toks = {
        r["kg_doc_id"]: r["text"].split()
        for r in docs.selectExpr(
            "concat('doc-', sha2(trim(text), 256)) AS kg_doc_id",
            "trim(text) AS text",
        ).collect()
    }
    expect_stream = [t for _start, d in plan for t in doc_toks[d]]

    out = sorted(
        (r["seq_id"], r["n_filled"], r["seq_text"])
        for r in textops.pack_apply(docs, ctx=16).collect()
    )
    total = len(expect_stream)
    assert [s for s, _n, _t in out] == list(range((total + 15) // 16))
    got_stream = []
    for seq_id, n_filled, seq_text in out:
        toks = seq_text.split(" ")
        assert len(toks) == n_filled
        assert n_filled == (16 if seq_id < out[-1][0] else total - 16 * seq_id)
        got_stream.extend(toks)
    assert got_stream == expect_stream


def test_mixture_apply_realizes_the_plan(spark):
    """The materialized sample repeats rows per the plan's weights:
    whole-copy floor for everyone, +1 for the deterministic remainder
    fraction, weight-0 languages dropped, and the realized total lands
    within one rounding unit per row of the expected mix."""
    from kgspark import textops

    rows = (
        [(i, "t", "en") for i in range(80)]
        + [(100 + i, "t", "zh") for i in range(10)]
        + [(200 + i, "t", "xx") for i in range(10)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = textops.mixture_apply(docs).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault((r["doc_id"], r["lang"]), []).append(r["copy_idx"])
    langs = {lang for _d, lang in by_doc}
    assert "xx" not in langs  # weight 0 -> dropped
    for (_d, lang), idxs in by_doc.items():
        n = len(idxs)
        assert sorted(idxs) == list(range(n))  # copy_idx dense from 0
        # en weight 625000 -> 0 or 1 copies; zh weight 1500000 -> 1 or 2
        assert n in ({1, 2} if lang == "zh" else {1})
        # en has remainder 625000/1e6: some docs drop (n=0 -> absent)
    n_en = sum(1 for (_d, lang) in by_doc if lang == "en")
    assert 0 < n_en < 80  # a strict subset survived the 0.625 rate
    n_zh = sum(len(v) for (_d, lang), v in by_doc.items() if lang == "zh")
    assert 10 <= n_zh <= 20  # between 1x and 2x copies
    # determinism
    out2 = textops.mixture_apply(docs).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_anomaly_hours_rejects_sub_hour_windows(spark):
    import pytest
    from kgspark import events as ev

    df = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    for bad in (1800, 0, 4000):
        with pytest.raises(ValueError, match="multiple of 3600"):
            ev.anomaly_hours(df, window_s=bad)


def test_transitions_markov_rollup_hand_computed(spark):
    """Transition counts + integer row-normalized probabilities on a
    crafted two-user stream, including the cross-user boundary (no pair
    spans users) and the ts/event_id total order."""
    import datetime as dt
    from kgspark import events as ev

    b = dt.datetime(2025, 6, 1)
    rows = [
        # user 1: click -> view -> click -> buy
        (1, b, 1, "click", 0.0, "{}"),
        (2, b + dt.timedelta(minutes=1), 1, "view", 0.0, "{}"),
        (3, b + dt.timedelta(minutes=2), 1, "click", 0.0, "{}"),
        (4, b + dt.timedelta(minutes=3), 1, "buy", 0.0, "{}"),
        # user 2: view -> click  (no pair crosses into user 1)
        (5, b, 2, "view", 0.0, "{}"),
        (6, b + dt.timedelta(minutes=1), 2, "click", 0.0, "{}"),
        # equal-ts tie within user 2 ordered by event_id: click -> buy
        (7, b + dt.timedelta(minutes=1), 2, "buy", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    got = {
        (r["from_type"], r["to_type"]): (r["n_transitions"], r["n_from"], r["p_micro"])
        for r in ev.transitions(df).collect()
    }
    # from click: ->view (1), ->buy (2: user1 click->buy, user2 click->buy)
    assert got[("click", "view")] == (1, 3, 333_333)
    assert got[("click", "buy")] == (2, 3, 666_666)
    assert got[("view", "click")] == (2, 2, 1_000_000)
    assert sum(n for (f, _t2), (n, _nf, _p) in got.items() if f == "view") == 2
    assert len(got) == 3


def test_rolling_active_dau_wau_hand_computed(spark):
    """DAU/WAU/stickiness on a crafted three-day corpus: within-day
    duplicate events dedup, the 7-day window includes day-6 (d3 activity
    still counts at d9) and excludes day-8 (d1 activity gone by d9), and
    the stickiness ratio is the integer micro quotient."""
    import datetime as dt
    from kgspark import events as ev

    def at(day, h=12):
        return dt.datetime(2025, 6, day, h)

    rows = [
        (1, at(1), 1, "view", 0.0, "{}"),
        (2, at(1, 13), 1, "view", 0.0, "{}"),   # same user+day: dedup
        (3, at(1), 2, "view", 0.0, "{}"),
        (4, at(3), 1, "view", 0.0, "{}"),
        (5, at(9), 1, "view", 0.0, "{}"),
        (6, at(9), 3, "view", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {
        r["day"]: (r["dau"], r["wau"], r["stickiness_micro"])
        for r in ev.rolling_active(df).collect()
    }
    # d1: dau {1,2}; wau = same.  d3: dau {1}; wau {1,2} (d1 within 7).
    # d9: dau {1,3}; wau {1,3} — u1's d3 row is exactly day-6 (included),
    # u2's d1 row is day-8 (excluded).
    assert got == {
        "2025-06-01": (2, 2, 1_000_000),
        "2025-06-03": (1, 2, 500_000),
        "2025-06-09": (2, 2, 1_000_000),
    }


def test_containment_catches_quote_jaccard_misses(spark):
    """A 5-token quote embedded verbatim in a 20-token document: Jaccard is
    3/18 (below any near-dup threshold) but containment of the short side
    is exactly 1.0 — the asymmetric relation the operator exists for."""
    from kgspark import textops

    long_text = " ".join(f"t{i}" for i in range(1, 21))
    quote = "t5 t6 t7 t8 t9"
    docs = spark.createDataFrame(
        [(1, long_text), (2, quote)], ["doc_id", "text"]
    )
    rows = textops.containment_pairs(docs).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_shared"] == 3
    assert {r["a_in_b_micro"], r["b_in_a_micro"]} == {1_000_000, 166_666}


def test_containment_df_cap_prunes_stop_shingles(spark):
    """With max_df=1 the one shared shingle (df=2) leaves the intersection
    universe and the pair disappears; at the default cap the pair scores
    exactly the 500000 threshold boundary (1 shared of 2 shingles) and is
    kept (>= comparison)."""
    from kgspark import textops

    docs = spark.createDataFrame(
        [(1, "x y z w"), (2, "x y z q")], ["doc_id", "text"]
    )
    assert textops.containment_pairs(docs, max_df=1).count() == 0
    rows = textops.containment_pairs(docs).collect()
    assert len(rows) == 1
    assert rows[0]["a_in_b_micro"] == rows[0]["b_in_a_micro"] == 500_000


def test_bm25_topk_hand_values_and_length_normalization(spark):
    """Two docs with the SAME tf of one query term: the shorter doc must
    score higher (b=0.75 length normalization), and the score matches a
    hand-computed Okapi value.  Query derivation picks the >=5-char terms
    by df: 'common' (df=3) then padding terms by term asc."""
    import math

    docs = spark.createDataFrame(
        [
            (1, "common alpha"),
            (2, "common beta gamma delta epsilon zeta eta theta"),
            (3, "common other words here"),
        ],
        ["doc_id", "text"],
    )
    out = textops.bm25_topk(docs, k=3, n_query_terms=1).collect()
    assert [r["rank"] for r in out] == [1, 2, 3]
    # all three docs contain the single query term 'common'
    assert all(r["n_hit_terms"] == 1 for r in out)
    n, df = 3, 3
    idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
    avgdl = (2 + 8 + 4) / 3
    def s(dl):
        return round(idf * (1 * 2.2) / (1 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6)
    # shorter doc first: dl=2 > dl=4 > dl=8
    assert [r["bm25"] for r in out] == sorted([s(2), s(4), s(8)], reverse=True)
    assert out[0]["bm25"] == s(2)


def test_bm25_topk_matches_bruteforce(spark):
    """Fixed-seed random corpus vs an independent driver-side BM25: the
    full top-k row set (rank, id, hits, score) must agree exactly."""
    import math
    import random
    from collections import Counter

    rng = random.Random(77)
    vocab = ["aardvark", "bengal", "cormorant", "dugong", "eland",
             "fossa", "gx", "hq", "jay", "kea"]
    texts = [
        " ".join(rng.choices(vocab, k=rng.randint(3, 20))) for _ in range(40)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = [
        (r["rank"], r["kg_doc_id"], r["n_hit_terms"], r["bm25"])
        for r in textops.bm25_topk(docs).collect()
    ]
    # independent restatement
    toks = [t.split() for t in texts]
    dfc = Counter(w for ts in toks for w in set(ts))
    qt = sorted(
        (t for t in dfc if len(t) >= 5),
        key=lambda t: (-dfc[t], t),
    )[:5]
    n = len(texts)
    avgdl = sum(len(ts) for ts in toks) / n
    rows = []
    for i, ts in enumerate(toks):
        c = Counter(ts)
        hits = [t for t in qt if c[t] > 0]
        if not hits:
            continue
        score = sum(
            math.log(1 + (n - dfc[t] + 0.5) / (dfc[t] + 0.5))
            * (c[t] * 2.2) / (c[t] + 1.2 * (0.25 + 0.75 * len(ts) / avgdl))
            for t in hits
        )
        rows.append((ids_sha(texts[i]), len(hits), round(score, 6)))
    rows.sort(key=lambda r: (-r[2], r[0]))
    expect = [(k + 1, *r) for k, r in enumerate(rows[:10])]
    assert got == expect


def ids_sha(text):
    import hashlib

    return "doc-" + hashlib.sha256(text.strip().encode()).hexdigest()


def test_host_link_graph_resolution_rules(spark):
    """Hand-built page: absolute links take their own (normalized) host,
    root-relative links take the page host, fragments/mailto/javascript
    drop, and www./case noise collapses to one host."""
    from kgspark import pipeline as pl

    html = (
        '<html><body>'
        '<a class="x" href="https://WWW.Other.test/a">1</a>'
        '<a href="https://other.test/b">2</a>'
        '<a href="/local/page">3</a>'
        '<a href="#frag">4</a>'
        '<a href="mailto:x@y.test">5</a>'
        '<a href="javascript:void(0)">6</a>'
        "</body></html>"
    ).encode("utf-8")
    df = spark.createDataFrame(
        [("https://www.me.test/p/1", html)], "url string, html binary"
    )
    got = {
        (r["src_host"], r["dst_host"]): (r["n_links"], r["n_pages"], r["is_external"])
        for r in pl.host_link_graph(df).collect()
    }
    assert got == {
        ("me.test", "other.test"): (2, 1, True),
        ("me.test", "me.test"): (1, 1, False),
    }


def test_host_link_graph_counts_distinct_pages(spark):
    """n_links counts anchors, n_pages counts distinct linking pages."""
    from kgspark import pipeline as pl

    a = '<a href="https://t.test/x">l</a>'
    rows = [
        ("https://s.test/1", (a + a).encode()),
        ("https://s.test/2", a.encode()),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    [r] = pl.host_link_graph(df).collect()
    assert (r["src_host"], r["dst_host"]) == ("s.test", "t.test")
    assert (r["n_links"], r["n_pages"], r["is_external"]) == (3, 2, True)


def test_anchor_entities_links_and_drops(spark):
    """Hand-built page: entity-alias anchor texts link (case/spacing
    normalized), boilerplate anchor texts drop, non-link hrefs drop."""
    from kgspark import pipeline as pl

    html = (
        "<html><body>"
        '<a href="https://t.test/1">IBM</a>'
        '<a href="https://t.test/2"> international business machines </a>'
        '<a href="/local">ACME CORPORATION</a>'
        '<a href="https://t.test/3">click here</a>'
        '<a href="mailto:x@y.test">IBM</a>'
        "</body></html>"
    ).encode("utf-8")
    df = spark.createDataFrame(
        [("https://www.me.test/p", html)], "url string, html binary"
    )
    got = {
        (r["entity_name"], r["dst_host"]): (r["n_links"], r["n_pages"])
        for r in pl.anchor_entities(df).collect()
    }
    assert got == {
        ("IBM", "t.test"): (2, 1),
        ("Acme Corp", "me.test"): (1, 1),
    }


def test_boilerplate_strip_boundaries(spark):
    """Every planted decision boundary in the host-pages fixture: site-wide
    nav/footer strips, the 30% ratio gate rejects a 2-of-7 line, the n>=2
    floor rejects a single-page promo, within-page repetition is never
    boilerplate, host scoping protects cross-host shared lines, a page
    can strip to empty (sha of ''), and a whitespace-only page counts
    toward its host's page total."""
    import hashlib

    from kgspark import datagen, textops

    out = {
        r["url"]: r
        for r in textops.boilerplate_strip(datagen.host_pages(spark)).collect()
    }
    # a.test/p0: nav + "A story 0 begins." + "A twice line" + body + footer
    r = out["https://a.test/p0"]
    assert r["n_lines"] == 5 and r["n_boiler_lines"] == 2  # nav + footer only
    assert r["cleaned_sha256"] == hashlib.sha256(
        "A story 0 begins.\nA twice line\nAlpha body 0.".encode()
    ).hexdigest()
    # b.test/p2 keeps its one-off promo, loses the 3-of-5 nav
    r = out["https://b.test/p2"]
    assert r["n_boiler_lines"] == 1
    assert r["cleaned_sha256"] == hashlib.sha256(
        "B headline 2.\nOne-off promo banner".encode()
    ).hexdigest()
    # c.test/p2 strips to EMPTY (3-of-3 shared footer)
    r = out["https://c.test/p2"]
    assert r["n_lines"] == 1 and r["n_boiler_lines"] == 1
    assert r["cleaned_sha256"] == hashlib.sha256(b"").hexdigest()
    # c.test/p0: the 2-of-3 promo line sits AT the n>=2 floor -> boiler,
    # alongside the 3-of-3 footer
    r = out["https://c.test/p0"]
    assert r["n_lines"] == 3 and r["n_boiler_lines"] == 2
    assert r["cleaned_sha256"] == hashlib.sha256(b"C article 0.").hexdigest()
    # whitespace-only page still emits a row: the empty rewrite, not absence
    r = out["https://e.test/p0"]
    assert r["n_lines"] == 0 and r["n_boiler_lines"] == 0
    assert r["cleaned_sha256"] == hashlib.sha256(b"").hexdigest()
    # d.test: within-page repetition, single page — nothing strips
    r = out["https://d.test/p0"]
    assert r["n_boiler_lines"] == 0 and r["n_lines"] == 3
    # cross-host shared line survives on both hosts
    for u in ("https://a.test/x", "https://b.test/x"):
        assert out[u]["n_boiler_lines"] == 0, u
    # f.test: the spaces-only page counts toward the host's pages, so the
    # 2-of-7 sidebar stays (it would strip at 2-of-6)
    r = out["https://f.test/p0"]
    assert r["n_lines"] == 2 and r["n_boiler_lines"] == 0
    assert r["cleaned_sha256"] == hashlib.sha256(b"F post 0.\nF sidebar").hexdigest()


def test_keyphrases_hub_word_ranks_first(spark):
    """A hub word adjacent to many distinct words must outrank leaf words;
    short words and stoplist words never appear as candidates."""
    docs = spark.createDataFrame(
        [
            (0, "engine alpha engine beta engine gamma engine delta"),
            (1, "alpha this beta is it engine omega"),  # stop/short words drop
            (2, "solo"),  # single kept token -> contributes no edges
        ],
        ["doc_id", "text"],
    )
    out = textops.keyphrases(docs, k=10).collect()
    words = [r["word"] for r in out]
    assert words[0] == "engine"
    assert "this" not in words and "is" not in words and "it" not in words
    assert "solo" not in words  # never entered the graph
    ranks = [r["pagerank"] for r in out]
    assert ranks == sorted(ranks, reverse=True)
