"""Release gate for persisted frames.  Each iterative operator runs in one
``session.LineageScope``, so after a call only the frame it returned stays
persisted, and that frame still reads back (its blocks were not released
with the per-round cuts).  A ``materialize.run_pipeline`` batch leaves
nothing persisted, and outside ``session.py`` and ``cache.py`` no module
persists, cuts or releases a frame itself."""

from __future__ import annotations

import ast
import pathlib
import re

import pytest

from kgspark import canon, datagen, graph, materialize, ontology, pipeline

# two blocks joined by one bridge plus a chain: every operator iterates
# more than once and returns a non-empty frame
_EDGES = [
    ("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"),
    ("e", "f"), ("f", "d"), ("f", "g"), ("g", "h"), ("h", "i"),
]
_PREDS = ["parent_of", "parent_of", "grand", "knows", "parent_of"]


def _triples(spark):
    rows = [
        (s, _PREDS[i % len(_PREDS)], o, f"doc{i % 3}")
        for i, (s, o) in enumerate(_EDGES)
    ]
    rows += [
        (s, p, o, "doc9")
        for s, p, o in [("a", "parent_of", "x"), ("x", "parent_of", "y"),
                        ("a", "grand", "y"), ("b", "parent_of", "x2"),
                        ("x2", "parent_of", "y2")]
    ]
    return spark.createDataFrame(rows, ["subj", "pred", "obj", "doc_id"])


def _bfs(spark):
    kinds = {"a": "Symptom", "e": "Symptom", "i": "Disease", "d": "Disease"}
    names = sorted({n for e in _EDGES for n in e})
    v = spark.createDataFrame(
        [(n, n, kinds.get(n, "Mechanism"), n, "doc") for n in names],
        "id string, name string, entity_type string, description string, doc_id string",
    )
    e = spark.createDataFrame(
        [(f"r{k}", s, d, f"{s}->{d}", "doc") for k, (s, d) in enumerate(_EDGES)],
        "id string, src string, dst string, description string, doc_id string",
    )
    return graph.bfs_paths(v, e, max_depth=6)


OPERATORS = {
    "bfs_paths": _bfs,
    "lpa_communities": lambda s: graph.lpa_communities(_triples(s)),
    "harmonic_closeness": lambda s: graph.harmonic_closeness(_triples(s)),
    "stress_centrality": lambda s: graph.stress_centrality(_triples(s)),
    "kcore": lambda s: graph.kcore(_triples(s), assert_converged=True),
    "personalized_pagerank": lambda s: graph.personalized_pagerank(_triples(s)),
    "weighted_shortest_paths": lambda s: graph.weighted_shortest_paths(_triples(s)),
    "hits": lambda s: graph.hits(_triples(s)),
    "pagerank": lambda s: graph.pagerank(_triples(s)),
    "components": lambda s: graph.components(_triples(s)),
    "canon.connected_components": lambda s: canon.connected_components(
        s.createDataFrame(_EDGES, ["name_a", "name_b"])
    ),
    "redirect_resolve": lambda s: pipeline.redirect_resolve(
        s.createDataFrame(
            [("u1", "u2"), ("u2", "u3"), ("u3", "u4"), ("u5", "u6"), ("u6", "u5")],
            ["src_url", "dst_url"],
        )
    ),
    "rule_mining": lambda s: ontology.rule_mining(_triples(s), min_support=1),
    "rule_apply": lambda s: ontology.rule_apply(
        _triples(s), min_support=1, min_conf_micro=1
    ),
}


def _persistent(spark) -> set[int]:
    """Ids of the persistent RDDs.  Compared as sets, not sizes: the
    ContextCleaner may free an earlier test's leftovers mid-call, which
    would hide new ones from a size difference."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_operator_leaves_only_its_result_persisted(spark, name):
    before = _persistent(spark)
    out = OPERATORS[name](spark)
    rows = sorted(map(repr, out.collect()))
    assert rows, "the fixture must give every operator a non-empty result"
    assert len(_persistent(spark) - before) <= 1
    # the result's own blocks survived the release of everything else
    assert sorted(map(repr, out.collect())) == rows


def test_operator_that_raises_releases_everything(spark):
    """kcore's convergence check raises after the result is cut: the
    result goes with the rest."""
    path = spark.createDataFrame(
        [(f"p{i}", "r", f"p{i + 1}", "d") for i in range(8)],
        ["subj", "pred", "obj", "doc_id"],
    )
    before = _persistent(spark)
    with pytest.raises(ValueError, match="did not converge"):
        graph.kcore(path, iters=1, assert_converged=True)
    assert _persistent(spark) - before == set()


# calls that persist, cut or release a frame; only the two owners make them
_RELEASE_ATTRS = {"persist", "unpersist", "cache", "checkpoint", "localCheckpoint"}
_OWNERS = {"session.py", "cache.py"}


def test_only_the_scope_and_the_cache_persist_or_release():
    found = []
    for path in sorted(pathlib.Path(canon.__file__).parent.glob("*.py")):
        if path.name in _OWNERS:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
            if name == "truncate_lineage" or (
                isinstance(f, ast.Attribute) and name in _RELEASE_ATTRS
            ):
                found.append(f"{path.name}:{node.lineno} {name}")
    assert found == []


def test_run_pipeline_batches_leave_nothing_persisted(spark, tmp_path):
    """A cold batch, an incremental near-dup batch with new names, and a
    batch that fails at the digest gate each leave no new persistent RDD."""
    rows = datagen.web_pages_rows(60, 42)
    wh = materialize.Warehouse(spark, str(tmp_path / "wh"))

    def batch(pages, run_id, **kw):
        before = _persistent(spark)
        try:
            return materialize.run_pipeline(
                spark, spark.createDataFrame(pages, datagen.SCHEMA), wh, run_id, **kw
            )
        finally:
            leaked = _persistent(spark) - before
            assert leaked == set(), f"{run_id} left {len(leaked)} persisted"

    cold = batch(rows[:6], "r1")
    assert cold["stages"]["canonical_map"]["incremental"] is False
    inc = batch(rows[:40], "r2", neardup=True)
    assert inc["processed_docs"] > 0
    assert inc["stages"]["canonical_map"]["incremental"] is True
    assert inc["stages"]["canonical_map"]["n_new_names"] > 0

    url, ts, html, text, lang = rows[40]
    tampered = [(url, ts, html, text + " tampered", lang)] + rows[41:]
    gate = f"digest violation for url={re.escape(url)}$"
    with pytest.raises(AssertionError, match=gate):
        batch(tampered, "r3", check_digest=True)
