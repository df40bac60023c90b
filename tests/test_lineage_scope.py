"""Release gate for persisted frames, and the planning policy of loops.
Each iterative operator runs in one ``session.LineageScope``, so after a
call only the frame it returned stays persisted, and that frame still reads
back (its blocks were not released with the per-round cuts).  A
``materialize.run_pipeline`` batch leaves nothing persisted, and outside
``session.py`` and ``cache.py`` no module persists, cuts or releases a frame
itself.  The loop operators run in a ``session.LoopScope``: without AQE,
with the caller's setting back afterwards, and with the same rows as under
AQE; their convergence counts ride the cut (``ls.cut(df, observe=...)``),
which equals ``count()`` on both checkpoint paths."""

from __future__ import annotations

import ast
import pathlib
import re

import pytest

from pyspark.sql import functions as F

from kgspark import canon, datagen, graph, materialize, ontology, pipeline
from kgspark.session import LineageScope, LoopScope

AQE = "spark.sql.adaptive.enabled"

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


# the operators that iterate in a LoopScope; the rule operators do not
LOOP_OPERATORS = sorted(set(OPERATORS) - {"rule_mining", "rule_apply"})


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


def _path(spark):
    return spark.createDataFrame(
        [(f"p{i}", "r", f"p{i + 1}", "d") for i in range(8)],
        ["subj", "pred", "obj", "doc_id"],
    )


def test_operator_that_raises_releases_everything(spark):
    """kcore's convergence check raises after the result is cut: the
    result goes with the rest."""
    path = _path(spark)
    before = _persistent(spark)
    with pytest.raises(ValueError, match="did not converge"):
        graph.kcore(path, iters=1, assert_converged=True)
    assert _persistent(spark) - before == set()


def _entries(monkeypatch) -> list[str]:
    """Record the AQE setting inside every LoopScope entered from now on."""
    seen = []
    enter = LoopScope.__enter__

    def spy(self):
        out = enter(self)
        seen.append(self._spark.conf.get(AQE))
        return out

    monkeypatch.setattr(LoopScope, "__enter__", spy)
    return seen


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_loop_operators_match_their_rows_under_aqe(spark, monkeypatch, name):
    """The loop operators, and only they, run their rounds in a LoopScope
    with AQE off; forcing AQE on in the same scopes gives the same rows."""
    seen = _entries(monkeypatch)
    rows = sorted(map(repr, OPERATORS[name](spark).collect()))
    assert (bool(seen) and set(seen) == {"false"}) == (name in LOOP_OPERATORS)
    monkeypatch.setattr(LoopScope, "LOOP_CONFS", {AQE: "true"})
    seen.clear()
    assert sorted(map(repr, OPERATORS[name](spark).collect())) == rows
    assert set(seen) <= {"true"}


@pytest.mark.parametrize("before", ["true", "false"])
def test_loop_scope_restores_planning_policy(spark, monkeypatch, before):
    """After a normal exit, kcore's non-convergence raise and a nested
    scope, AQE is what it was on entry, also for a caller (such as
    test_skew) that had it off already."""
    conf = spark.conf
    saved = conf.get(AQE)
    conf.set(AQE, before)
    try:
        with LoopScope(spark):
            assert conf.get(AQE) == "false"
        assert conf.get(AQE) == before

        graph.pagerank(_triples(spark)).collect()
        assert conf.get(AQE) == before

        with pytest.raises(ValueError, match="did not converge"):
            graph.kcore(_path(spark), iters=1, assert_converged=True)
        assert conf.get(AQE) == before

        # graph.components' scope holds canon.connected_components' scope:
        # the inner exit gives the outer scope back its "false"
        inner_exit = []
        cc = canon.connected_components

        def spy(pairs, **kw):
            out = cc(pairs, **kw)
            inner_exit.append(conf.get(AQE))
            return out

        monkeypatch.setattr(canon, "connected_components", spy)
        graph.components(_triples(spark)).collect()
        assert inner_exit == ["false"]
        assert conf.get(AQE) == before
    finally:
        conf.set(AQE, saved)


def _jobs(spark, group: str, action) -> tuple[int, object]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


@pytest.mark.parametrize("path", ["local", "reliable"])
def test_counting_cut_equals_count(spark, tmp_path, path):
    """``cut(df, observe=agg)`` returns ``agg`` over the cut rows from the
    checkpoint job itself: equal to ``count()``, and no job more than the
    plain cut, on the local and on the reliable checkpoint path."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    if path == "reliable":
        sc.setCheckpointDir(str(tmp_path / "ckpt"))
    df = (
        spark.range(5000)
        .filter(F.col("id") % 3 != 0)
        .groupBy((F.col("id") % 101).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    try:
        with LineageScope() as ls:
            n_plain, _ = _jobs(spark, f"plain-{path}", lambda: ls.cut(df))
            agg = F.struct(F.count(F.lit(1)).alias("n"), F.sum("n").alias("total"))
            n_obs, (cut, value) = _jobs(
                spark, f"observed-{path}", lambda: ls.cut(df, observe=agg)
            )
            assert n_obs == n_plain
            assert (value["n"], value["total"]) == (df.count(), 3333)
            assert cut.count() == df.count()
            _, empty = ls.cut(df.filter("k < 0"), observe=F.count(F.lit(1)))
            assert empty == 0
        if path == "reliable":
            files = [p for p in (tmp_path / "ckpt").rglob("*") if p.is_file()]
            assert files, "expected RDD checkpoint files under the checkpoint dir"
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))
    assert sc.getCheckpointDir() is None


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


def test_only_the_session_sets_adaptive_confs():
    """Planning policy has one owner: no other module names an AQE conf."""
    found = [
        f"{path.name}:{node.lineno}"
        for path in sorted(pathlib.Path(canon.__file__).parent.glob("*.py"))
        if path.name != "session.py"
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and node.value.startswith("spark.sql.adaptive.")
    ]
    assert found == []


def test_loops_have_no_probe_count():
    """A convergence or emptiness check in the graph and canon loops rides
    the round's cut; no ``.limit(1).count()`` probe job is left."""
    pkg = pathlib.Path(canon.__file__).parent
    found = [
        f"{name}:{node.lineno}"
        for name in ("graph.py", "canon.py")
        for node in ast.walk(ast.parse((pkg / name).read_text(), name))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "count"
        and isinstance(node.func.value, ast.Call)
        and isinstance(node.func.value.func, ast.Attribute)
        and node.func.value.func.attr == "limit"
    ]
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
