"""Physical-plan shape gates: the properties that make queries scale.

Correctness gates (oracle parity) prove WHAT each query computes; these
prove HOW — the structural invariants that keep the same plan viable at
100x the data.  Each assertion encodes a reviewed property of the current
plans, so a refactor that silently de-optimizes (a lost broadcast, a
Python UDF dropping out of Arrow batching, a join degenerating to a
cartesian product) fails here instead of surfacing as a bench regression
three rounds later.
"""

from __future__ import annotations

import importlib.util
import os

import pytest

from .conftest import REPO_ROOT, SF_UNIT

_spec = importlib.util.spec_from_file_location(
    "__spark_entry__", os.path.join(REPO_ROOT, "__spark_entry__.py")
)
entry_mod = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(entry_mod)

QUERIES = entry_mod.queries()


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_UNIT)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_cartesian_product_or_rowwise_python(spark, name):
    """Two structural invariants over EVERY registered query:

    * no CartesianProduct — every join has a usable equi-condition (the
      one intentional tiny cross join, the 1-row median threshold in the
      salted-join gate, is a BroadcastNestedLoopJoin over one row and is
      allowed);
    * no BatchEvalPython — Python only ever enters a plan Arrow-batched
      (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas), never as a
      row-at-a-time UDF.
    """
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"


def test_pagination_is_top_k_not_global_sort(spark):
    """docs_paginated must compile to TakeOrderedAndProject (bounded top-k
    per partition + merge), never a global Sort+Exchange of the whole
    table — the difference between O(page) and O(corpus) memory at scale
    (reference pagination: storage/json_doc_status.rs:301-355)."""
    plan = _plan(spark, "docs_paginated")
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan, "global sort leaked into pagination"


def test_entity_linking_broadcasts_the_alias_side(spark):
    """kg_entity_links joins a corpus-scale entity frame against a small
    alias dictionary: the dictionary side must broadcast (zero shuffle of
    the big side), never sort-merge."""
    plan = _plan(spark, "kg_entity_links")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_lsh_dedup_scans_text_once(spark):
    """dedup_jaccard_pairs shares ONE minhash/shingle computation between
    the candidate join and the verify join (the r1 triple-recompute bug):
    the persisted signatures frame appears as an InMemoryTableScan and the
    raw documents table is scanned at most once inside it."""
    plan = _plan(spark, "dedup_jaccard_pairs")
    assert "InMemoryTableScan" in plan, "shared signature frame not persisted"


def test_exact_dedup_aggregates_without_python(spark):
    """Exact dedup is pure Catalyst (hash groupBy on the content digest):
    no Python evaluation node of any kind belongs in its plan."""
    plan = _plan(spark, "dedup_exact")
    for node in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas", "BatchEvalPython"):
        assert node not in plan, f"dedup_exact: unexpected {node}"
    assert "HashAggregate" in plan


@pytest.mark.parametrize(
    "name",
    ["text_pii_scan", "web_c4_clean", "text_readability", "web_text_density"],
)
def test_curation_scrubs_are_pure_catalyst_zero_shuffle(spark, name):
    """text_pii_scan (regex count+redact chain), web_c4_clean (line-rule
    HOF filter), and text_readability (regexp projections + array fold)
    are narrow per-row projections: the whole transformation must ride
    whole-stage codegen — no Python node of any kind and no Exchange
    (zero shuffle) belong in their plans."""
    plan = _plan(spark, name)
    for node in (
        "ArrowEvalPython",
        "MapInPandas",
        "FlatMapGroupsInPandas",
        "BatchEvalPython",
    ):
        assert node not in plan, f"{name}: unexpected {node}"
    assert "Exchange" not in plan, f"{name}: unexpected shuffle"


def test_url_dedup_is_aggregate_only(spark):
    """web_url_dedup is a narrow codegen normalization + the standard
    multi-count-distinct aggregation (Expand + two exchanges, the second
    reading already-collapsed (key, value) rows): no Python node, and
    never more than the two aggregation shuffles."""
    plan = _plan(spark, "web_url_dedup")
    for node in (
        "ArrowEvalPython",
        "MapInPandas",
        "FlatMapGroupsInPandas",
        "BatchEvalPython",
    ):
        assert node not in plan, f"web_url_dedup: unexpected {node}"
    assert "Expand" in plan, "multi-distinct Expand shape expected"
    assert plan.count("Exchange hashpartitioning") == 2, "expected two shuffles"


def test_time_travel_prunes_partitions(spark, tmp_path):
    """read_as_of filters on the hive partition key: the excluded run's
    files must be absent from the scan's partition list (pruned at
    planning), not filtered row-by-row at runtime."""
    from kgspark import datagen, materialize

    wh = materialize.Warehouse(spark, str(tmp_path / "wh"))
    materialize.run_pipeline(spark, datagen.web_pages(spark, 30, 42), wh, run_id="p1")
    materialize.run_pipeline(spark, datagen.web_pages(spark, 60, 42), wh, run_id="p2")
    plan = (
        wh.read_as_of("triples", "p1")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "run_id=p2" not in plan


def test_quality_scoring_no_row_python(spark):
    """text_quality must never evaluate row-at-a-time Python
    (BatchEvalPython).  Vectorized Arrow nodes ARE allowed — VERDICT r3
    item 3 re-scoped this gate: the original no-Arrow form pinned an
    implementation choice, blocking the measured 4.4x Arrow-kernel win
    (2.20s -> 0.50s best-of-3 at sf0.1, round-4 bake-off)."""
    plan = _plan(spark, "text_quality")
    assert "BatchEvalPython" not in plan, "text_quality: row-at-a-time Python"
    # the kernel keeps exactly one Arrow stage over the pruned (id, text) pair
    assert plan.count("MapInPandas") <= 1


def test_containment_pins_broadcast_prune_and_shared_postings(spark):
    """dedup_containment_pairs must (a) broadcast the df-bounded rare-shingle
    set into the posting prune (never shuffle the posting list to drop
    stop-shingles) and (b) self-join a PERSISTED pruned-postings frame so
    both sides read one materialized pass — left to the planner's
    discretion, exchange reuse sometimes lapsed and the measured sf0.1 wall
    was bimodal (4s vs 18s)."""
    plan = _plan(spark, "dedup_containment_pairs")
    assert "BroadcastHashJoin" in plan, "rare-shingle prune not broadcast"
    assert "InMemoryTableScan" in plan, "pruned postings not persisted"
