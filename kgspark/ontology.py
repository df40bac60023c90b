"""Per-predicate domain/range validation over extracted triples.

The reference constrains entity TYPES at extraction time behind a strict
JSON schema (reference: runtime/src/ai/schemas.rs:4-75) but has no
post-extraction typing check on the (subj, pred, obj) edges it emits
(pipeline/pipeline.rs:375-381 builds relations from any adjacent mention
pair).  A production KG-construction pipeline wants that check as a
first-class operator: grade every triple against a per-predicate
domain/range ontology (kgspark.spec.WEB_ONTOLOGY) so ill-typed edges are
quarantinable before graph materialization.

Scale shape (100 TB): the triples table is the big side and never moves —
the entity-type dimension (one row per distinct entity name; bounded by the
closed vocabulary) and the ontology rule table (tens of rows) are broadcast,
so the whole validation is a map-side pipeline over the triple scan with
ZERO shuffles.  Everything is pure Catalyst (no Python), so it inlines into
whole-stage codegen around the joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kgspark import spec
from kgspark.session import LineageScope


def validate(triples: DataFrame, entities: DataFrame) -> DataFrame:
    """Annotate each (subj, pred, obj, doc_id) triple with subject/object
    entity types and an ontology-conformance status.

    status grading (domain and range are independent checks):
      * ``ok``                — (pred, subj_type) allowed AND (pred, obj_type) allowed
      * ``domain``            — subject type not allowed for the predicate
      * ``range``             — object type not allowed for the predicate
      * ``domain+range``      — both violated
      * ``unknown_predicate`` — predicate absent from the ontology

    The entity-type dimension is made UNIQUE per name (first-wins
    ``min(entity_type)`` — the repo's deterministic-merge discipline)
    before joining: extraction types are per-mention, so a surface form
    typed differently in different documents would otherwise fan each
    triple out into several rows with contradictory statuses (and inflate
    the conformance rollup).  Each input triple annotates exactly once.
    """
    spark = triples.sparkSession
    types = entities.groupBy("entity_name").agg(
        F.min("entity_type").alias("entity_type")
    )
    dom = spark.createDataFrame(
        spec.web_ontology_domain_rows(), schema="pred string, subj_type string"
    ).withColumn("domain_ok", F.lit(True))
    rng = spark.createDataFrame(
        spec.web_ontology_range_rows(), schema="pred string, obj_type string"
    ).withColumn("range_ok", F.lit(True))
    known = sorted(spec.WEB_ONTOLOGY)

    out = (
        triples
        .join(
            F.broadcast(
                types.select(
                    F.col("entity_name").alias("subj"),
                    F.col("entity_type").alias("subj_type"),
                )
            ),
            "subj",
        )
        .join(
            F.broadcast(
                types.select(
                    F.col("entity_name").alias("obj"),
                    F.col("entity_type").alias("obj_type"),
                )
            ),
            "obj",
        )
        .join(F.broadcast(dom), ["pred", "subj_type"], "left")
        .join(F.broadcast(rng), ["pred", "obj_type"], "left")
    )
    status = (
        F.when(~F.col("pred").isin(known), F.lit("unknown_predicate"))
        .when(
            F.col("domain_ok").isNotNull() & F.col("range_ok").isNotNull(),
            F.lit("ok"),
        )
        .when(
            F.col("domain_ok").isNull() & F.col("range_ok").isNull(),
            F.lit("domain+range"),
        )
        .when(F.col("domain_ok").isNull(), F.lit("domain"))
        .otherwise(F.lit("range"))
    )
    return out.select(
        "subj", "pred", "obj", "doc_id", "subj_type", "obj_type",
        status.alias("status"),
    )


def functional_violations(triples: DataFrame) -> DataFrame:
    """Cardinality-constraint check: subjects asserting >=2 distinct objects
    under a functional predicate (spec.FUNCTIONAL_PREDICATES — OWL
    FunctionalProperty semantics).

    Output: (pred, subj, n_objects, objects) with objects a sorted
    comma-joined list — deterministic regardless of partition order.

    Scale shape: predicate filter prunes the scan to the functional slice,
    then ONE hash aggregate on (pred, subj) — collect_set is bounded by the
    per-subject distinct-object count (the quantity being policed, so tiny
    in healthy data and worth surfacing when it isn't).  Never doc x doc.
    """
    return (
        triples
        .filter(F.col("pred").isin(list(spec.FUNCTIONAL_PREDICATES)))
        .groupBy("pred", "subj")
        .agg(
            F.size(F.collect_set("obj")).cast("long").alias("n_objects"),
            F.array_join(F.array_sort(F.collect_set("obj")), ",")
            .alias("objects"),
        )
        .filter(F.col("n_objects") > 1)
    )


def predicate_stats(triples: DataFrame) -> DataFrame:
    """Per-predicate cardinality profile — the ontology-MINING complement
    of :func:`functional_violations` (which POLICES a declared list): from
    the data alone, classify every predicate's subject→object mapping as
    1:1 / 1:N / N:1 / M:N and measure its symmetry, so a curator learns
    which predicates behave functionally before declaring constraints.

    Per predicate over the distinct (subj, obj) pair set: triple/endpoint
    counts, max fan-out (objects per subject) and fan-in, the cardinality
    class, and symmetry — pairs asserted in BOTH directions, with
    ``symmetry_micro`` = 2·sym_pairs·1e6 DIV directed_pairs (integer,
    engine-exact; 1e6 means perfectly symmetric).

    Scale shape: everything folds through (pred, subj) / (pred, obj) hash
    aggregates with map-side partials; the symmetry self-join keys on the
    full (pred, pair) — candidate volume is the predicate's own pair
    count, never corpus².  Output is O(predicates) rows.
    """
    t = triples.select("pred", "subj", "obj").distinct()
    base = t.groupBy("pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_triples"),
        F.countDistinct("subj").cast("long").alias("n_subjects"),
        F.countDistinct("obj").cast("long").alias("n_objects"),
    )
    fo = (
        t.groupBy("pred", "subj")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("pred")
        .agg(F.max("n").cast("long").alias("max_fanout"))
    )
    fi = (
        t.groupBy("pred", "obj")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("pred")
        .agg(F.max("n").cast("long").alias("max_fanin"))
    )
    pr = t.filter(F.col("subj") != F.col("obj"))
    np_ = pr.groupBy("pred").agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    sym = (
        pr.alias("x")
        .join(
            pr.alias("y"),
            (F.col("x.pred") == F.col("y.pred"))
            & (F.col("x.subj") == F.col("y.obj"))
            & (F.col("x.obj") == F.col("y.subj"))
            & (F.col("x.subj") < F.col("x.obj")),
        )
        .groupBy(F.col("x.pred").alias("pred"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_sym"))
    )
    out = (
        base.join(fo, "pred")
        .join(fi, "pred")
        .join(np_, "pred", "left")
        .join(sym, "pred", "left")
        .select(
            "pred",
            "n_triples",
            "n_subjects",
            "n_objects",
            "max_fanout",
            "max_fanin",
            F.when(
                (F.col("max_fanout") == 1) & (F.col("max_fanin") == 1), "1:1"
            )
            .when(F.col("max_fanin") == 1, "1:N")
            .when(F.col("max_fanout") == 1, "N:1")
            .otherwise("M:N")
            .alias("cardinality"),
            F.coalesce("n_sym", F.lit(0)).cast("long").alias(
                "n_symmetric_pairs"
            ),
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("_np"),
        )
        .withColumn(
            "symmetry_micro",
            F.when(
                F.col("_np") > 0,
                F.expr(
                    "CAST(2 * n_symmetric_pairs * 1000000 DIV _np AS BIGINT)"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .drop("_np")
    )
    return out


# Rule mining bounds: candidate predicates are the RULE_TOP_PREDS most
# frequent (deterministic tiebreak: count desc, pred asc) — the AMIE-style
# frequency prune that keeps the two-hop body join off the long predicate
# tail; rules below RULE_MIN_SUPPORT matched head pairs are noise.
RULE_TOP_PREDS = 20
RULE_MIN_SUPPORT = 2
RULE_APPLY_MIN_CONF_MICRO = 500_000


def _pruned_triples(triples: DataFrame, top_preds: int) -> DataFrame:
    """Distinct non-self-loop triples restricted to the ``top_preds`` most
    frequent predicates (deterministic tiebreak: count desc, pred asc)."""
    t = (
        triples.select("subj", "pred", "obj")
        .filter(F.col("subj") != F.col("obj"))
        .distinct()
    )
    top = (
        t.groupBy("pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("pred"))
        .limit(top_preds)
        .select("pred")
    )
    return t.join(F.broadcast(top), "pred")


def _body_pairs(tp: DataFrame) -> DataFrame:
    """Distinct (body_p, body_q, a, c): endpoints of 2-hop paths
    a──body_p──b──body_q──c over the pruned triple set (a ≠ c)."""
    return (
        tp.alias("x")
        .join(tp.alias("y"), F.col("x.obj") == F.col("y.subj"))
        .filter(F.col("x.subj") != F.col("y.obj"))
        .select(
            F.col("x.pred").alias("body_p"),
            F.col("y.pred").alias("body_q"),
            F.col("x.subj").alias("a"),
            F.col("y.obj").alias("c"),
        )
        .distinct()
    )


def _rules(
    ls: LineageScope, triples: DataFrame, top_preds: int, min_support: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The mined rule frame both rule operators derive, plus what they read
    again: (heads, body, rules).  ``heads`` is the pruned store as
    (a, head_r, c), ``body`` the held :func:`_body_pairs` frame (computed
    once, read by every consumer), and ``rules`` one row per (body_p,
    body_q, head_r) with support ≥ ``min_support``: support, body_pairs and
    confidence_micro."""
    tp = ls.hold(_pruned_triples(triples, top_preds))
    heads = tp.select(
        F.col("subj").alias("a"), F.col("pred").alias("head_r"), F.col("obj").alias("c")
    )
    body = ls.hold(_body_pairs(tp))
    body_pairs = body.groupBy("body_p", "body_q").agg(
        F.count(F.lit(1)).cast("long").alias("body_pairs")
    )
    matched = (
        body.join(heads, ["a", "c"])
        .groupBy("body_p", "body_q", "head_r")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= min_support)
    )
    rules = matched.join(body_pairs, ["body_p", "body_q"]).select(
        "body_p",
        "body_q",
        "head_r",
        "support",
        "body_pairs",
        F.expr("CAST(support * 1000000 DIV body_pairs AS BIGINT)").alias(
            "confidence_micro"
        ),
    )
    return heads, body, rules


def rule_mining(
    triples: DataFrame,
    top_preds: int = RULE_TOP_PREDS,
    min_support: int = RULE_MIN_SUPPORT,
) -> DataFrame:
    """AMIE-style 2-hop Horn-rule mining (Galárraga et al. 2013, the
    closed-rule core): for predicate triples (p, q, r), how often does the
    body path a──p──b──q──c coincide with the head fact a──r──c?
    ``support`` counts distinct (a, c) pairs satisfying BOTH, ``body_pairs``
    counts distinct pairs satisfying the body, and ``confidence_micro`` is
    their integer micro ratio — the standard confidence, engine-exact.

    The body join keys on the shared middle entity; counting DISTINCT
    (a, c) per (p, q) keeps multiple connecting b's from inflating support
    (the AMIE pair-support definition).  Predicates are pruned to the
    ``top_preds`` most frequent before any join — the frequency prune real
    miners use, and the reason the two-hop candidate volume is bounded by
    the head of the predicate distribution instead of corpus².  At 100 TB
    the same plan holds: one frequency aggregate, one broadcast of the
    tiny predicate list, a middle-entity-keyed self-join, two hash
    aggregates.
    """
    with LineageScope() as ls:
        return ls.result(_rules(ls, triples, top_preds, min_support)[2])


def rule_apply(
    triples: DataFrame,
    top_preds: int = RULE_TOP_PREDS,
    min_support: int = RULE_MIN_SUPPORT,
    min_conf_micro: int = RULE_APPLY_MIN_CONF_MICRO,
) -> DataFrame:
    """KG completion by rule application — the prediction half of
    :func:`rule_mining`: every (a, c) pair satisfying a qualifying rule's
    body (support ≥ ``min_support``, confidence ≥ ``min_conf_micro``)
    whose head fact a──r──c is NOT in the store becomes a predicted
    fact, attributed to its best rule (highest confidence; ties broken
    by greatest (body_p, body_q) — deterministic either way).

    Output: (subj, pred, obj, confidence_micro, body_p, body_q), one row
    per predicted fact.  A perfectly-confident rule (1e6) predicts
    nothing by construction — every body pair already has the head.

    Scale shape: the rules frame is O(top_preds³)-bounded and broadcast;
    candidates are body pairs × qualifying rules, anti-joined against the
    store on the full (subj, pred, obj) key, then one max-struct fold per
    predicted fact.  The store-side anti-join is the only corpus-keyed
    shuffle beyond the body join rule_mining already pays.
    """
    with LineageScope() as ls:
        heads, body, rules = _rules(ls, triples, top_preds, min_support)
        rules = rules.filter(F.col("confidence_micro") >= min_conf_micro).select(
            "body_p", "body_q", "head_r", "confidence_micro"
        )
        missing = body.join(F.broadcast(rules), ["body_p", "body_q"]).join(
            heads, ["a", "head_r", "c"], "left_anti"
        )
        best = F.max(F.struct("confidence_micro", "body_p", "body_q")).alias("best")
        return ls.result(
            missing.groupBy("a", "head_r", "c")
            .agg(best)
            .select(
                F.col("a").alias("subj"),
                F.col("head_r").alias("pred"),
                F.col("c").alias("obj"),
                F.col("best.confidence_micro").alias("confidence_micro"),
                F.col("best.body_p").alias("body_p"),
                F.col("best.body_q").alias("body_q"),
            )
        )


def triple_support(triples: DataFrame) -> DataFrame:
    """Knowledge-fusion support rollup: how many distinct documents assert
    each (subj, pred, obj) edge, plus the lexicographically-first asserting
    doc as provenance anchor.  Run over CANONICAL triples so alias surface
    forms pool their evidence — the confidence signal a fusion stage ranks
    by (Dong et al., Knowledge Vault: multi-source support as the prior).

    Scale shape: one hash aggregate on the (subj, pred, obj) key with
    map-side partial aggregation; no joins, no collect.
    """
    return triples.groupBy("subj", "pred", "obj").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.min("doc_id").alias("first_doc_id"),
    )


def current_facts(triples: DataFrame, docs: DataFrame) -> DataFrame:
    """Temporal fact resolution: for each (subj, functional-predicate) pair,
    the CURRENT value is the object asserted by the crawl-latest document
    (max warc_ts; ties broken by doc_id then obj — a total, deterministic
    order).  This is the point-in-time twin of
    :func:`functional_violations`: where that op FLAGS multi-valued
    subjects, this one RESOLVES them the way a temporal KG serves reads
    ("latest assertion wins", the crawl-refresh semantics of a
    Common-Crawl-style corpus).

    Output: (subj, pred, obj, asserted_at, doc_id); asserted_at formatted
    'yyyy-MM-dd HH:mm:ss' under the session's pinned UTC so the string is
    timezone-free on both engines.

    Scale shape: predicate-pruned triple scan joined to the (doc_id,
    warc_ts) projection of docs on the doc key, then ONE max-of-struct hash
    aggregate on (subj, pred) — Spark's struct ordering does the argmax
    with map-side partial aggregation, no window, no global sort.
    """
    td = (
        triples
        .filter(F.col("pred").isin(list(spec.FUNCTIONAL_PREDICATES)))
        .join(docs.select("doc_id", "warc_ts"), "doc_id")
    )
    return (
        td.groupBy("subj", "pred")
        .agg(F.max(F.struct("warc_ts", "doc_id", "obj")).alias("w"))
        .select(
            "subj",
            "pred",
            F.col("w.obj").alias("obj"),
            F.date_format("w.warc_ts", "yyyy-MM-dd HH:mm:ss")
            .alias("asserted_at"),
            F.col("w.doc_id").alias("doc_id"),
        )
    )


def negative_samples(triples: DataFrame) -> DataFrame:
    """Deterministic negative sampling for KG-embedding training (TransE
    et al. corrupt-object protocol): for each true triple, propose the
    entity at index sha256(subj:pred:obj:salt) mod |entities| of the
    name-sorted entity dictionary as a corrupted object, then FILTER the
    proposals that collide with a true triple (or with the true object) —
    "filtered" negative sampling in the KG-embedding sense.  Fully
    deterministic: same corpus -> same negatives, no RNG state.

    Output: (subj, pred, obj, neg_obj).  Triples whose single probe
    collided are dropped (bounded loss ~|triples per (subj,pred)| /
    |entities|; a trainer wanting exact 1:1 re-probes with a second salt).

    Scale shape: the entity dictionary gets a dense index via one
    row_number window — a DIM-side global sort (the dictionary is orders of
    magnitude smaller than the triple fact table; at 10^12 docs it is the
    canonical-name table, still dim-sized).  The fact side takes one hash
    projection, an equi-join on the index against the broadcast dictionary,
    and one anti-join against the true triple set.  No n x m enumeration.
    """
    spark = triples.sparkSession
    names = (
        triples.select(F.col("subj").alias("name"))
        .union(triples.select(F.col("obj").alias("name")))
        .distinct()
    )
    from pyspark.sql import Window

    dim = names.withColumn(
        "idx",
        F.row_number().over(Window.orderBy("name")).cast("long") - 1,
    )
    m = dim.count()
    t = triples.select("subj", "pred", "obj").distinct()
    probed = t.withColumn(
        "idx",
        F.conv(
            F.substring(
                F.sha2(
                    F.concat_ws(":", "subj", "pred", "obj", F.lit(spec.NEG_SAMPLE_SALT)),
                    256,
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % F.lit(m),
    )
    cand = (
        probed.join(F.broadcast(dim), "idx")
        .select("subj", "pred", "obj", F.col("name").alias("neg_obj"))
        .filter(F.col("neg_obj") != F.col("obj"))
    )
    true_pairs = t.select(
        F.col("subj").alias("subj"),
        F.col("pred").alias("pred"),
        F.col("obj").alias("neg_obj"),
    )
    return cand.join(true_pairs, ["subj", "pred", "neg_obj"], "left_anti").select(
        "subj", "pred", "obj", "neg_obj"
    )


def temporal_triples(triples: DataFrame, docs: DataFrame) -> DataFrame:
    """Triple validity intervals: for each (subj, pred, obj), the crawl
    window over which it was asserted — (first_seen, last_seen) from the
    asserting documents' warc_ts plus the distinct-doc assertion count.
    The temporal axis of :func:`triple_support`: fusion consumers weight
    by support, temporal consumers filter by interval ("what did the KG
    believe during June").  Timestamps emit as UTC-pinned strings
    (timezone-free on both engines, the current_facts discipline).

    Scale shape: one doc-key join + ONE hash aggregate on the triple key
    with map-side partials; no windows, no collect.
    """
    td = triples.join(docs.select("doc_id", "warc_ts"), "doc_id")
    return td.groupBy("subj", "pred", "obj").agg(
        F.date_format(F.min("warc_ts"), "yyyy-MM-dd HH:mm:ss")
        .alias("first_seen"),
        F.date_format(F.max("warc_ts"), "yyyy-MM-dd HH:mm:ss")
        .alias("last_seen"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


LIFT_MICRO = 10**6


def entity_cooccurrence(entities: DataFrame) -> DataFrame:
    """Pairwise entity association across documents: for each unordered
    name pair co-occurring in >=2 documents, the observed/expected LIFT in
    scaled integer form — ``lift_micro = ((n_ab * 1e6) div n_a) * N div
    n_b`` (monotone-in-expectation transform of PMI: lift > 1e6 ⇔ PMI > 0
    — and pure int64, so unlike ln-based PMI there is no float-rounding
    boundary anywhere).  The product is staged QUOTIENT-FIRST (the
    pagerank/hits discipline): ``n_ab <= n_a`` bounds the first factor by
    1e6, so the second product stays under 1e6·N — int64-safe to a
    trillion documents, where the naive ``n_ab * N * 1e6`` overflows.
    The staged floor costs <=1 micro per stage; both engines stage
    identically.  The association-strength
    signal a KG-construction pipeline uses to weight candidate edges
    beyond raw adjacency.

    Scale shape: per-doc distinct names (one hash aggregate), pair
    generation by a doc-keyed self-join (fan-out Σ e_d² over per-doc
    entity counts — bounded by doc length, never corpus²), one pair
    aggregate, then a broadcast join against the dim-sized per-name doc
    counts.  The ≥2-doc floor keeps the output to recurring pairs.
    """
    de = entities.select(
        F.col("doc_id"), F.col("entity_name").alias("name")
    ).distinct()
    n_total = de.select("doc_id").distinct().count()
    per_name = de.groupBy("name").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    lhs = de.select("doc_id", F.col("name").alias("a"))
    rhs = de.select("doc_id", F.col("name").alias("b"))
    pairs = (
        lhs.join(rhs, "doc_id")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
    )
    return (
        pairs.join(
            F.broadcast(
                per_name.select(F.col("name").alias("a"), F.col("n_docs").alias("n_a"))
            ),
            "a",
        )
        .join(
            F.broadcast(
                per_name.select(F.col("name").alias("b"), F.col("n_docs").alias("n_b"))
            ),
            "b",
        )
        .select(
            "a",
            "b",
            "n_ab",
            "n_a",
            "n_b",
            F.expr(
                f"CAST(((n_ab * {LIFT_MICRO}) DIV n_a) * {n_total}"
                f" DIV n_b AS BIGINT)"
            ).alias("lift_micro"),
        )
    )


def conformance_rollup(checked: DataFrame) -> DataFrame:
    """Per-predicate conformance counts over a ``validate`` output —
    the QA dashboard row: one partial-aggregate shuffle on the (tiny)
    predicate key."""
    return (
        checked.groupBy("pred")
        .agg(
            F.count("*").alias("n_triples"),
            F.sum((F.col("status") == "ok").cast("long")).alias("n_ok"),
            F.sum(F.col("status").isin("domain", "domain+range").cast("long"))
            .alias("n_domain_violations"),
            F.sum(F.col("status").isin("range", "domain+range").cast("long"))
            .alias("n_range_violations"),
        )
    )
