"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG triple-extraction chain on sf0.001.
``queries()`` exposes every implemented operator (SURVEY.md §2) as a
``(spark, sf_dir) -> DataFrame`` callable; ``oracle_sql()`` carries the
independent DuckDB restatement of each operator's semantics (kgspark.oracles).
Column names and integer/double types are aligned pairwise — the driver's
compare sorts columns by name and hashes values (:func:`value_lines`).

Both come from one table, :data:`REGISTER`: one row per query with its
build function, its tier (``driver`` rows are the ones the driver
evaluates) and whether ``bench.py`` times it.  Most build functions are an
operator applied to a named source (:func:`_op`); only the multi-statement
ones are written out as functions.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from kgspark import (  # noqa: E402
    bpe,
    bpe_oracle,
    canon,
    chunking,
    datagen,
    datagen_media,
    events,
    extraction,
    graph,
    html_extract,
    linking,
    materialize,
    media_oracles,
    multimodal,
    ontology,
    oracles,
    pipeline,
    sketches,
    skew,
    spec,
    textops,
    vec_oracles,
    vecops,
    warc,
    web_oracles,
)
from kgspark import ids as kgids  # noqa: E402

QueryFn = Callable[[SparkSession, str], DataFrame]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full web_pages → triples construction chain (north rule):
    HTML→text extraction, dedup, sentence chunking, UDF triple extraction,
    name-resolution fold — on the deterministic synthetic web corpus."""
    web = datagen.web_pages(spark, web_oracles.WEB_N, web_oracles.WEB_SEED)
    return pipeline.build(web)["triples"]


# --------------------------------------------------------------- sources
#
# A source is a QueryFn like any query: ``(spark, sf_dir) -> DataFrame``.
# Fixtures and the web build are seeded and fixed-size, so they ignore
# ``sf_dir``; scan-scale behaviour of those operators is bench.py's job.

def _table(name: str) -> QueryFn:
    return lambda spark, sf_dir: spark.read.parquet(
        os.path.join(sf_dir, f"{name}.parquet")
    )


def _op(fn: Callable[..., DataFrame], *srcs: QueryFn, **kw) -> QueryFn:
    """``fn`` over the frames its sources build, plus constant kwargs."""
    return lambda spark, sf_dir: fn(*(s(spark, sf_dir) for s in srcs), **kw)


def _fixture(gen: Callable[..., DataFrame], *args) -> QueryFn:
    return lambda spark, sf_dir: gen(spark, *args)


def _pick(src: QueryFn, *exprs: str) -> QueryFn:
    """Projection of a source to column names or SQL expressions."""
    return lambda spark, sf_dir: src(spark, sf_dir).selectExpr(*exprs)


_WEB_BUILT_CACHE: dict[str, dict[str, DataFrame]] = {}


def _web_built(spark: SparkSession) -> dict[str, DataFrame]:
    # memoized per SparkSession: every web_* query reuses ONE persisted
    # extraction instead of re-building (and re-caching) the chain per call.
    key = spark.sparkContext.applicationId
    if key not in _WEB_BUILT_CACHE:
        _WEB_BUILT_CACHE.clear()
        web = datagen.web_pages(spark, web_oracles.WEB_N, web_oracles.WEB_SEED)
        _WEB_BUILT_CACHE[key] = pipeline.build(web)
    return _WEB_BUILT_CACHE[key]


def _built(part: str) -> QueryFn:
    return lambda spark, sf_dir: _web_built(spark)[part]


def _cmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return canon.canonical_map(spark, _web_built(spark)["entities"])


def _canon_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return canon.canonical_triples(_web_built(spark)["triples"], _cmap(spark, sf_dir))


DOCS, EVENTS, EMB = _table("documents"), _table("events"), _table("embeddings")
TRIPLES = _op(extraction.triples, DOCS)
WEB = _fixture(datagen.web_pages, web_oracles.WEB_N, web_oracles.WEB_SEED)
MEDIA = _fixture(
    datagen_media.media_files, media_oracles.MEDIA_N, media_oracles.MEDIA_SEED
)
LINK_PAGES = _fixture(datagen.crawl_link_pages)
URL_VARIANTS = _fixture(datagen.crawl_url_variants)
WARC = _fixture(datagen.warc_files)
STATUS = _op(materialize.doc_status, _built("docs"), _built("chunks"), run_id="q")
VALIDATED = _op(ontology.validate, _built("triples"), _built("entities"))


# ------------------------------------------- multi-statement build functions

def _q_kg_doc_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = DOCS(spark, sf_dir)
    return d.filter(F.length(F.trim("text")) > 0).select(
        kgids.doc_id(F.trim("text")).alias("kg_doc_id"),
        F.sha2(F.trim("text"), 256).alias("text_sha256"),
        F.col("doc_id").alias("src_key"),
        "lang",
        F.length("text").cast("long").alias("n_chars"),
    )


def _q_kg_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = extraction.mentions(DOCS(spark, sf_dir))
    return m.withColumn("pos", F.col("pos").cast("long"))


def _q_kg_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = extraction.entities(DOCS(spark, sf_dir))
    return e.withColumn("first_pos", F.col("first_pos").cast("long"))


def _q_kg_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = extraction.relations(DOCS(spark, sf_dir))
    return r.drop("relationship_keywords").withColumn(
        "first_pos", F.col("first_pos").cast("long")
    )


def _q_entity_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity counts per type over both corpora in one ``src``-tagged frame:
    the documents-table extraction and the web-pipeline entities."""
    def counts(ents: DataFrame, src: str) -> DataFrame:
        return (
            ents.groupBy(F.lower("entity_type").alias("entity_type"))
            .agg(F.count(F.lit(1)).alias("n_entities"))
            .select(F.lit(src).alias("src"), "entity_type", "n_entities")
        )

    kg = counts(extraction.entities(DOCS(spark, sf_dir)), "documents")
    return kg.unionByName(counts(_web_built(spark)["entities"], "web"))


def _q_kg_entity_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = extraction.entities(DOCS(spark, sf_dir))
    out = linking.link_entities(e, linking.alias_dictionary(spark))
    return out.select(
        "entity_id", "entity_name", "entity_type", "doc_id",
        "canonical_name", "canonical_id", "linked",
    )


def _q_kg_chunks_delim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 (utils.rs:65-101): delimiter pre-split + re-window of oversized
    pieces, global emission-order chunk_order_index."""
    d = DOCS(spark, sf_dir)
    base = d.filter(F.length(F.trim("text")) > 0).select(
        kgids.doc_id(F.trim("text")).alias("doc_id"),
        F.trim("text").alias("text"),
    )
    return chunking.delimiter_chunks(
        base,
        delimiter=spec.DELIM_CHUNK_DELIMITER,
        max_tokens=spec.DELIM_CHUNK_MAX_TOKENS,
        overlap=spec.DELIM_CHUNK_OVERLAP,
    )


def _q_status_lang_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 (json_doc_status.rs:251-265) + the documents-table lang rollup
    in one tagged frame: per-status counts with the ALL total over the web
    pipeline's doc_status, unioned with ROLLUP(lang) over documents."""
    sc = materialize.status_counts(STATUS(spark, sf_dir)).select(
        F.lit("status").alias("src"), F.col("status").alias("label"), "n_docs"
    )
    lr = (
        DOCS(spark, sf_dir)
        .rollup("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            F.lit("lang").alias("src"),
            F.coalesce("lang", F.lit("ALL")).alias("label"),
            "n_docs",
        )
    )
    return sc.unionByName(lr)


def _q_docs_paginated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 full parity (json_doc_status.rs:301-355): two sort fields, both
    directions, page-size clamp exercised (5→10, 300→200).  The documents
    table has no timestamps, so the whitelist maps id→doc_id and
    file_path→source (lowercased per :131-137)."""
    d = DOCS(spark, sf_dir)
    fmap = {"id": "doc_id", "file_path": "source",
            "created_at": "doc_id", "updated_at": "doc_id"}
    proj = ["doc_id", "source", "n_chars", "row_num"]
    a = materialize.docs_paginated(
        d, page=2, page_size=5, sort_field="id", descending=False, field_map=fmap
    ).select(F.lit("by_id_asc_p2").alias("page_spec"), *proj)
    b = materialize.docs_paginated(
        d, page=1, page_size=300, sort_field="file_path", descending=True,
        field_map=fmap,
    ).select(F.lit("by_path_desc_p1").alias("page_spec"), *proj)
    return a.unionByName(b)


def _q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = EVENTS(spark, sf_dir)
    return e.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def _q_events_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-handling surface: deterministic salted join (hot keys spread
    over n_salts reducers, cold keys joined plainly) must produce EXACTLY
    the plain inner join — the oracle is that plain join."""
    e = EVENTS(spark, sf_dir).select("event_id", "event_type", "value")
    dim = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_type_events")
    )
    # median count as the hot threshold: roughly half the types take the
    # salted path and half the plain path at ANY scale factor, so BOTH
    # branches of the two-path union are live in the value gate (a fixed
    # threshold degenerates to all-hot or all-cold as sf changes).  The
    # median is computed as an aggregate and joined in — no driver collect
    # anywhere in the gate, same as the operator itself.
    med = dim.agg(
        F.percentile_approx("n_type_events", 0.5, 1_000_000).alias("_thr")
    )
    hot = (
        dim.join(F.broadcast(med))
        .filter(F.col("n_type_events") > F.col("_thr"))
        .select("event_type")
    )
    out = skew.salted_join(e, dim, "event_type", hot=hot, n_salts=8)
    return out.select("event_id", "event_type", "value", "n_type_events")


def _ann(fn: Callable[..., DataFrame], **kw) -> QueryFn:
    """Top-5 neighbours of the first 10 embeddings under ``fn``."""
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        emb = EMB(spark, sf_dir)
        out = fn(emb, emb.filter(F.col("vec_id") < 10), k=5, **kw)
        return out.withColumn("rank", F.col("rank").cast("long"))

    return build


def _q_web_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL learned-BPE token counts (F12): corpus-trained merge table,
    greedy lowest-rank application in an Arrow kernel; the oracle replays
    the merge list in training order (provably-equivalent independent
    formulation)."""
    _, merges = bpe_oracle.corpus_and_merges()
    nonempty = WEB(spark, sf_dir).filter(F.length(F.trim("text")) > 0)
    return (
        bpe.bpe_token_counts(nonempty, merges, text_col="text", id_col="url")
        .withColumnRenamed("doc_key", "url")
    )


def _q_dedup_embedding_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-floor gate for the LSH dedup path on PLANTED near-duplicates
    (the shared embeddings table has no pairs above cosine ~0.5, so recall
    there is vacuous).  One row: true pairs >= 0.9, LSH-found pairs, recall.
    Oracle: independent driver-side imperative restatement
    (kgspark.vec_oracles)."""
    emb = datagen.planted_embeddings(spark)
    exact = vecops.cosine_pairs(emb, threshold=0.9)
    lsh = vecops.cosine_pairs_lsh(emb, dim=64, threshold=0.9)
    hit = lsh.select("vec_a", "vec_b").withColumn("hit", F.lit(1))
    return exact.join(hit, ["vec_a", "vec_b"], "left").agg(
        F.count(F.lit(1)).cast("long").alias("n_true_pairs"),
        F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_found"),
        F.round(
            F.coalesce(F.sum("hit"), F.lit(0)) / F.count(F.lit(1)), 6
        ).alias("recall"),
    )


def _q_web_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7: both-direction neighbors of every Symptom entity in the web KG."""
    b = _web_built(spark)
    v, e = graph.vertices(b["entities"]), graph.edges(b["relations"])
    starts = v.filter(F.lower("entity_type") == "symptom").select("id")
    return graph.neighbors(e, starts, direction="both")


def _q_graph_bfs_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4: Symptom→Disease BFS over the web KG (iterative joins); checked
    against an independent driver-side level-synchronous BFS oracle."""
    b = _web_built(spark)
    p = graph.graph_search(b["entities"], b["relations"])
    return p.select(
        "start", F.concat_ws("->", "path").alias("path_str"),
        F.col("depth").cast("long").alias("depth"),
    )


def _q_graph_render_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5: rendered llm-friendly path strings; VALUES-oracled (J4 edge pick
    mirrored driver-side)."""
    b = _web_built(spark)
    v, e = graph.vertices(b["entities"]), graph.edges(b["relations"])
    p = graph.bfs_paths(v, e)
    return graph.render_paths(p, v, e).select(
        "start", "rendered", F.col("depth").cast("long").alias("depth")
    )


def _q_web_host_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer fixed-point PageRank COMPOSED over the hyperlink host graph:
    host_link_graph edges feed the same bit-exact loop the corpus name
    graph uses — the web-scale host-authority table."""
    g = pipeline.host_link_graph(LINK_PAGES(spark, sf_dir))
    tri = g.select(
        F.col("src_host").alias("subj"), F.col("dst_host").alias("obj")
    )
    return graph.pagerank(tri).select(F.col("name").alias("host"), "pagerank")


def _q_warc_charset_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-charset normalization through the container: mixed-charset
    crawl fixture → pure-Catalyst transcode (ISO-8859-1 / UTF-16 family →
    UTF-8) → extraction; the windows-1252 page passes through and reports
    a per-doc UTF-8 error instead of mojibake."""
    pages = warc.transcode_pages(
        warc.warc_records(datagen.warc_files_charset(spark))
    )
    return html_extract.extract_stage(pages).select(
        "url",
        "charset",
        "charset_source",
        "transcode_status",
        F.col("extracted_text").alias("text"),
        F.col("extract_error").alias("error"),
    )


def _warc_pages(files: DataFrame) -> DataFrame:
    # the container carries no table metadata, so WARC pages start 'und'
    return warc.warc_pages(files).withColumn("lang", F.lit("und"))


def _q_kg_crawl_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-crawl KG delta THROUGH the container path: both crawls'
    WARC fixtures run the full construction fold, distinct triple sets
    full-outer-join on the triple key → added / removed / kept — the
    incremental-KG read a recrawl produces."""
    p1 = _warc_pages(datagen.warc_files(spark))
    p2 = _warc_pages(datagen.warc_files_second(spark))
    return pipeline.triple_delta(
        pipeline.build(p1, reuse=False)["triples"],
        pipeline.build(p2, reuse=False)["triples"],
    )


def _q_warc_wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET sidecar round trip: derive the .warc.wet.gz conversion files
    from the primary WARC fixture, parse them BACK through the same
    record kernel, and emit per-url text digests — the oracle pins the
    golden extraction digests, so the whole write+read conversion path is
    value-gated (rejected pages are absent, like CC's sidecars)."""
    wet = warc.build_wet(datagen.warc_files(spark))
    return (
        warc.warc_records(wet)
        .filter(F.col("warc_type") == "conversion")
        .select(
            "url",
            F.sha2(F.decode(F.col("html"), "UTF-8"), 256).alias("text_sha256"),
        )
    )


def _q_warc_wat_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAT sidecar round trip over the anchor-bearing link corpus: derive
    .warc.wat.gz metadata records (Catalyst-built JSON envelopes with
    href+anchor link metadata), re-parse through the record kernel, and
    explode the JSON links — the oracle restates anchor extraction with a
    REAL html.parser walk, so both the envelope write and the link
    extraction are value-gated."""
    wat = warc.build_wat(datagen.warc_files_links(spark))
    body = F.decode(F.col("html"), "UTF-8")
    links = F.from_json(
        F.get_json_object(
            body, "$.Envelope.Payload-Metadata.HTTP-Response-Metadata.HTML-Metadata.Links"
        ),
        "array<struct<url:string,text:string>>",
    )
    return (
        warc.warc_records(wat)
        .filter(F.col("warc_type") == "metadata")
        .select("url", F.explode(links).alias("l"))
        .select(
            "url", F.col("l.url").alias("href"), F.col("l.text").alias("anchor_text")
        )
    )


def _q_warc_docs_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language enrichment for container-ingested docs: the doc table's
    'und' tags are filled by the stopword-ratio language-ID operator —
    lang = detector verdict keyed on the doc's content."""
    docs = pipeline.build(_warc_pages(datagen.warc_files(spark)), reuse=False)["docs"]
    # language_id keys on ids.doc_id(trim(text)); docs.content is already
    # sanitized+trimmed, so its doc_id is the same key — plain equi-join.
    lid = textops.language_id(docs, text_col="content").select(
        F.col("kg_doc_id").alias("doc_id"), "predicted_lang"
    )
    return docs.join(lid, "doc_id", "left").select(
        "url",
        F.coalesce(F.col("predicted_lang"), F.lit("und")).alias("lang"),
    )


# --------------------------------------------------------------- register

DRIVER, EXTENDED = "driver", "extended"


class Query(NamedTuple):
    name: str
    build: QueryFn
    tier: str = DRIVER
    headline: bool = False  # timed by bench.py


REGISTER: tuple[Query, ...] = (
    # --- reference flagship surface (SURVEY §2.8/§2.9, routes/*) ---
    Query("web_docs", _pick(_built("docs"), "doc_id", "url", "lang", "content_length")),
    Query("web_chunks", _pick(
        _built("chunks"), "chunk_id", "doc_id", "chunk_order_index", "n_tokens")),
    Query("web_entities", _pick(
        _built("entities"), "entity_id", "entity_name", "entity_type", "doc_id",
        "chunk_id", "chunk_order_index", "first_offset")),
    Query("web_relations", _pick(
        _built("relations"), "relation_id", "doc_id", "source_entity_id",
        "target_entity_id", "subj", "obj", "relationship_description")),
    Query("web_triples", _built("triples"), headline=True),
    Query("web_doc_summaries", _op(materialize.document_summaries, STATUS)),
    Query("graph_bfs_paths", _q_graph_bfs_paths, headline=True),
    Query("graph_render_paths", _q_graph_render_paths),
    Query("web_neighbors", _q_web_neighbors),
    Query("web_canonical_map", _pick(
        _cmap, "entity_name", "canonical_name", "canonical_id")),
    Query("web_canonical_triples", _canon_triples, headline=True),
    Query("status_lang_rollup", _q_status_lang_rollup),
    Query("entity_type_counts", _q_entity_type_counts),
    Query("docs_paginated", _q_docs_paginated),
    Query("web_bpe_token_counts", _q_web_bpe_token_counts),
    # --- documents-table construction chain ---
    Query("kg_doc_ids", _q_kg_doc_ids),
    Query("kg_mentions", _q_kg_mentions),
    Query("kg_entities", _q_kg_entities, headline=True),
    Query("kg_relations", _q_kg_relations),
    Query("kg_triples", TRIPLES, headline=True),
    Query("kg_entity_links", _q_kg_entity_links, headline=True),
    Query("kg_chunks", _op(chunking.token_window_chunks, DOCS), headline=True),
    Query("kg_chunks_overlap", _op(
        chunking.token_window_chunks, DOCS,
        size=spec.CHUNK_TOKENS, overlap=spec.CHUNK_WINDOW_OVERLAP)),
    Query("kg_chunks_delim", _q_kg_chunks_delim),
    # --- dedup family ---
    Query("dedup_exact", _op(textops.dedup_exact, DOCS), headline=True),
    Query("dedup_minhash_signatures", _op(textops.minhash_signatures, DOCS), headline=True),
    Query("dedup_lsh_pairs", _op(textops.lsh_candidate_pairs, DOCS), headline=True),
    Query("dedup_jaccard_pairs", _op(textops.ngram_jaccard_pairs, DOCS, threshold=0.0)),
    Query("dedup_embedding_pairs", _op(vecops.cosine_pairs, EMB, threshold=0.4),
          headline=True),
    Query("dedup_embedding_pairs_lsh", _op(
        vecops.cosine_pairs_lsh, EMB, dim=64, threshold=0.4), headline=True),
    Query("dedup_embedding_recall", _q_dedup_embedding_recall),
    # --- text analysis ---
    Query("text_token_stats", _op(textops.token_stats, DOCS)),
    Query("text_quality", _op(textops.quality_score_arrow, DOCS), headline=True),
    Query("text_simhash", _op(textops.simhash, DOCS), headline=True),
    Query("text_bpe_token_counts", _op(textops.bpe_token_counts, DOCS), headline=True),
    # --- event analytics ---
    Query("events_sessionize", _op(events.sessionize, EVENTS)),
    Query("events_session_windows", _op(events.session_windows, EVENTS), headline=True),
    Query("events_sliding_windows", _op(events.sliding_window_counts, EVENTS)),
    Query("events_hourly", _q_events_hourly, headline=True),
    Query("events_salted_join", _q_events_salted_join),
    Query("events_props_extract", _op(events.props_extract, EVENTS)),
    Query("events_topk_by_type", _op(events.topk_by_type, EVENTS)),
    # --- similarity search ---
    Query("ann_cosine_topk", _ann(vecops.cosine_topk), headline=True),
    Query("ann_ivf_topk", _ann(vecops.ivf_topk)),
    # --- multimodal ---
    Query("media_metadata", _op(multimodal.media_metadata, MEDIA)),
    Query("media_decode", _op(multimodal.decode_media, MEDIA)),
    Query("media_frame_samples", _op(multimodal.sample_frames, MEDIA)),
    Query("media_resize", _op(multimodal.resize_media, MEDIA)),
    Query("media_audio_resample", _op(multimodal.resample_media, MEDIA)),
    Query("ann_lsh_topk", _ann(vecops.lsh_topk, dim=64)),
    # --- extended tier: past the driver's evaluation budget, held to the
    # same compare by tests/test_oracle_parity.py and tests/test_plans.py ---
    Query("docs_distinct_kmv", _op(textops.distinct_kmv, DOCS), EXTENDED),
    Query("text_cms_heavy_hitters", _op(textops.cms_heavy_hitters, DOCS), EXTENDED),
    Query("bloom_prefilter", _op(
        sketches.bloom_prefilter, _table("orders"), _table("customer"),
        member_col="o_custkey", cand_col="c_custkey"), EXTENDED),
    Query("graph_degree", _op(graph.degrees, TRIPLES), EXTENDED),
    Query("graph_triangles", _op(graph.triangle_counts, TRIPLES), EXTENDED),
    Query("text_repetition", _op(textops.repetition_stats_arrow, DOCS), EXTENDED),
    Query("text_tfidf_topk", _op(textops.tfidf_topk, DOCS), EXTENDED),
    Query("web_domain_stats", _op(pipeline.domain_stats, WEB), EXTENDED),
    Query("dedup_clusters", _op(textops.dedup_clusters, DOCS, threshold=0.5), EXTENDED),
    Query("dedup_containment_pairs", _op(textops.containment_pairs, DOCS), EXTENDED),
    Query("events_funnel", _op(events.funnel, EVENTS), EXTENDED),
    Query("text_collocations", _op(textops.collocations, DOCS), EXTENDED),
    Query("events_value_quantiles", _op(events.value_quantiles, EVENTS), EXTENDED),
    Query("events_asof_join", _op(events.asof_join, EVENTS), EXTENDED),
    Query("events_range_join", _op(events.range_join, EVENTS), EXTENDED),
    Query("docs_train_split", _op(textops.train_split, DOCS), EXTENDED),
    Query("dedup_contamination", _op(textops.contamination, DOCS), EXTENDED),
    Query("dedup_duplicate_spans", _op(textops.duplicate_spans, DOCS), EXTENDED),
    Query("text_pii_scan", _op(textops.pii_scan, DOCS), EXTENDED),
    Query("text_readability", _op(textops.readability, DOCS), EXTENDED),
    Query("web_url_dedup", _op(pipeline.url_dedup, URL_VARIANTS), EXTENDED),
    Query("web_c4_clean", _op(textops.c4_line_clean, WEB), EXTENDED),
    Query("graph_pagerank", _op(graph.pagerank, TRIPLES), EXTENDED),
    Query("text_keyphrases", _op(textops.keyphrases, DOCS), EXTENDED),
    Query("graph_stress_centrality", _op(graph.stress_centrality, TRIPLES), EXTENDED),
    Query("kg_predicate_stats", _op(ontology.predicate_stats, TRIPLES), EXTENDED),
    Query("kg_rule_mining", _op(ontology.rule_mining, TRIPLES), EXTENDED),
    Query("kg_rule_apply", _op(ontology.rule_apply, TRIPLES), EXTENDED),
    Query("kg_entity_disambiguation", _op(linking.disambiguate, DOCS), EXTENDED),
    Query("web_graph_components", _op(graph.components, _canon_triples), EXTENDED),
    Query("graph_hits", _op(graph.hits, TRIPLES), EXTENDED),
    Query("events_retention", _op(events.retention_cohorts, EVENTS), EXTENDED),
    Query("dedup_simhash_profile", _op(textops.simhash_hamming_profile, DOCS), EXTENDED),
    Query("text_lm_score", _op(textops.lm_score, DOCS), EXTENDED),
    Query("media_phash", _op(multimodal.phash_media, MEDIA), EXTENDED),
    Query("web_ontology_check", VALIDATED, EXTENDED),
    Query("web_functional_violations", _op(
        ontology.functional_violations, _built("triples")), EXTENDED),
    Query("web_triple_support", _op(ontology.triple_support, _canon_triples), EXTENDED),
    Query("web_link_prediction", _op(graph.link_prediction, _canon_triples), EXTENDED),
    Query("web_current_facts", _op(
        ontology.current_facts, _built("triples"), _built("docs")), EXTENDED),
    Query("web_negative_samples", _op(
        ontology.negative_samples, _canon_triples), EXTENDED),
    Query("graph_kcore", _op(graph.kcore, TRIPLES), EXTENDED),
    Query("graph_lpa_communities", _op(graph.lpa_communities, TRIPLES), EXTENDED),
    Query("graph_ppr", _op(graph.personalized_pagerank, TRIPLES), EXTENDED),
    Query("docs_mixture_plan", _op(textops.mixture_plan, DOCS), EXTENDED),
    Query("events_anomaly", _op(events.anomaly_hours, EVENTS), EXTENDED),
    Query("docs_pack_plan", _op(textops.pack_plan, DOCS), EXTENDED),
    Query("docs_pack_apply", _op(textops.pack_apply, DOCS), EXTENDED),
    Query("docs_mixture_apply", _op(textops.mixture_apply, DOCS), EXTENDED),
    Query("ann_pq_topk", _ann(vecops.pq_topk), EXTENDED),
    Query("web_entity_cooccurrence", _op(
        ontology.entity_cooccurrence, _built("entities")), EXTENDED),
    Query("web_ontology_rollup", _op(ontology.conformance_rollup, VALIDATED), EXTENDED),
    Query("web_temporal_triples", _op(
        ontology.temporal_triples, _canon_triples, _built("docs")), EXTENDED),
    Query("events_transitions", _op(events.transitions, EVENTS), EXTENDED),
    Query("events_rolling_active", _op(events.rolling_active, EVENTS), EXTENDED),
    Query("events_user_lifetime", _op(events.user_lifetime, EVENTS), EXTENDED),
    Query("web_graph_closeness", _op(
        graph.harmonic_closeness, _canon_triples), EXTENDED),
    Query("graph_weighted_paths", _op(graph.weighted_shortest_paths, TRIPLES), EXTENDED),
    Query("text_bm25_topk", _op(textops.bm25_topk, DOCS), EXTENDED),
    Query("web_host_graph", _op(pipeline.host_link_graph, LINK_PAGES), EXTENDED),
    Query("web_anchor_entities", _op(pipeline.anchor_entities, LINK_PAGES), EXTENDED),
    Query("web_host_rank", _q_web_host_rank, EXTENDED),
    Query("web_redirect_resolve", _op(
        pipeline.redirect_resolve, _fixture(datagen.crawl_redirects)), EXTENDED),
    Query("web_robots_filter", _op(
        pipeline.robots_filter, URL_VARIANTS, _fixture(datagen.crawl_robots)), EXTENDED),
    Query("web_fetch_schedule", _op(pipeline.fetch_schedule, URL_VARIANTS), EXTENDED),
    Query("web_crawl_diff", _op(
        pipeline.crawl_diff, _fixture(datagen.crawl_snapshot, "old"),
        _fixture(datagen.crawl_snapshot, "new")), EXTENDED),
    # raw WARC bodies are reported as sha256, so the compare stays string-typed
    Query("warc_records", _pick(
        _op(warc.warc_records, WARC), "file_name", "rec_offset", "rec_length",
        "warc_type", "record_id", "url", "warc_date", "http_status", "content_type",
        "payload_digest", "sha2(html, 256) AS html_sha",
        "CAST(coalesce(length(html), -1) AS INT) AS html_len"), EXTENDED),
    Query("warc_index", _op(warc.warc_index, WARC), EXTENDED),
    # byte identity through the container: golden text digests per url
    Query("warc_extract_digests", _pick(
        _op(html_extract.extract_stage, _op(warc.warc_pages, WARC)),
        "url", "text_sha256", "extract_error AS error"), EXTENDED),
    Query("warc_revisit_plan", _op(
        warc.plan_revisits, _op(warc.warc_index, WARC),
        _op(warc.warc_records, _fixture(datagen.warc_files_second))), EXTENDED),
    Query("web_rdf_ntriples", _op(graph.to_ntriples, _built("triples")), EXTENDED),
    Query("kg_crawl_delta", _q_kg_crawl_delta, EXTENDED),
    Query("warc_charset_docs", _q_warc_charset_docs, EXTENDED),
    Query("web_sitemap_frontier", _op(
        pipeline.sitemap_frontier, _fixture(datagen.sitemaps)), EXTENDED),
    Query("web_url_quality", _op(
        pipeline.url_quality, _fixture(datagen.frontier_urls)), EXTENDED),
    Query("web_url_normalize", _op(
        pipeline.url_normalize, _fixture(datagen.messy_urls)), EXTENDED),
    Query("web_paragraph_dups", _op(textops.paragraph_dups, WEB), EXTENDED),
    Query("web_boilerplate_strip", _op(
        textops.boilerplate_strip, _fixture(datagen.host_pages)), EXTENDED),
    Query("web_text_density", _op(pipeline.text_density, WEB), EXTENDED),
    Query("web_curation_verdict", _op(textops.curation_verdict, WEB), EXTENDED),
    Query("warc_wet_roundtrip", _q_warc_wet_roundtrip, EXTENDED),
    Query("warc_wat_links", _q_warc_wat_links, EXTENDED),
    Query("web_robots_parse", _op(
        pipeline.parse_robots, _fixture(datagen.robots_txts)), EXTENDED),
    Query("warc_docs_lang", _q_warc_docs_lang, EXTENDED),
)


def queries() -> dict[str, QueryFn]:
    """Every register row, driver tier first, each tier in table order.
    The driver evaluates the first 50; ``tests/test_register.py`` pins them
    to the key order of CORRECTNESS_r04.json."""
    return {
        q.name: q.build
        for tier in (DRIVER, EXTENDED)
        for q in REGISTER
        if q.tier == tier
    }


def oracle_sql() -> dict[str, str]:
    return {
        **oracles.build(),
        **web_oracles.build(),
        **media_oracles.build(),
        **vec_oracles.build(),
        **bpe_oracle.build(),
    }


# ------------------------------------------------------- compare protocol
#
# The driver's compare, shared by tests/test_oracle_parity.py and
# jobs/sweep.py: both engines read the same parquet files, and a result is
# its sorted column names plus its order-insensitive value lines.

DUCK_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings", "web_pages",
)


def duck_views(sf_dir: str):
    """A DuckDB connection with a view over every table present in sf_dir."""
    import duckdb

    con = duckdb.connect()
    for t in DUCK_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if v != v else f"{v:.6g}"
    return str(v)


def value_lines(rows, cols: list[str]) -> list[str]:
    """Rows as sorted lines of normalized cells in column-name order:
    floats at 6 significant digits, bools as 0/1, NULL and NaN spelled."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x1f".join(_norm_cell(r[i]) for i in order) for r in rows)
