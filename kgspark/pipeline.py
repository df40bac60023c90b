"""The end-to-end web_pages → triples job chain (the north rule's core).

Re-expresses the reference's construction pipeline (EP1, SURVEY.md §3:
upload → extract → chunk → LLM-extract → fold → persist,
runtime/src/pipeline/pipeline.rs:135-414) as one declarative DataFrame chain:

    web_pages(url, warc_ts, html, text, lang)
      → extract_docs   HTML→text pandas UDF + per-url sha256 digest gate
                       (extractor.rs:33-58 analog; byte-identity invariant)
      → docs           sanitize (P1) → empty filter (P4) → doc_id = sha2 →
                       exact-dedup first-wins by url (A4, pipeline.rs:461-470)
      → chunks         sentence-segmented chunking (W1 analog, utils.rs:49-128)
      → extracted      per-chunk typed entities + (subj, pred, obj) via the
                       vectorized extraction UDF (extractor.rs:71-100 analog)
      → entities       first-wins fold per (doc, name, type) (A5, :335-347)
      → relations      name→id resolution joins with DROP-UNKNOWN semantics
                       (J2, :313-373) + first-wins per relation_id (A6, :383-393)
      → triples        normalized (subj, pred, obj, doc_id) set — the P/R gate

Scale design:
  * extract + chunk + extract-UDF are narrow per-row stages — zero shuffles
    until the entity fold; partitioning follows the input splits.
  * The folds are single-shuffle hash aggregations on content-hash keys
    (uniform — no skew by construction); ``min(struct(...))`` gives
    deterministic first-wins with map-side partial aggregation.
  * The J2 resolution joins key on (doc_id, normalized name): doc_id is a
    sha256 hash, so the composite key is uniform even when one entity name
    dominates the corpus — the classic head-entity skew never lands on a
    single reducer here.  AQE skew-join stays on as a backstop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import cache, chunking, html_extract, ids, spec, web_extraction
from .session import LineageScope


def _norm_name(c: Column) -> Column:
    """The reference's name-resolution key: lower(trim(name))
    (pipeline/pipeline.rs:317-321)."""
    return F.lower(F.trim(c))


def extract_docs(web_pages: DataFrame) -> DataFrame:
    """HTML→text extraction + digest columns (no rows dropped yet)."""
    return html_extract.extract_stage(web_pages)


def digest_violations(extracted: DataFrame) -> DataFrame:
    """Rows where extracted text != golden text — must be empty (the gate)."""
    return html_extract.digest_check(extracted)


def extract_errors(extracted: DataFrame, run_id: str) -> DataFrame:
    """Per-doc failure records (error_reporter.rs:50 analog).

    One row per input page the extractor rejected (non-UTF-8, empty,
    whitespace-only, parser fault): ``error-<run_id>-<url>`` ids mirroring
    the reference's ``error-{track_id}-{filename}``.  These land in the
    warehouse ``errors`` table so a 100 TB run can answer "which docs
    failed and why" from a table instead of from logs.
    """
    return extracted.filter(F.col("extract_error").isNotNull()).select(
        F.concat(F.lit(f"error-{run_id}-"), F.col("url")).alias("error_id"),
        "url",
        F.lit("extract").alias("stage"),
        F.col("extract_error").alias("error"),
    )


def docs(web_pages: DataFrame, check_digest: bool = False) -> DataFrame:
    """Deduplicated document table keyed by content-addressed doc_id.

    sanitize (P1: strip \\r + trim, pipeline.rs:531-533) → drop empty (P4,
    :463-466) → doc_id = 'doc-'+sha2 (:478) → first-wins dedup by smallest
    url (A4 ``unique_contents``, :461-470).  One shuffle (on doc_id).
    """
    ex = extract_docs(web_pages)
    if check_digest:
        bad = digest_violations(ex).limit(1).collect()
        if bad:
            raise AssertionError(f"digest violation for url={bad[0]['url']}")
    return docs_from_extracted(ex)


def docs_from_extracted(ex: DataFrame) -> DataFrame:
    """The doc fold over a pre-extracted frame (lets callers run extraction
    ONCE, persist it, and feed both this fold and the error-record table)."""
    sanitized = F.trim(F.regexp_replace("extracted_text", "\r", ""))
    base = (
        ex.select(
            ids.doc_id(sanitized).alias("doc_id"),
            sanitized.alias("content"),
            F.sha2(sanitized, 256).alias("text_sha256"),
            "url",
            "warc_ts",
            "lang",
        )
        .filter(F.length("content") > 0)
    )
    # First-wins by (url, warc_ts): deterministic representative per content.
    return (
        base.groupBy("doc_id")
        .agg(
            F.min(F.struct("url", "warc_ts", "lang", "content", "text_sha256")).alias("w"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(
            "doc_id",
            F.col("w.url").alias("url"),
            F.col("w.warc_ts").alias("warc_ts"),
            F.col("w.lang").alias("lang"),
            F.col("w.content").alias("content"),
            F.col("w.text_sha256").alias("text_sha256"),
            F.length("w.content").cast("long").alias("content_length"),
            F.when(
                F.length("w.content") <= 200, F.col("w.content")
            ).otherwise(
                F.concat(F.substring("w.content", 1, 200), F.lit("…"))
            ).alias("content_summary"),
            "n_copies",
        )
    )


def chunks(doc_table: DataFrame) -> DataFrame:
    """Sentence-segmented chunks (chunk_id, doc_id, chunk_order_index, content,
    n_tokens) — text_chunks analog (SURVEY.md §1)."""
    return chunking.sentence_chunks(
        doc_table, text_col="content", doc_id_col="doc_id"
    )


def extracted_chunks(chunk_table: DataFrame) -> DataFrame:
    """chunks + per-chunk raw extraction struct (vectorized pandas UDF)."""
    return web_extraction.extract_from_chunks(chunk_table, text_col="content")


def entities(extracted: DataFrame) -> DataFrame:
    """First-wins entity fold (A5): one row per (doc, name, type).

    Metadata comes from the smallest (chunk_order_index, first_offset) —
    the deterministic restatement of the reference's arrival-order
    ``entry().or_insert`` (pipeline.rs:335-347; arrival order there is
    nondeterministic under concurrency, ours is reproducible).
    """
    m = extracted.select(
        "doc_id",
        "chunk_id",
        "chunk_order_index",
        F.explode("extraction.entities").alias("e"),
    )
    return (
        m.groupBy(
            "doc_id",
            F.col("e.entity_name").alias("entity_name"),
            F.col("e.entity_type").alias("entity_type"),
        )
        .agg(
            F.min(
                F.struct(
                    F.col("chunk_order_index").alias("chunk_order_index"),
                    F.col("e.first_offset").alias("first_offset"),
                    F.col("chunk_id").alias("chunk_id"),
                    F.col("e.entity_description").alias("entity_description"),
                )
            ).alias("w"),
            F.count(F.lit(1)).alias("n_mentions"),
        )
        .select(
            ids.entity_id(
                F.col("doc_id"), F.col("entity_name"), F.col("entity_type")
            ).alias("entity_id"),
            "entity_name",
            "entity_type",
            F.col("w.entity_description").alias("entity_description"),
            "doc_id",
            F.col("w.chunk_id").alias("chunk_id"),
            F.col("w.chunk_order_index").cast("long").alias("chunk_order_index"),
            F.col("w.first_offset").cast("long").alias("first_offset"),
            F.col("n_mentions").cast("long").alias("n_mentions"),
        )
    )


def _name_index(entity_table: DataFrame) -> DataFrame:
    """Per-doc name→entity resolution index keyed by lower(trim(name)).

    One row per (doc_id, norm_name): first-wins on (chunk_order_index,
    first_offset, entity_id) — the DataFrame form of the reference's
    ``HashMap<"{doc}::{lower(name)}" → id>`` (pipeline.rs:350-359).
    """
    return (
        entity_table.groupBy(
            "doc_id", _norm_name(F.col("entity_name")).alias("norm_name")
        )
        .agg(
            F.min(
                F.struct(
                    "chunk_order_index", "first_offset", "entity_id", "entity_name"
                )
            ).alias("w")
        )
        .select(
            "doc_id",
            "norm_name",
            F.col("w.entity_id").alias("entity_id"),
            F.col("w.entity_name").alias("entity_name"),
        )
    )


def relations(extracted: DataFrame, entity_table: DataFrame) -> DataFrame:
    """Name-resolved, first-wins relation fold (J2 + A6).

    Inner joins on (doc_id, lower(trim(name))) for source and target give
    exactly the reference's drop-unknown semantics (pipeline.rs:364-373:
    relationships referencing entities never emitted in the doc are skipped).
    """
    r = extracted.select(
        "doc_id",
        "chunk_id",
        "chunk_order_index",
        F.explode("extraction.relationships").alias("r"),
    ).select(
        "doc_id",
        "chunk_id",
        "chunk_order_index",
        _norm_name(F.col("r.source_entity")).alias("src_norm"),
        _norm_name(F.col("r.target_entity")).alias("tgt_norm"),
        F.col("r.relationship_keywords").alias("relationship_keywords"),
        F.col("r.relationship_description").alias("relationship_description"),
    )
    idx = _name_index(entity_table)
    src = idx.select(
        F.col("doc_id").alias("s_doc"),
        F.col("norm_name").alias("src_norm"),
        F.col("entity_id").alias("source_entity_id"),
        F.col("entity_name").alias("subj"),
    )
    tgt = idx.select(
        F.col("doc_id").alias("t_doc"),
        F.col("norm_name").alias("tgt_norm"),
        F.col("entity_id").alias("target_entity_id"),
        F.col("entity_name").alias("obj"),
    )
    resolved = r.join(
        src, (r["doc_id"] == src["s_doc"]) & (r["src_norm"] == src["src_norm"]), "inner"
    ).join(
        tgt, (r["doc_id"] == tgt["t_doc"]) & (r["tgt_norm"] == tgt["tgt_norm"]), "inner"
    )
    rel_id = ids.relation_id(
        r["doc_id"],
        F.col("source_entity_id"),
        F.col("target_entity_id"),
        F.col("relationship_description"),
    )
    rows = resolved.select(
        rel_id.alias("relation_id"),
        r["doc_id"].alias("doc_id"),
        "chunk_id",
        "chunk_order_index",
        "source_entity_id",
        "target_entity_id",
        "subj",
        "obj",
        "relationship_keywords",
        "relationship_description",
    )
    # A6 first-wins per relation_id, deterministic by chunk order.
    return (
        rows.groupBy(
            "relation_id",
            "doc_id",
            "source_entity_id",
            "target_entity_id",
            "subj",
            "obj",
            "relationship_description",
        )
        .agg(
            F.min(
                F.struct("chunk_order_index", "chunk_id", "relationship_keywords")
            ).alias("w"),
            F.count(F.lit(1)).alias("n_statements"),
        )
        .select(
            "relation_id",
            "doc_id",
            F.col("w.chunk_id").alias("chunk_id"),
            F.col("w.chunk_order_index").cast("long").alias("chunk_order_index"),
            "source_entity_id",
            "target_entity_id",
            "subj",
            "obj",
            F.col("w.relationship_keywords").alias("relationship_keywords"),
            "relationship_description",
            F.col("n_statements").cast("long").alias("n_statements"),
        )
    )


def triples(relation_table: DataFrame) -> DataFrame:
    """Normalized (subj, pred, obj, doc_id) — the P/R comparison set.

    pred is the keyword-joined predicate ('works_at' style), recovered from
    the description's canonical form "<subj> <pred> <obj>".
    """
    return relation_table.select(
        "subj",
        F.array_join("relationship_keywords", "_").alias("pred"),
        "obj",
        "doc_id",
    ).distinct()


def build(
    web_pages: DataFrame, check_digest: bool = False, reuse: bool = True
) -> dict[str, DataFrame]:
    """The full chain as named DataFrames (lazy — nothing executes here).

    The plan is a diamond at the extraction stage: ``entities`` and
    ``relations`` both consume it, and a naive lazy chain re-runs the whole
    upstream (scan → HTML parse → dedup shuffle → chunk/extract UDFs) once
    per branch.  ``reuse=True`` persists the extraction (memory, spill to
    disk), so it is computed exactly once per action — the in-memory analog
    of the stage tables ``materialize.run_pipeline`` writes between stages at
    warehouse scale.  The persisted frame goes through
    :func:`cache.keyed_persist`, an LRU of 8 slots keyed by plan hash.  The
    UDF plans of two ``build`` calls do not hash equal even over the same
    pages, so each call takes a slot of its own, and a frame is unpersisted
    only when later persists push it out of the LRU.  Callers wanting
    cross-call reuse memoize the returned dict, as ``__spark_entry__``'s
    ``_web_built`` does; that memo is the only cross-call dedupe.
    """
    d = docs(web_pages, check_digest=check_digest)
    c = chunks(d)
    x = extracted_chunks(c)
    if reuse:
        x = cache.keyed_persist(x, "extraction")
    e = entities(x)
    r = relations(x, e)
    t = triples(r)
    return {"docs": d, "chunks": c, "entities": e, "relations": r, "triples": t}


# Tracking query-params stripped by URL canonicalization (matches
# datagen.URL_TRACKING_PARAMS keys; the common CC/C4 strip list).
URL_TRACKING_KEY_RE = r"^(utm_[^=]*|gclid|fbclid|ref)="


def normalize_url(url_col: str = "url"):
    """Canonical form of a crawl URL, pure Catalyst (parse_url + regex +
    array HOFs, all codegen): lowercase scheme/host, strip ``www.``, drop
    default ports (http:80 / https:443), drop the fragment, strip a
    trailing slash (root path becomes empty), drop tracking query params
    (:data:`URL_TRACKING_KEY_RE`), sort the surviving params.

    The canonical key for crawl-frontier dedup — syntactic variants of one
    page collapse BEFORE any content fetch/hash is spent on them.

    This is the LOSSY dedup-key twin: www-strip, tracking-param drop, and
    trailing-slash strip deliberately merge URLs the server may treat as
    distinct.  For the semantics-preserving RFC 3986 §6 rewrite (dot
    segments resolved, nothing dropped but the fragment) use
    :func:`url_normalize`.
    """
    scheme = F.lower(F.parse_url(url_col, F.lit("PROTOCOL")))
    host = F.regexp_replace(
        F.lower(F.parse_url(url_col, F.lit("HOST"))), r"^www\.", ""
    )
    port = F.regexp_extract(F.parse_url(url_col, F.lit("AUTHORITY")), r":(\d+)$", 1)
    port_part = F.when(
        (port == "")
        | ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443")),
        F.lit(""),
    ).otherwise(F.concat(F.lit(":"), port))
    rawpath = F.coalesce(F.parse_url(url_col, F.lit("PATH")), F.lit(""))
    path = F.when(rawpath == "/", F.lit("")).otherwise(
        F.regexp_replace(rawpath, "/$", "")
    )
    query = F.parse_url(url_col, F.lit("QUERY"))
    params = F.filter(
        F.split(query, "&"), lambda p: ~p.rlike(URL_TRACKING_KEY_RE)
    )
    qpart = F.when(query.isNull() | (F.size(params) == 0), F.lit("")).otherwise(
        F.concat(F.lit("?"), F.array_join(F.array_sort(params), "&"))
    )
    return F.concat(scheme, F.lit("://"), host, port_part, path, qpart)


def url_dedup(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """Crawl-frontier URL dedup: group by the canonical URL, count the
    syntactic variants, elect the lexicographically-first raw URL as the
    canonical representative (deterministic first-wins), and count distinct
    texts per group (1 everywhere when the variants really are one page).

    ONE hash aggregate on the normalized key (map-side partial); the
    normalization itself is a narrow codegen projection — at crawl scale
    this collapses refetch candidates before any content processing.
    """
    return pages.groupBy(normalize_url(url_col).alias("norm_url")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pages"),
        F.countDistinct(url_col).cast("long").alias("n_distinct_urls"),
        F.min(url_col).alias("canonical_url"),
        F.countDistinct("text").cast("long").alias("n_distinct_texts"),
    )


def host_link_graph(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """HYPERLINK graph extraction — the web-scale KG substrate step the
    text pipeline never sees: pull ``<a href>`` anchors out of the raw
    HTML bytes, resolve them to hosts, and roll up the host→host link
    graph (link counts + distinct linking pages + an external-edge flag).

    Resolution spec (deterministic, restated independently by the oracle):
    absolute ``http(s)://`` hrefs take their own host; root-relative
    (leading ``/``) hrefs take the page's host; everything else
    (fragments, ``mailto:``, ``javascript:``, scheme-relative and bare
    paths) is dropped.  Hosts normalize as lowercase with a leading
    ``www.`` stripped — the same collapse url_dedup applies.

    Pure Catalyst end to end: decode + regexp_extract_all + explode +
    parse_url are codegen projections, then ONE hash aggregate on the
    (src_host, dst_host) edge key — no Python, no joins.  At 100 TB the
    anchor fan-out rides the scan partitioning and the only shuffle is
    edge-keyed; host skew (every page links the hot site) is aggregation
    skew, absorbed map-side by partial aggregation.
    """
    html_s = F.decode(F.col(html_col), "UTF-8")
    hrefs = F.regexp_extract_all(html_s, F.lit(r'<a\s[^>]*href="([^"]+)"'), 1)

    def _norm_host(c: Column) -> Column:
        return F.regexp_replace(F.lower(c), r"^www\.", "")

    e = pages.select(
        F.col(url_col).alias("url"),
        _norm_host(F.parse_url(F.col(url_col), F.lit("HOST"))).alias("src_host"),
        F.explode(hrefs).alias("href"),
    )
    dst = F.when(
        F.col("href").rlike("^https?://"),
        _norm_host(F.parse_url(F.col("href"), F.lit("HOST"))),
    ).when(F.col("href").startswith("/"), F.col("src_host"))
    return (
        e.withColumn("dst_host", dst)
        .filter(F.col("dst_host").isNotNull())
        .groupBy("src_host", "dst_host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_links"),
            F.countDistinct("url").cast("long").alias("n_pages"),
        )
        .withColumn("is_external", F.col("src_host") != F.col("dst_host"))
    )


def anchor_entities(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Anchor-text ENTITY MINING — the classic web-KG evidence source: an
    ``<a href>``'s text is a human-curated alias for whatever the link
    points at.  Extract (href, anchor-text) pairs from the raw HTML bytes,
    resolve hrefs to hosts (the host_link_graph rules: absolute → own
    host, root-relative → page host, everything else dropped), normalize
    the anchor text (lower/trim — the entity-linking key discipline), and
    link it against the broadcast WEB alias dictionary; anchors whose text
    is not a known alias drop (candidate generation, not open NER).
    Output: one row per (canonical entity, target host) with link and
    distinct-page counts — the "which hosts does the web call IBM" table.

    Pure Catalyst except the tiny broadcast dict: decode + two
    regexp_extract_all passes (href group, text group) zipped into one
    anchors array, explode, parse_url, broadcast hash join, ONE hash
    aggregate on the (entity, host) key.
    """
    html_s = F.decode(F.col(html_col), "UTF-8")
    pat = F.lit(r'<a\s[^>]*href="([^"]+)"[^>]*>([^<]*)</a>')
    pairs = F.arrays_zip(
        F.regexp_extract_all(html_s, pat, 1).alias("href"),
        F.regexp_extract_all(html_s, pat, 2).alias("atext"),
    )

    def _norm_host(c: Column) -> Column:
        return F.regexp_replace(F.lower(c), r"^www\.", "")

    e = pages.select(
        F.col(url_col).alias("url"),
        _norm_host(F.parse_url(F.col(url_col), F.lit("HOST"))).alias("src_host"),
        F.explode(pairs).alias("a"),
    ).select(
        "url",
        "src_host",
        F.col("a.href").alias("href"),
        F.lower(F.trim(F.col("a.atext"))).alias("alias"),
    )
    dst = F.when(
        F.col("href").rlike("^https?://"),
        _norm_host(F.parse_url(F.col("href"), F.lit("HOST"))),
    ).when(F.col("href").startswith("/"), F.col("src_host"))
    alias_dim = (
        pages.sparkSession.createDataFrame(
            spec.web_alias_rows(), ["alias", "entity_name"]
        )
    )
    return (
        e.withColumn("dst_host", dst)
        .filter(F.col("dst_host").isNotNull())
        .join(F.broadcast(alias_dim), "alias")
        .groupBy("entity_name", "dst_host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_links"),
            F.countDistinct("url").cast("long").alias("n_pages"),
        )
    )


REDIRECT_ROUNDS = 3


def redirect_resolve(
    redirects: DataFrame, rounds: int = REDIRECT_ROUNDS
) -> DataFrame:
    """Redirect-chain resolution by POINTER JUMPING — O(log L) rounds
    instead of the O(L) per-hop walk: each round replaces every pointer
    with its pointer's pointer (``p ← p∘p``), so ``rounds`` rounds resolve
    chains up to ``2^rounds`` hops.  A URL whose final pointer is still a
    redirect source after the budget (a loop, or a chain longer than the
    budget) comes back ``is_resolved = false`` — redirect cycles exist in
    real crawls and must terminate the job, not hang it.

    Exact semantics (restated by the oracle): final_url is the pointer
    after ``min(2^rounds, steps-to-terminal)`` hops.  Scale shape: per
    round ONE self-equi-join of the pointer frame on the pointer key and
    nothing else — the frame stays one row per redirect source, lineage
    truncated per round; doubling makes a 64-hop chain cost 6 shuffles,
    the property linear frontier walks lose at crawl scale.
    """
    with LineageScope() as ls:
        ptr = ls.hold(
            redirects.select(
                F.col("src_url").alias("src"), F.col("dst_url").alias("ptr")
            ).distinct()
        )
        srcs = ptr.select("src").distinct()
        for _ in range(rounds):
            ptr = ls.cut(ptr)
            hop = ptr.select(F.col("src").alias("_hsrc"), F.col("ptr").alias("_hptr"))
            ptr = ptr.join(hop, ptr["ptr"] == hop["_hsrc"], "left").select(
                "src", F.coalesce("_hptr", "ptr").alias("ptr")
            )
        return ls.result(
            ptr.join(
                srcs.select(F.col("src").alias("ptr"), F.lit(1).alias("_issrc")),
                "ptr",
                "left",
            ).select(
                F.col("src").alias("src_url"),
                F.col("ptr").alias("final_url"),
                F.col("_issrc").isNull().alias("is_resolved"),
            )
        )


def domain_stats(web_pages: DataFrame) -> DataFrame:
    """C4-style per-domain rollup of a raw page corpus: page counts,
    non-empty extraction counts, distinct-content counts, total extracted
    chars, and language spread — the crawl-health table a corpus curator
    reads before any KG construction starts.

    ONE hash aggregate on the domain key (partial aggregation map-side);
    the synthetic corpus plants a hot domain (~20% of pages on one site,
    datagen._render_doc), so at scale this is exactly the aggregation-skew
    shape AQE's skew handling — or kgspark.skew salting for joins — absorbs.
    """
    dom = F.regexp_extract("url", r"^https?://([^/]+)", 1)
    nonempty = F.length("text") > 0
    return web_pages.groupBy(dom.alias("domain")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pages"),
        F.sum(F.when(nonempty, 1).otherwise(0)).cast("long").alias("n_nonempty"),
        F.countDistinct(F.when(nonempty, F.col("text")))
        .cast("long")
        .alias("n_distinct_texts"),
        F.sum(F.length("text")).cast("long").alias("total_text_chars"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
    )


def text_density(web_pages: DataFrame) -> DataFrame:
    """Extraction-quality signal per page: how much of the raw HTML
    survives as text (boilerplate-heavy chrome pages score low, article
    pages high — the classic text-density screen), plus tag-population
    counts (anchors, paragraphs, scripts) from the same single decode.

    Integer density (``text_chars * 1e6 DIV html_bytes``, never a float)
    so the verdict-grade signal is engine-exact.  Pure Catalyst: one
    binary→string decode feeding three ``regexp_count`` projections —
    narrow, zero shuffle, zero Python; rides the scan at any corpus size.
    """
    h = F.col("html").cast("string")
    html_bytes = F.length(F.col("html")).cast("long")
    text_chars = F.length("text").cast("long")
    return web_pages.filter(html_bytes > 0).select(
        "url",
        html_bytes.alias("html_bytes"),
        text_chars.alias("text_chars"),
        F.expr(
            "CAST(length(text) AS BIGINT) * 1000000"
            " DIV CAST(length(html) AS BIGINT)"
        ).alias("density_micro"),
        F.regexp_count(h, F.lit("<a[ >]")).cast("long").alias("n_anchor_tags"),
        F.regexp_count(h, F.lit("<p[ >]")).cast("long").alias(
            "n_paragraph_tags"
        ),
        F.regexp_count(h, F.lit("<script[ >]")).cast("long").alias(
            "n_script_tags"
        ),
    )


ROBOTS_AGENT = "kgbot"


def robots_filter(
    pages: DataFrame, robots: DataFrame, agent: str = ROBOTS_AGENT
) -> DataFrame:
    """Robots-exclusion verdict per frontier URL (RFC 9309 subset: literal
    path prefixes, no wildcards).  Semantics restated by the oracle:
    (1) GROUP SELECTION, not merge — a host with a group for ``agent``
    uses ONLY that group, else its ``*`` group, else allow-all;
    (2) among the selected group's rules whose prefix matches the URL
    path, the LONGEST prefix wins, allow winning length ties;
    (3) no matching rule → allowed.  Hosts compare case-insensitively
    (DNS), paths case-sensitively, ports/query/fragment excluded.

    Scale shape: the rules table is hosts×rules (tiny next to a frontier)
    → broadcast; the verdict is one narrow parse projection + the
    broadcast join + one per-url max-struct fold.  The frontier never
    shuffles except that final fold on its own key.
    """
    u = (
        pages.select("url")
        .distinct()
        .select(
            "url",
            F.lower(F.parse_url(F.col("url"), F.lit("HOST"))).alias("host"),
            F.coalesce(
                F.nullif(F.parse_url(F.col("url"), F.lit("PATH")), F.lit("")),
                F.lit("/"),
            ).alias("path"),
        )
    )
    grp = (
        robots.groupBy("host")
        .agg(F.max((F.col("agent") == agent).cast("int")).alias("has_agent"))
        .select(
            "host",
            F.when(F.col("has_agent") == 1, agent).otherwise("*").alias("sel"),
        )
    )
    rules = robots.join(grp, "host").filter(F.col("agent") == F.col("sel"))
    j = u.join(F.broadcast(rules), "host", "left").withColumn(
        "matched",
        F.col("path_prefix").isNotNull()
        & F.col("path").startswith(F.col("path_prefix")),
    )
    return (
        j.groupBy("url", "host")
        .agg(
            F.max(
                F.when(
                    F.col("matched"),
                    F.struct(
                        F.length("path_prefix").alias("l"),
                        (F.col("rule") == "allow").cast("int").alias("a"),
                        F.col("path_prefix").alias("p"),
                    ),
                )
            ).alias("b")
        )
        .select(
            "url",
            "host",
            F.col("b.p").alias("matched_prefix"),
            F.coalesce(F.col("b.a") == 1, F.lit(True)).alias("allowed"),
        )
    )


FETCH_DELAY_S = 5


def fetch_schedule(frontier: DataFrame, delay_s: int = FETCH_DELAY_S) -> DataFrame:
    """Politeness-constrained fetch schedule: per-host serialization.

    Crawlers must not hammer a host — fetches to one host are spaced
    ``delay_s`` apart, while distinct hosts proceed in parallel.  That is
    exactly a per-host sequence: ``slot`` = position within the host's
    queue (deterministic url order), ``scheduled_offset_s`` = slot ×
    delay.  One window over a single host-key shuffle; no joins.

    The scale lesson this operator encodes: crawl makespan is
    ``max_h(count(h)) × delay`` — the HOTTEST host, not the corpus size,
    is the critical path, so frontier sharding must partition by host
    (politeness is per-host state) while accepting that a hot host's
    queue is irreducibly sequential.  ``n_host`` is emitted so the skew
    profile is visible to the scheduler above.
    """
    from pyspark.sql import Window

    host = F.lower(F.parse_url(F.col("url"), F.lit("HOST")))
    w = Window.partitionBy("host").orderBy("url")
    return (
        frontier.select("url")
        .distinct()
        .withColumn("host", host)
        .withColumn("slot", (F.row_number().over(w) - F.lit(1)).cast("long"))
        .withColumn("scheduled_offset_s", (F.col("slot") * delay_s).cast("long"))
        .withColumn(
            "n_host", F.count(F.lit(1)).over(Window.partitionBy("host")).cast("long")
        )
    )


def crawl_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Recrawl snapshot diff: per-url verdict between two crawl snapshots.

    ``unchanged`` (same content digest), ``changed`` (url in both, digest
    moved), ``new`` (only in the later snapshot), ``gone`` (only in the
    earlier).  One full-outer equi-join on url — a single co-partitioned
    shuffle at any scale; digests compare as fixed-width strings so the
    join carries no page bodies.  This verdict is what drives recrawl
    scheduling and WARC ``revisit`` records (an unchanged verdict means
    the fetch can be stored as a digest-only revisit instead of a copy).
    """
    o = old.select(F.col("url"), F.col("content_sha").alias("old_sha"))
    n = new.select(F.col("url"), F.col("content_sha").alias("new_sha"))
    return o.join(n, "url", "full_outer").select(
        "url",
        "old_sha",
        "new_sha",
        F.when(F.col("old_sha").isNull(), "new")
        .when(F.col("new_sha").isNull(), "gone")
        .when(F.col("old_sha") == F.col("new_sha"), "unchanged")
        .otherwise("changed")
        .alias("status"),
    )


def triple_delta(old_triples: DataFrame, new_triples: DataFrame) -> DataFrame:
    """Cross-crawl KG delta: what the graph learned, lost, and kept.

    Distinct (subj, pred, obj) sets from two crawl's construction folds,
    full-outer-joined on the triple key → status ``added`` (asserted only
    by the new crawl), ``removed`` (its only supporting docs are gone),
    ``kept``.  One co-partitioned three-column equi-join; the inputs are
    already distinct triple sets, so the frame never exceeds
    |KG_old ∪ KG_new| at any corpus scale.  This is the incremental-KG
    read: recrawl → delta → downstream consumers patch instead of reload.
    """
    o = old_triples.select("subj", "pred", "obj").distinct().withColumn(
        "_o", F.lit(1)
    )
    n = new_triples.select("subj", "pred", "obj").distinct().withColumn(
        "_n", F.lit(1)
    )
    return o.join(n, ["subj", "pred", "obj"], "full_outer").select(
        "subj",
        "pred",
        "obj",
        F.when(F.col("_o").isNull(), "added")
        .when(F.col("_n").isNull(), "removed")
        .otherwise("kept")
        .alias("status"),
    )


def sitemap_frontier(sitemaps: DataFrame) -> DataFrame:
    """Sitemap-driven frontier discovery: (host, sitemap xml) → one row per
    ``<url>`` entry with loc / lastmod / priority_micro.

    Pure Catalyst: split the document on ``</url>`` closers, explode, and
    regexp-extract the child fields per fragment (namespace-proof — the
    sitemap namespace prefixes element names, never changes the local
    ``<loc>``/``<lastmod>``/``<priority>`` tokens this profile reads; the
    five XML predefined entities are unescaped in loc).  Priority becomes
    an exact micro integer via DECIMAL, never a float.  One narrow
    projection + explode — no shuffle at all; a 10^8-sitemap crawl seeds
    its frontier at scan speed, and the output joins directly against
    :func:`robots_filter` / :func:`fetch_schedule`.
    """
    frag = F.explode(F.split(F.col("xml"), "</url>")).alias("frag")
    loc_raw = F.regexp_extract(F.col("frag"), r"<loc>\s*([^<]+?)\s*</loc>", 1)
    loc = loc_raw
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&apos;", "'"),
        ("&amp;", "&"),  # ampersand LAST so &amp;lt; decodes as '&lt;' literal
    ):
        loc = F.replace(loc, F.lit(ent), F.lit(ch))
    lastmod = F.nullif(
        F.regexp_extract(F.col("frag"), r"<lastmod>\s*([^<]+?)\s*</lastmod>", 1),
        F.lit(""),
    )
    prio = F.nullif(
        F.regexp_extract(F.col("frag"), r"<priority>\s*([^<]+?)\s*</priority>", 1),
        F.lit(""),
    )
    return (
        sitemaps.select("host", frag)
        .filter(F.col("frag").contains("<loc>"))
        .select(
            "host",
            loc.alias("loc"),
            lastmod.alias("lastmod"),
            prio.alias("prio_s"),
        )
        .withColumn(
            "priority_micro",
            F.expr(
                "CAST(CAST(CAST(prio_s AS DECIMAL(8,6)) * 1000000 AS DECIMAL(10,0)) AS BIGINT)"
            ),
        )
        .drop("prio_s")
    )


def url_quality(frontier: DataFrame) -> DataFrame:
    """URL-level quality screening — the pre-fetch filter a crawl runs
    BEFORE spending a fetch (RefinedWeb-style): structural features plus a
    spam-token screen, all pure Catalyst over one distinct projection, no
    shuffle beyond the distinct.

    Integer features only (`digit_ratio_micro`, never a float) so the
    keep verdict is engine-exact: drop if any spam token matches the
    lowercased url, path depth > URL_MAX_PATH_DEPTH, query params >
    URL_MAX_QUERY_PARAMS, or path digit ratio > 50%.
    """
    from . import spec

    path = F.coalesce(
        F.nullif(F.parse_url(F.col("url"), F.lit("PATH")), F.lit("")), F.lit("/")
    )
    q = F.parse_url(F.col("url"), F.lit("QUERY"))
    depth = F.size(F.filter(F.split(path, "/"), lambda x: x != ""))
    n_params = F.when(q.isNull() | (q == ""), F.lit(0)).otherwise(
        F.size(F.split(q, "&"))
    )
    # integer DIV, never float floor — boundary urls must not flip verdicts
    digit_ratio_micro = F.expr(
        "(CAST(length(_path) - length(regexp_replace(_path, '[0-9]', '')) AS BIGINT)"
        " * 1000000) DIV length(_path)"
    )
    low = F.lower(F.col("url"))
    spam = F.lit(False)
    for tok in spec.SPAM_URL_TOKENS:
        spam = spam | low.contains(tok)
    return (
        frontier.select("url")
        .distinct()
        .withColumn("_path", path)
        .select(
            "url",
            F.lower(F.parse_url(F.col("url"), F.lit("HOST"))).alias("host"),
            depth.cast("int").alias("path_depth"),
            n_params.cast("int").alias("n_query_params"),
            digit_ratio_micro.alias("digit_ratio_micro"),
            spam.alias("spam_token_hit"),
        )
        .withColumn(
            "keep",
            ~F.col("spam_token_hit")
            & (F.col("path_depth") <= spec.URL_MAX_PATH_DEPTH)
            & (F.col("n_query_params") <= spec.URL_MAX_QUERY_PARAMS)
            & (F.col("digit_ratio_micro") <= spec.URL_MAX_DIGIT_RATIO_MICRO),
        )
    )


# Bound on dot-segment nesting depth the normalizer resolves per URL: each
# fixpoint pass removes at least one level, so 16 passes cover 16-deep
# ``..`` chains (crawl URLs are depth-capped far below this by url_quality).
URL_DOT_ITERS = 16


def url_normalize(frontier: DataFrame) -> DataFrame:
    """RFC 3986 §6 syntax-based URL normalization — the canonicalization a
    crawl frontier applies before dedup, so ``HTTP://Host:80/a/../b#x`` and
    ``http://host/b`` collapse to one fetch.

    Rules (each a pure-Catalyst rewrite over one projection, zero shuffle):
    scheme and host lowercased; default ports dropped (http:80, https:443);
    dot-segments resolved per §5.2.4 via a bounded regexp fixpoint
    (:data:`URL_DOT_ITERS` passes — each pass strips ``/.`` segments, then
    collapses one ``/seg/..`` level, then clamps a leading ``/..`` at the
    root); empty path → ``/``; fragment dropped; query parameters sorted
    bytewise with empties removed, bare ``?`` dropped.

    Documented profile bounds: percent-encoding is left untouched (no
    decode/re-encode pass) and empty path segments (``//``) pass through
    the dot rules unchanged — both are flagged, not silently mangled, by
    ``changed`` being false for already-canonical URLs.

    This is the SEMANTICS-PRESERVING twin of :func:`normalize_url` (the
    lossy crawl-dedup key, which additionally strips ``www.``, tracking
    params, and trailing slashes): every rewrite here identifies the same
    resource per RFC 3986 §6.2.2.
    """
    u = F.col("url")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    auth = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1)
    host = F.lower(F.regexp_extract(auth, r"^([^:]*)", 1))
    port = F.regexp_extract(auth, r":([0-9]+)$", 1)
    keep_port = (port != "") & ~(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    rawpath = F.regexp_extract(
        u, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)", 1
    )
    p = F.when(rawpath == "", F.lit("/")).otherwise(rawpath)
    for _ in range(URL_DOT_ITERS):
        # '.' segments vanish mid-path, leave a trailing '/' at the end
        # (RFC: "/." → "/"); '..' pops one segment, again keeping the
        # trailing '/' when it ends the path; a leading '..' clamps at
        # the root.  Guards keep a '..' segment from popping itself.
        p = F.regexp_replace(p, r"/\.(?=/)", "")
        p = F.regexp_replace(p, r"/\.$", "/")
        p = F.regexp_replace(p, r"/(?!\.\./)[^/]+/\.\.(?=/)", "")
        p = F.regexp_replace(p, r"/(?!\.\./)[^/]+/\.\.$", "/")
        p = F.regexp_replace(p, r"^/\.\.(?=/)", "")
        p = F.regexp_replace(p, r"^/\.\.$", "/")
    p = F.when(p == "", F.lit("/")).otherwise(p)
    # query = text between the FIRST '?' and '#', and only when that '?'
    # precedes any '#' — a '?' inside the fragment is fragment content,
    # not a query (review catch: '/a#sec?x=1' has no query).
    qraw = F.regexp_extract(u, r"^[^#?]*\?([^#]*)", 1)
    qn = F.array_join(
        F.array_sort(F.filter(F.split(qraw, "&"), lambda x: x != "")), "&"
    )
    norm = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        p,
        F.when(qn != "", F.concat(F.lit("?"), qn)).otherwise(F.lit("")),
    )
    return frontier.select("url").distinct().select(
        "url",
        scheme.alias("scheme"),
        host.alias("host"),
        norm.alias("norm_url"),
        (norm != u).alias("changed"),
    )


def parse_robots(robots_txts: DataFrame) -> DataFrame:
    """Raw robots.txt text → the (host, agent, rule, path_prefix) rules
    table :func:`robots_filter` consumes — RFC 9309 line grammar:
    ``#`` comments stripped, directives case-insensitive, CONSECUTIVE
    ``User-agent`` lines share one group (their rules apply to every
    listed agent), rules before any user-agent line are ignored, non-rule
    directives (``Sitemap``, ``Crawl-delay``) pass through parsing but
    emit no rows.

    Pure Catalyst: posexplode lines → directive/value projections → two
    windows over (host, line-pos) — a lag to detect group starts and a
    running sum for group ids — then the group's agent list joins its
    rule list (both tiny per host).  Robots files are KBs; the windows
    partition per host, so no single task ever sees more than one file.
    """
    from pyspark.sql import Window

    lines = robots_txts.select(
        "host",
        F.posexplode(F.split(F.col("robots_txt"), "\n")).alias("pos", "raw"),
    ).select(
        "host",
        "pos",
        F.trim(F.regexp_replace("raw", "#.*$", "")).alias("line"),
    ).filter(F.col("line") != "")
    parsed = lines.select(
        "host",
        "pos",
        F.lower(F.regexp_extract("line", r"^([A-Za-z-]+)\s*:", 1)).alias("directive"),
        F.trim(F.regexp_extract("line", r":\s*(.*)$", 1)).alias("value"),
    ).filter(F.col("directive") != "")
    w = Window.partitionBy("host").orderBy("pos")
    is_ua = F.col("directive") == "user-agent"
    grouped = parsed.withColumn(
        "group_start",
        (is_ua & (F.coalesce(F.lag("directive").over(w), F.lit("")) != "user-agent"))
        .cast("int"),
    ).withColumn("group_id", F.sum("group_start").over(w))
    agents = (
        grouped.filter(is_ua)
        .select("host", "group_id", F.col("value").alias("agent"))
        .distinct()
    )
    rules = grouped.filter(
        F.col("directive").isin("allow", "disallow")
        & (F.col("group_id") > 0)        # rules before any user-agent: ignored
        & (F.col("value") != "")         # empty Disallow: means allow-all, no row
    ).select(
        "host", "group_id", F.col("directive").alias("rule"),
        F.col("value").alias("path_prefix"),
    )
    return agents.join(rules, ["host", "group_id"]).select(
        "host", "agent", "rule", "path_prefix"
    )
