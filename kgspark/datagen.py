"""Deterministic synthetic web_pages generator (FIXTURES.md §1).

Generates the authoritative input shape
``web_pages(url string, warc_ts timestamp, html binary, text string, lang string)``
fully seeded — html is rendered from small templates and ``text`` is the
golden extraction output under the :mod:`kgspark.html_extract` contract, so
the byte-identity digest check is exact by construction.

Sentences embed typed entity mentions from a closed vocabulary
("{SUBJ} {predicate phrase} {OBJ}.") so triple extraction is checkable.
The corpus deliberately includes:
  * duplicate-content pages (same text, different url)      — doc-dedup (A4/J1)
  * empty / whitespace-only pages                           — drop filter (P4)
  * alias surface forms of the same real-world entity       — linking/canon
  * a skewed hot domain + a head entity with many mentions  — skew/salting
  * relations referencing entities never defined in-doc     — drop-unknown (J2)
"""

from __future__ import annotations

import datetime as dt
import hashlib
import html as html_mod
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# (name, type) — closed typed vocabulary for the web fixture, including
# Symptom/Disease so the reference's symptom→disease BFS stays exercisable
# verbatim (routes/graph.rs:389-395).
WEB_ENTITIES: list[tuple[str, str]] = [
    ("Ada Lovelace", "Person"),
    ("Alan Turing", "Person"),
    ("Acme Corp", "Organization"),
    ("Globex", "Organization"),
    ("IBM", "Organization"),
    ("International Business Machines", "Organization"),  # alias of IBM
    ("I.B.M.", "Organization"),                            # alias of IBM
    ("London", "Place"),
    ("Paris", "Place"),
    ("Analytical Engine", "Product"),
    ("Enigma Machine", "Product"),
    ("World Fair", "Event"),
    ("On Computable Numbers", "Work"),
    ("Fatigue", "Symptom"),
    ("Fever", "Symptom"),
    ("Headache", "Symptom"),
    ("Influenza", "Disease"),
    ("Anemia", "Disease"),
]

# Predicate phrases; the extractor normalizes them by joining with '_'.
PREDICATES = [
    "works at",
    "founded",
    "lives in",
    "visited",
    "created",
    "wrote",
    "indicates",
    "is treated in",
    "collaborated with",
]

# Entities referenced in relations but never defined in any sentence's
# subject position with a type marker — exercises drop-unknown (J2).
UNDEFINED_ENTITIES = ["Phantom Widget", "Ghost Org"]

SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

_BASE_TS = dt.datetime(2025, 1, 1, 0, 0, 0)


def _rng(seed: int, *parts) -> random.Random:
    key = ":".join(str(p) for p in parts)
    h = hashlib.sha256(f"{seed}:{key}".encode()).digest()
    return random.Random(int.from_bytes(h[:8], "big"))


def _sentence(r: random.Random) -> str:
    subj, _ = r.choice(WEB_ENTITIES)
    pred = r.choice(PREDICATES)
    obj, _ = r.choice(WEB_ENTITIES)
    return f"{subj} {pred} {obj}."


def _unknown_sentence(r: random.Random) -> str:
    subj = r.choice(UNDEFINED_ENTITIES)
    pred = r.choice(PREDICATES)
    obj, _ = r.choice(WEB_ENTITIES)
    return f"{subj} {pred} {obj}."


def _render_doc(seed: int, i: int, n_docs: int) -> tuple[str, dt.datetime, bytes, str, str]:
    r = _rng(seed, "doc", i)
    # skewed hot domain: ~20% of pages on one site (skew-test surface)
    site = "hot" if r.random() < 0.2 else f"site{r.randrange(8)}"
    url = f"https://example-{site}.test/section{r.randrange(4)}/{i}"
    ts = _BASE_TS + dt.timedelta(minutes=i)
    lang = r.choices(["en", "de", "fr"], weights=[8, 1, 1])[0]

    kind = i % 20
    if kind == 17:
        # empty page
        return url, ts, b"<html><body></body></html>", "", lang
    if kind == 18:
        # whitespace-only page
        return url, ts, "<html><body><p>   \n\t </p></body></html>".encode(), "", lang
    if kind == 19 and i >= 20:
        # exact duplicate of an earlier page's content, different url
        _, _, html_b, text, _ = _render_doc(seed, i - 19, n_docs)
        return url, ts, html_b, text, lang

    n_sent = 2 + r.randrange(4)
    sents = [_sentence(r) for _ in range(n_sent)]
    if kind == 16:
        sents.append(_unknown_sentence(r))
    title = f"Page {i} of example-{site}"
    paras = [" ".join(sents[j::2]) for j in range(2) if sents[j::2]]

    # golden text under the extraction contract: title + blocks joined by \n
    blocks = [title] + [p for p in paras if p.strip()]
    text = "\n".join(blocks)

    esc = html_mod.escape
    body_parts = [
        "<nav>home | about | ignored boilerplate</nav>",
        f"<h1>{esc(title)}</h1>",
    ]
    for p in paras:
        body_parts.append(f"<p>{esc(p)}</p>")
    body_parts.append("<footer>© example.test — ignored</footer>")
    body_parts.append("<script>var x = 'ignored';</script>")
    # a few malformed-tag cases (unclosed <b>) — html.parser recovers
    if kind == 15:
        body_parts.insert(2, "<p><b>bold run-on</p>")
        blocks.insert(1, "bold run-on")
        text = "\n".join(blocks)
    html_doc = (
        "<html><head><title></title></head><body>"
        + "".join(body_parts)
        + "</body></html>"
    )
    return url, ts, html_doc.encode("utf-8"), text, lang


def web_pages_rows(n_docs: int, seed: int = 42):
    """Generate rows driver-side (fine up to ~100k docs; bench uses Spark gen)."""
    return [_render_doc(seed, i, n_docs) for i in range(n_docs)]


def web_pages(spark: SparkSession, n_docs: int, seed: int = 42) -> DataFrame:
    """Small-scale driver-side generation (tests, correctness fixtures)."""
    return spark.createDataFrame(web_pages_rows(n_docs, seed), SCHEMA)


def web_pages_distributed(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    partitions: int = 32,
    lo: int = 0,
    hi: int | None = None,
) -> DataFrame:
    """Executor-side generation for bench scale — no driver materialization.

    ``spark.range`` partitions the id space; each executor renders its ids
    with the same seeded generator (mapInPandas, Arrow-batched).  ``lo``/``hi``
    select an id-range shard of the same corpus (the scaling bench's
    executor-model runs give each worker JVM one shard).
    """
    import pandas as pd

    if hi is None:
        hi = n_docs

    def gen(batches):
        for pdf in batches:
            rows = [_render_doc(seed, int(i), n_docs) for i in pdf["id"]]
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return (
        spark.range(lo, hi, numPartitions=partitions)
        .mapInPandas(gen, schema=SCHEMA)
    )


# ------------------------------------------------ planted-duplicate embeddings

PLANTED_N_BASE = 240
PLANTED_N_DUP = 60
PLANTED_DIM = 64
PLANTED_SEED = 7


def planted_embeddings_rows(
    n_base: int = PLANTED_N_BASE,
    n_dup: int = PLANTED_N_DUP,
    dim: int = PLANTED_DIM,
    seed: int = PLANTED_SEED,
) -> list[tuple[int, list[float]]]:
    """Deterministic embedding corpus with PLANTED near-duplicates.

    Base vectors are iid gaussian; duplicate j perturbs base ``j % n_base``
    with gaussian noise at one of three amplitudes, landing pair cosines
    ~0.93..0.99 — all above the 0.9 near-dup threshold.  This is the
    recall-gate fixture for the LSH dedup operator (the driver's shared
    embeddings table has no pairs above cosine ~0.5, so recall there is
    vacuous).  Doubles end-to-end: the same Python floats feed the Spark
    frame and the independent oracle, so there is no float32 truncation step
    to diverge on.
    """
    rows: list[tuple[int, list[float]]] = []
    base: list[list[float]] = []
    for i in range(n_base):
        r = _rng(seed, "base", i)
        v = [r.gauss(0.0, 1.0) for _ in range(dim)]
        base.append(v)
        rows.append((i, v))
    for j in range(n_dup):
        r = _rng(seed, "dup", j)
        eps = (0.2, 0.3, 0.4)[j % 3]
        v = base[j % n_base]
        rows.append(
            (n_base + j, [x + eps * r.gauss(0.0, 1.0) for x in v])
        )
    return rows


def planted_embeddings(spark: SparkSession, **kw) -> DataFrame:
    return spark.createDataFrame(
        planted_embeddings_rows(**kw), "vec_id long, embedding array<double>"
    )

# ------------------------------------------------ messy crawl-URL variants

# Tracking parameters a crawl canonicalizer strips (the common CC/C4 set).
URL_TRACKING_PARAMS = (
    "utm_source=feed",
    "utm_medium=email",
    "utm_campaign=q3",
    "gclid=g123",
    "fbclid=f9",
    "ref=home",
)

CRAWL_URL_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("text", StringType(), False),
    ]
)


def crawl_url_variants_rows(n_base: int = 120, seed: int = 7) -> list[tuple[str, str]]:
    """Messy crawl-frontier URLs: each base page re-appears under 0-3
    syntactic variants (tracking params, fragments, ``www.``/case noise,
    default ports, trailing slashes, shuffled param order) carrying the
    SAME text — the input shape URL canonicalization exists to collapse.
    Separate from :func:`web_pages` (which feeds the driver-scoreboard
    queries and must stay byte-stable); fully seeded and driver-side.
    """
    r = random.Random(seed)
    rows: list[tuple[str, str]] = []
    for i in range(n_base):
        site = r.randrange(6)
        text = f"crawl page {i} body content from site {site}"
        params = [f"id={i}"] if r.random() < 0.3 else []
        base_q = "?" + "&".join(params) if params else ""
        rows.append((f"https://example-site{site}.test/page/{i}{base_q}", text))
        for _ in range(r.randrange(4)):
            scheme = "HTTPS" if r.random() < 0.2 else "https"
            host = f"example-site{site}.test"
            if r.random() < 0.3:
                host = "www." + host
            if r.random() < 0.3:
                host = host.upper()
            port = ":443" if r.random() < 0.25 else ""
            path = f"/page/{i}" + ("/" if r.random() < 0.4 else "")
            ps = list(params)
            for tp in URL_TRACKING_PARAMS:
                if r.random() < 0.3:
                    ps.append(tp)
            r.shuffle(ps)
            q = "?" + "&".join(ps) if ps else ""
            frag = "#top" if r.random() < 0.3 else ""
            rows.append((f"{scheme}://{host}{port}{path}{q}{frag}", text))
    return rows


def crawl_url_variants(spark: SparkSession, n_base: int = 120, seed: int = 7) -> DataFrame:
    return spark.createDataFrame(crawl_url_variants_rows(n_base, seed), CRAWL_URL_SCHEMA)


CRAWL_LINK_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("html", BinaryType(), False),
    ]
)


def crawl_link_pages_rows(n_pages: int = 150, seed: int = 11) -> list[tuple[str, bytes]]:
    """Crawl pages whose HTML carries ``<a href>`` anchors — the input
    shape hyperlink-graph extraction exists for: absolute cross-host links
    (with ``www.``/case noise the host normalization must collapse),
    root-relative links (resolve to the page's own host), and non-link
    hrefs (fragments, ``mailto:``, ``javascript:``) that must be dropped.
    Separate from :func:`web_pages` (byte-stable driver corpus); fully
    seeded and driver-side, like :func:`crawl_url_variants_rows`.
    """
    r = random.Random(seed)
    hosts = [f"linksite{i}.test" for i in range(8)]
    # Anchor texts mix entity surface forms (the WEB_ALIAS_DICT cluster,
    # with case noise the lower/trim normalization must collapse) and
    # non-entity boilerplate that anchor-text linking must drop.
    anchor_texts = [
        "IBM",
        "i.b.m.",
        "International Business Machines",
        "Acme Corp",
        "ACME Corporation",
        "click here",
        "read more",
        "anchor",
    ]
    rows: list[tuple[str, bytes]] = []
    for i in range(n_pages):
        host = hosts[r.randrange(len(hosts))]
        www = "www." if r.random() < 0.2 else ""
        url = f"https://{www}{host}/p/{i}"
        anchors = []
        for _ in range(r.randrange(6)):
            roll = r.random()
            if roll < 0.45:
                th = hosts[r.randrange(len(hosts))]
                if r.random() < 0.25:
                    th = "www." + th
                if r.random() < 0.2:
                    th = th.upper()
                target = f"https://{th}/p/{r.randrange(n_pages)}"
            elif roll < 0.7:
                target = f"/p/{r.randrange(n_pages)}"
            elif roll < 0.8:
                target = f"#frag{r.randrange(5)}"
            elif roll < 0.9:
                target = "mailto:admin@example.test"
            else:
                target = "javascript:void(0)"
            text = anchor_texts[r.randrange(len(anchor_texts))]
            anchors.append(f'<a class="l" href="{target}">{text}</a>')
        html = (
            f"<html><body><h1>page {i}</h1><p>crawl body {i}</p>"
            f"{''.join(anchors)}</body></html>"
        )
        rows.append((url, html.encode("utf-8")))
    return rows


def crawl_link_pages(spark: SparkSession, n_pages: int = 150, seed: int = 11) -> DataFrame:
    return spark.createDataFrame(crawl_link_pages_rows(n_pages, seed), CRAWL_LINK_SCHEMA)


CRAWL_REDIRECT_SCHEMA = StructType(
    [
        StructField("src_url", StringType(), False),
        StructField("dst_url", StringType(), False),
    ]
)


def crawl_redirects_rows(n_chains: int = 40, seed: int = 13) -> list[tuple[str, str]]:
    """HTTP redirect edges: chains of length 1-6 ending at a terminal page
    (a URL that is not itself a redirect source), plus one planted 3-cycle
    — the pathological shape (redirect loops exist in real crawls) that
    pointer jumping must mark unresolved instead of looping on.  Seeded
    and driver-side like the other crawl fixtures.
    """
    r = random.Random(seed)
    rows: list[tuple[str, str]] = []
    uid = 0
    for _ in range(n_chains):
        length = 1 + r.randrange(6)
        chain = [f"https://r{r.randrange(5)}.test/u{uid + j}" for j in range(length + 1)]
        uid += length + 1
        for a, b in zip(chain, chain[1:]):
            rows.append((a, b))
    cyc = [f"https://rc.test/c{j}" for j in range(3)]
    rows += [(cyc[0], cyc[1]), (cyc[1], cyc[2]), (cyc[2], cyc[0])]
    return rows


def crawl_redirects(spark: SparkSession, n_chains: int = 40, seed: int = 13) -> DataFrame:
    return spark.createDataFrame(crawl_redirects_rows(n_chains, seed), CRAWL_REDIRECT_SCHEMA)


CRAWL_ROBOTS_SCHEMA = StructType(
    [
        StructField("host", StringType(), False),
        StructField("agent", StringType(), False),
        StructField("rule", StringType(), False),       # 'allow' | 'disallow'
        StructField("path_prefix", StringType(), False),
    ]
)


def crawl_robots_rows(seed: int = 17) -> list[tuple[str, str, str, str]]:
    """Parsed robots.txt rule groups for the crawl-fixture hosts (RFC 9309
    shapes, literal path prefixes): every host has a ``*`` group; some also
    have a ``kgbot`` group that OVERRIDES ``*`` (group selection, not
    merge — the spec rule crawlers get wrong most often); longest-match
    pairs (``/page/1`` vs ``/page/11``) exercise specificity; one host
    disallows ``/`` for ``*`` but allows kgbot back in.  Hosts absent here
    (e.g. the ``www.``-variant hosts) default to allow-all.
    """
    r = random.Random(seed)
    rows: list[tuple[str, str, str, str]] = []
    for site in range(6):
        host = f"example-site{site}.test"
        if site == 0:
            # blanket disallow for *, kgbot group re-allows a subtree
            rows += [
                (host, "*", "disallow", "/"),
                (host, "kgbot", "disallow", "/"),
                (host, "kgbot", "allow", "/page/1"),
            ]
            continue
        if site == 1:
            # longest-match specificity ladder in the * group
            rows += [
                (host, "*", "disallow", "/page/1"),
                (host, "*", "allow", "/page/11"),
                (host, "*", "disallow", "/page/113"),
            ]
            continue
        # sites 2-5: seeded mix of * rules; site 3 gets a kgbot group
        for _ in range(2 + r.randrange(3)):
            kind = "disallow" if r.random() < 0.6 else "allow"
            rows.append((host, "*", kind, f"/page/{r.randrange(12)}"))
        if site == 3:
            rows.append((host, "kgbot", "allow", "/"))
    return rows


def crawl_robots(spark: SparkSession, seed: int = 17) -> DataFrame:
    return spark.createDataFrame(crawl_robots_rows(seed), CRAWL_ROBOTS_SCHEMA)


WARC_FILES_SCHEMA = StructType(
    [
        StructField("file_name", StringType(), False),
        StructField("content", BinaryType(), False),
    ]
)


def warc_files_rows(
    n_docs: int = 160, n_files: int = 4, seed: int = 42
) -> list[tuple[str, bytes]]:
    """The web corpus re-containerized as Common-Crawl-style WARC files:
    contiguous doc shards, member-per-record gzip, a warcinfo head record
    per file, and (file 0 only) a trailing ``request`` record so ingest
    provably skips non-response types.  Same (n_docs, seed) as the pages
    fixture, so the WARC path and the direct path describe one corpus and
    the byte-identity digest gate can compare them per url."""
    from . import warccodec

    pages = [
        (url, ts.strftime("%Y-%m-%dT%H:%M:%SZ"), html)
        for url, ts, html, _text, _lang in web_pages_rows(n_docs, seed)
    ]
    per = (len(pages) + n_files - 1) // n_files
    out: list[tuple[str, bytes]] = []
    for k in range(n_files):
        shard = pages[k * per : (k + 1) * per]
        extra = None
        if k == 0 and shard:
            req = warccodec.make_record(
                "request",
                warccodec.http_response_block(b"", status=200),
                url=shard[0][0],
                date=shard[0][1],
                content_type="application/http; msgtype=request",
            )
            extra = [req]
        # the first response of every file is stored with chunked
        # transfer framing — every shard exercises the dechunk path
        chunked = {shard[0][0]} if shard else set()
        out.append(
            (
                f"crawl-{seed}-{k:05d}.warc.gz",
                warccodec.make_warc(
                    shard, gzip_members=True, extra_records=extra,
                    chunk_urls=chunked,
                ),
            )
        )
    return out


def warc_files(
    spark: SparkSession, n_docs: int = 160, n_files: int = 4, seed: int = 42
) -> DataFrame:
    return spark.createDataFrame(warc_files_rows(n_docs, n_files, seed), WARC_FILES_SCHEMA)


def warc_files_distributed(
    spark: SparkSession,
    n_docs: int = 40000,
    n_files: int = 64,
    seed: int = 42,
    partitions: int | None = None,
) -> DataFrame:
    """Bench-scale WARC corpus, rendered EXECUTOR-SIDE: ``spark.range`` over
    file ordinals, each task renders its contiguous doc shard and muxes one
    member-per-record gzip WARC file — no driver materialization, the same
    discipline as :func:`web_pages_distributed`.  Same (seed, n_docs) ↦ same
    bytes regardless of partitioning."""
    import pandas as pd

    per = (n_docs + n_files - 1) // n_files

    def gen(batches):
        from . import warccodec

        for pdf in batches:
            rows = []
            for k in pdf["id"]:
                k = int(k)
                lo, hi = k * per, min((k + 1) * per, n_docs)
                pages = [
                    (url, ts.strftime("%Y-%m-%dT%H:%M:%SZ"), html)
                    for url, ts, html, _t, _l in (
                        _render_doc(seed, i, n_docs) for i in range(lo, hi)
                    )
                ]
                rows.append(
                    (
                        f"crawl-{seed}-{k:05d}.warc.gz",
                        warccodec.make_warc(pages, gzip_members=True),
                    )
                )
            yield pd.DataFrame(rows, columns=["file_name", "content"])

    return spark.range(
        0, n_files, numPartitions=partitions or min(n_files, 32)
    ).mapInPandas(gen, WARC_FILES_SCHEMA)


CRAWL_SNAPSHOT_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("content_sha", StringType(), False),
    ]
)


def crawl_snapshot_rows(
    which: str, n_docs: int = 160, seed: int = 42
) -> list[tuple[str, str]]:
    """Two deterministic crawl snapshots of the web corpus for recrawl-diff:
    ``old`` = every page with its golden-text digest; ``new`` = same corpus
    one crawl later — every 20th page (kind 3) is gone, kinds 7/11 changed
    content (digest moved), plus 12 urls that did not exist before."""
    assert which in ("old", "new")
    rows: list[tuple[str, str]] = []
    for i, (url, _ts, _html, text, _lang) in enumerate(web_pages_rows(n_docs, seed)):
        kind = i % 20
        if which == "old":
            rows.append((url, hashlib.sha256(text.encode("utf-8")).hexdigest()))
        else:
            if kind == 3:
                continue  # page gone
            body = text + " v2" if kind in (7, 11) else text
            rows.append((url, hashlib.sha256(body.encode("utf-8")).hexdigest()))
    if which == "new":
        for j in range(12):
            rows.append(
                (
                    f"https://example-new.test/{j}",
                    hashlib.sha256(f"new page {j}".encode("utf-8")).hexdigest(),
                )
            )
    return rows


def crawl_snapshot(
    spark: SparkSession, which: str, n_docs: int = 160, seed: int = 42
) -> DataFrame:
    return spark.createDataFrame(
        crawl_snapshot_rows(which, n_docs, seed), CRAWL_SNAPSHOT_SCHEMA
    )


_RECRAWL_SENTENCE = "Acme Corp founded Globex."
_NEW_PAGE_SENTENCES = [
    "Alan Turing visited Paris.",
    "Ada Lovelace wrote On Computable Numbers.",
    "Globex works at London.",
]


def crawl2_web_rows(n_docs: int = 160, seed: int = 42):
    """The recrawl as full web rows (url, ts, html, golden text, lang):
    same corpus 30 days later under the crawl-snapshot rules — every 20th
    page (kind 3) is gone, kinds 7/11 changed bytes (an appended entity
    sentence, so the payload digest moves AND the KG can change),
    everything else byte-identical (revisit candidates), plus 12 pages
    that did not exist in crawl 1 (the first 3 carrying entity sentences).
    Golden text follows the extraction contract: appended <p> blocks
    append their text as new newline-joined blocks."""
    rows = []
    for i, (url, ts, html, text, lang) in enumerate(web_pages_rows(n_docs, seed)):
        kind = i % 20
        ts2 = ts + dt.timedelta(days=30)
        if kind == 3:
            continue
        if kind in (7, 11):
            html = html.replace(
                b"</body>",
                f"<p>{_RECRAWL_SENTENCE}</p></body>".encode("ascii"),
                1,
            )
            text = (text + "\n" if text else "") + _RECRAWL_SENTENCE
        rows.append((url, ts2, html, text, lang))
    for j in range(12):
        body = _NEW_PAGE_SENTENCES[j] if j < 3 else f"new page {j}."
        rows.append(
            (
                f"https://example-new.test/{j}",
                dt.datetime(2025, 2, 1, 0, 0, 0),
                f"<html><body><p>{body}</p></body></html>".encode("ascii"),
                body,
                "en",
            )
        )
    return rows


def crawl2_pages_rows(
    n_docs: int = 160, seed: int = 42
) -> list[tuple[str, str, bytes]]:
    """:func:`crawl2_web_rows` in WARC page form (url, rfc3339 date, html)."""
    return [
        (url, ts.strftime("%Y-%m-%dT%H:%M:%SZ"), html)
        for url, ts, html, _t, _l in crawl2_web_rows(n_docs, seed)
    ]


def warc_files_second(spark: SparkSession, n_docs: int = 160, seed: int = 42) -> DataFrame:
    """Crawl 2 containerized as one WARC file (member-per-record gzip)."""
    from . import warccodec

    blob = warccodec.make_warc(crawl2_pages_rows(n_docs, seed), gzip_members=True)
    return spark.createDataFrame(
        [(f"crawl2-{seed}-00000.warc.gz", blob)], WARC_FILES_SCHEMA
    )


# (label, python-codec, http charset token, meta charset token, paragraph text)
_CHARSET_PAGES: list[tuple[str, str, str, str, str]] = [
    ("latin1-cafe", "iso-8859-1", "ISO-8859-1", "", "Le café est ouvert à Paris."),
    ("latin1-mueller", "iso-8859-1", "iso-8859-1", "", "Müller führt die Fabrik."),
    ("latin1-senor", "iso-8859-1", "ISO-8859-1", "", "El señor visitó São Paulo."),
    ("utf16le-greek", "utf-16-le", "UTF-16LE", "", "αβγ run of Greek letters."),
    ("utf16be-accents", "utf-16-be", "UTF-16BE", "", "Tête-à-tête résumé."),
    ("cp1252-euro", "cp1252", "windows-1252", "", "Price list: 99 € exactly."),
    ("utf8-plain", "utf-8", "utf-8", "", "Plain utf-8 page body."),
    ("none-declared", "utf-8", "", "", "No charset declared at all."),
    # HTTP silent → the <meta> tier decides (browser resolution order)
    ("meta-latin1", "iso-8859-1", "", "ISO-8859-1", "Señora Gómez è qui."),
    ("meta-httpequiv", "iso-8859-1", "", "iso-8859-1", "Café crème à gogo."),
    # HTTP wins over a LYING meta tag (html is really latin-1)
    ("http-beats-meta", "iso-8859-1", "ISO-8859-1", "utf-8", "Über-häufig."),
]


def charset_pages_rows() -> list[tuple[str, str, bytes, str]]:
    """Mixed-charset crawl pages (url, rfc3339 date, html bytes in the
    DECLARED encoding, http content-type): the transcode fixture.  The
    windows-1252 page is deliberately outside Catalyst's charset set —
    its 0x80 euro byte is invalid UTF-8, so it must surface as a per-doc
    extraction error, never a silent mojibake decode.  The meta-* pages
    leave HTTP silent and declare in-document (plain <meta charset> and
    the http-equiv form); http-beats-meta pins the resolution order."""
    rows = []
    for i, (label, codec, token, meta, text) in enumerate(_CHARSET_PAGES):
        if label == "meta-httpequiv":
            head = ('<head><meta http-equiv="Content-Type" '
                    f'content="text/html; charset={meta}"></head>')
        elif meta:
            head = f'<head><meta charset="{meta}"></head>'
        else:
            head = ""
        html = f"<html>{head}<body><p>{text}</p></body></html>".encode(codec)
        ct = f"text/html; charset={token}" if token else "text/html"
        rows.append(
            (f"https://charset.test/{label}", f"2025-03-01T00:00:{i:02d}Z", html, ct)
        )
    return rows


def warc_files_charset(spark: SparkSession) -> DataFrame:
    from . import warccodec

    blob = warccodec.make_warc(charset_pages_rows(), gzip_members=True)
    return spark.createDataFrame(
        [("crawl-charset-00000.warc.gz", blob)], WARC_FILES_SCHEMA
    )


SITEMAP_SCHEMA = StructType(
    [
        StructField("host", StringType(), False),
        StructField("xml", StringType(), False),
    ]
)


def sitemap_rows(seed: int = 29) -> list[tuple[str, str]]:
    """Deterministic sitemap.xml documents per host (sitemaps.org profile):
    full entries (loc+lastmod+priority), loc-only entries, XML-escaped
    query urls (&amp;), and whitespace-padded values."""
    r = random.Random(seed)
    rows = []
    for s in range(3):
        host = f"example-site{s}.test"
        entries = []
        for i in range(4 + r.randrange(4)):
            loc = f"https://{host}/page/{r.randrange(40)}"
            if s == 2 and i % 2 == 0:
                loc += f"?a={r.randrange(9)}&amp;b={r.randrange(9)}"
            parts = [f"<loc> {loc} </loc>"] if i % 3 == 0 else [f"<loc>{loc}</loc>"]
            if i % 2 == 0:
                parts.append(f"<lastmod>2025-0{1 + i % 9}-15</lastmod>")
            if i % 4 == 0:
                parts.append(f"<priority>0.{1 + r.randrange(9)}</priority>")
            entries.append("<url>" + "".join(parts) + "</url>")
        rows.append(
            (
                host,
                '<?xml version="1.0" encoding="UTF-8"?>\n'
                '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
                + "\n".join(entries)
                + "\n</urlset>",
            )
        )
    return rows


def sitemaps(spark: SparkSession, seed: int = 29) -> DataFrame:
    return spark.createDataFrame(sitemap_rows(seed), SITEMAP_SCHEMA)


def frontier_urls_rows(seed: int = 31) -> list[tuple[str]]:
    """Pre-fetch frontier with planted quality shapes: clean pages, deep
    paths, query-parameter explosions, digit-heavy session paths, and
    spam-token urls — the url_quality fixture."""
    r = random.Random(seed)
    rows: list[str] = []
    for i in range(30):  # clean
        rows.append(f"https://site{r.randrange(5)}.test/article/{r.randrange(50)}")
    for i in range(6):  # too deep
        depth = 9 + r.randrange(3)
        rows.append(
            "https://deep.test/" + "/".join(f"d{j}" for j in range(depth))
        )
    for i in range(6):  # query explosion
        n = 5 + r.randrange(4)
        q = "&".join(f"p{j}={r.randrange(9)}" for j in range(n))
        rows.append(f"https://tracker.test/page?{q}")
    for i in range(6):  # digit-heavy session paths
        rows.append(f"https://sess.test/{r.randrange(10**12)}/{r.randrange(10**10)}")
    for tok in ("casino", "xxx-movies", "best-viagra", "freebet-now"):
        rows.append(f"https://spam.test/{tok}/landing")
    # boundary cases: exactly at the depth and param limits (keep=True)
    rows.append("https://edge.test/" + "/".join(f"x{j}" for j in range(8)))
    rows.append("https://edge.test/p?" + "&".join(f"k{j}=1" for j in range(4)))
    return [(u,) for u in rows]


def frontier_urls(spark: SparkSession, seed: int = 31) -> DataFrame:
    return spark.createDataFrame(frontier_urls_rows(seed), "url string")


def messy_urls_rows() -> list[tuple[str]]:
    """URL-canonicalization fixture: one URL per RFC 3986 §6 normalization
    class the crawl frontier must collapse before dedup — scheme/host case,
    default ports, dot-segments (chained, nested, leading, trailing),
    fragments, query-parameter order, bare ``?``, empty paths — plus
    already-canonical and percent-encoded controls.  No empty path
    segments (``//``): outside the normalizer's documented profile."""
    return [
        (u,)
        for u in [
            "HTTPS://Example.TEST/a/b",
            "https://example.test:443/a",
            "http://example.test:80/a",
            "http://example.test:8080/a",
            "https://example.test",
            "https://example.test?b=2&a=1",
            "https://example.test/x/./y",
            "https://example.test/x/././y/.",
            "https://example.test/a/b/../c",
            "https://example.test/a/b/c/../../d",
            "https://example.test/../a",
            "https://example.test/a/..",
            "https://example.test/a/../b/../c",
            "https://example.test/a/b/#frag",
            "https://example.test/a?z=9&m=3&a=1#sec",
            "https://example.test/a?",
            "https://example.test/a?single=1",
            "https://example.test/a?b=2&b=1",
            "HTTP://WWW.Example.TEST:80/./a/../b?q=1#x",
            "https://example.test/a%2Fb/c",
            "https://example.test/a/b",
            "http://mixed.case.test/UPPER/Path",
            "https://sub.example.test:8443/deep/x/y/z/../../w?k=v&j=u",
            "https://example.test/.",
            "https://example.test/..",
            "https://example.test/a#sec?x=1",
            "https://example.test/a?q=1#frag?y=2",
        ]
    ]


def messy_urls(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(messy_urls_rows(), "url string")


def host_pages_rows() -> list[tuple[str, str]]:
    """Boilerplate-strip fixture: pages grouped by host with planted
    repeated lines at every decision boundary — site-wide nav/footer
    (boilerplate), a line on 2 of 7 host pages (fails the 30% ratio
    gate), a 3-of-5 nav (passes), a single-page promo (fails the n>=2
    floor), a 2-of-3 and 3-of-3 footer (floor boundary), a line repeated
    twice WITHIN one page (n_pages=1, never boilerplate), a line shared
    across hosts one page each (host-scoped, never boilerplate), a page
    left EMPTY after stripping, a whitespace-only page (emits the empty
    rewrite, not absence), and a host whose whitespace-only page is what
    holds a line under the 30% gate (every page counts toward the host)."""
    rows: list[tuple[str, str]] = []
    nav = "Home | About | Contact"
    foot = "(c) example press"
    for i in range(6):
        body = [nav, f"A story {i} begins.", f"Alpha body {i}.", foot]
        if i < 2:
            body.insert(2, "A twice line")  # 2 of 7 a.test pages: 28.6% < 30%
        rows.append((f"https://a.test/p{i}", "\n".join(body)))
    rows.append(
        ("https://a.test/x", "Cross-host shared line\nA extra page body.")
    )
    nav2 = "B-Nav: news sports weather"
    for i in range(4):
        ls = [f"B headline {i}."]
        if i < 3:
            ls.insert(0, nav2)  # 3 of 5 b.test pages: 60%
        if i == 2:
            ls.append("One-off promo banner")  # 1 page: below the floor
        rows.append((f"https://b.test/p{i}", "\n".join(ls)))
    rows.append(
        ("https://b.test/x", "Cross-host shared line\nB extra page body.")
    )
    for i in range(2):
        # "C promo line" on 2 of 3 c.test pages: the n>=2 floor boundary
        rows.append(
            (
                f"https://c.test/p{i}",
                f"C article {i}.\nC promo line\nC shared footer",
            )
        )
    rows.append(("https://c.test/p2", "C shared footer"))  # empty after strip
    rows.append(("https://e.test/p0", "   \n   \n"))  # spaces-only page
    # f.test: "F sidebar" on 2 of the host's 7 pages, one of which is
    # spaces-only: 2/7 = 28.6% < 30% keeps it, though it is on 2/6 = 33% of
    # the pages that have lines
    for i in range(6):
        ls = [f"F post {i}."] + (["F sidebar"] if i < 2 else [])
        rows.append((f"https://f.test/p{i}", "\n".join(ls)))
    rows.append(("https://f.test/blank", "  \n"))
    rows.append(
        (
            "https://d.test/p0",
            "D repeated line\nD unique middle.\nD repeated line",
        )
    )
    return rows


def host_pages(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(host_pages_rows(), "url string, text string")


def warc_files_links(spark: SparkSession, n_pages: int = 150, seed: int = 11) -> DataFrame:
    """The link-corpus (anchor-bearing pages) containerized as two WARC
    files — the WAT-derivation fixture."""
    from . import warccodec

    pages = [
        (url, (_BASE_TS + dt.timedelta(minutes=i)).strftime("%Y-%m-%dT%H:%M:%SZ"), html)
        for i, (url, html) in enumerate(crawl_link_pages_rows(n_pages, seed))
    ]
    half = (len(pages) + 1) // 2
    rows = [
        (f"crawl-links-{k:05d}.warc.gz", warccodec.make_warc(shard, gzip_members=True))
        for k, shard in enumerate((pages[:half], pages[half:]))
    ]
    return spark.createDataFrame(rows, WARC_FILES_SCHEMA)


def robots_txt_rows(seed: int = 17) -> list[tuple[str, str]]:
    """Raw robots.txt documents rendering :func:`crawl_robots_rows` as the
    wire text, plus grammar noise the parser must survive: comments,
    blank lines, mixed-case directives, spacing variants, a Sitemap line,
    Crawl-delay, an ignored rule BEFORE any user-agent group, and an
    empty ``Disallow:`` (allow-all, no rule row).  parse_robots over this
    must reproduce the crawl_robots_rows table exactly."""
    by_host: dict[str, dict[str, list[tuple[str, str]]]] = {}
    for host, agent, rule, pfx in crawl_robots_rows(seed):
        by_host.setdefault(host, {}).setdefault(agent, []).append((rule, pfx))
    rows = []
    for host in sorted(by_host):
        r = random.Random(f"{seed}:{host}")
        out = ["# robots.txt for " + host, ""]
        if r.random() < 0.5:
            out.append("Disallow: /ignored-no-group")  # before any UA: ignored
        for agent in sorted(by_host[host]):
            ua = "User-Agent" if r.random() < 0.5 else "user-agent"
            out.append(f"{ua}: {agent}")
            for rule, pfx in by_host[host][agent]:
                name = rule.capitalize() if r.random() < 0.7 else rule.upper()
                sep = ": " if r.random() < 0.7 else ":   "
                cmt = "   # note" if r.random() < 0.3 else ""
                out.append(f"{name}{sep}{pfx}{cmt}")
            if r.random() < 0.4:
                out.append("Crawl-delay: 5")
            out.append("")
        out.append("Sitemap: https://" + host + "/sitemap.xml")
        if r.random() < 0.4:
            out.append("Disallow:")  # empty = allow-all, emits no rule row
        rows.append((host, "\n".join(out)))
    return rows


def robots_txts(spark: SparkSession, seed: int = 17) -> DataFrame:
    return spark.createDataFrame(robots_txt_rows(seed), "host string, robots_txt string")
