"""Training-data text operations: dedup family, language ID, quality, fingerprints.

These are the large-scale corpus-pipeline operators layered on top of the KG
engine (the reference's only cross-doc linking idea is a commented-out ANN
prototype, runtime/src/examples/deduplication.rs:109-163 — here the family is
real and tested).

Scale design notes:
  * Everything except MinHash banding is a narrow projection (higher-order
    array functions) — zero shuffles until the final group/join.
  * MinHash signatures are computed per-row (narrow); LSH banding turns the
    O(n²) pair space into a per-band groupBy — ONE shuffle on band keys; the
    candidate self-join happens within buckets only.
  * The shared hash primitive is md5-derived 60-bit ints (`_hash60`), chosen
    because it is reproducible in any engine (the DuckDB oracle recomputes it
    exactly) — no dependence on Spark-internal hash functions.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import cache, ids, spec
from .session import LineageScope

# English function words used by the n-gram/stopword language heuristic.
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]

MINHASH_K = 16          # number of minhash permutations
LSH_BAND_ROWS = 4       # rows per band → 4 bands of 4
SHINGLE_N = 3           # token-shingle width
MINHASH_P = 2147483647  # 2^31-1: affine-permutation modulus (fits int64 math)


def _est_size_bytes(df: DataFrame) -> int:
    """Catalyst's optimizer size estimate for ``df`` (bytes, no execution)."""
    return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))


def _broadcast_threshold_bytes(spark) -> int:
    """spark.sql.autoBroadcastJoinThreshold in bytes (-1 → never broadcast)."""
    raw = str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    s = raw.strip().lower().removesuffix("b")
    if s and s[-1] in units:
        return int(float(s[:-1]) * units[s[-1]])
    return int(s)


def minhash_perm_coeffs(j: int) -> tuple[int, int]:
    """Seeded (a_j, b_j) for the j-th affine permutation, a_j != 0.

    Derived from md5 so any engine (the DuckDB oracle included) can
    reproduce them; exposed so oracle SQL generation shares the constants.
    """
    import hashlib

    a = int(hashlib.md5(f"mh-a:{j}".encode()).hexdigest()[:15], 16) % (MINHASH_P - 1) + 1
    b = int(hashlib.md5(f"mh-b:{j}".encode()).hexdigest()[:15], 16) % MINHASH_P
    return a, b


def _toks(text_col: str = "text") -> Column:
    return F.split(F.trim(F.col(text_col)), r"\s+")


def with_doc_identity(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """kg_doc_id + text digest columns (the per-url digest check surface)."""
    return docs.withColumn(
        "kg_doc_id", ids.doc_id(F.trim(F.col(text_col)))
    ).withColumn("text_sha256", F.sha2(F.col(text_col), 256))


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting + type-token ratio + vocab fingerprint per document
    (narrow, no shuffle).  Carries the :func:`fingerprint` column too — both
    projections read the same token array, so one frame covers the token-
    counting and document-fingerprint operator families in a single scan."""
    t = _toks(text_col)
    return docs.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        ids.doc_id(F.trim(F.col(text_col))).alias("kg_doc_id"),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        F.size(t).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("long").alias("n_distinct_tokens"),
        F.round(
            F.size(F.array_distinct(t)) / F.size(t), 6
        ).alias("type_token_ratio"),
        F.sha2(F.array_join(F.array_sort(F.array_distinct(t)), " "), 256).alias(
            "vocab_fingerprint"
        ),
    )


def _quality_counts_kernel():
    """Batch kernel for :func:`quality_score_arrow`: per-document INTEGER
    counts only (token / stopword / line / bigram cardinalities).  All
    division, rounding, and thresholding stays in Catalyst, so the kernel
    cannot drift from the DuckDB oracle on float formatting; only the
    split + set-distinct + stopword membership work moves to Python sets.
    """
    import pandas as pd

    stop = frozenset(EN_STOPWORDS)

    def gen(batches):
        for pdf in batches:
            out = {
                "kg_doc_id": [], "n_tokens": [], "n_stop": [],
                "trim_chars": [], "n_lines": [], "n_distinct_lines": [],
                "n_bi": [], "n_distinct_bi": [],
            }
            for doc_id, text in zip(pdf["kg_doc_id"], pdf["_text"]):
                toks = _split_ascii_ws(text) if text else []
                # lines: split raw text on \n, F.trim each, drop empties.
                # Deriving from the doc-trimmed _text is equivalent: doc trim
                # only strips spaces at the first line's head / last line's
                # tail, which the per-line trim strips anyway.
                lns = [l for l in (s.strip(" ") for s in text.split("\n")) if l]
                out["kg_doc_id"].append(doc_id)
                out["n_tokens"].append(len(toks))
                out["n_stop"].append(sum(1 for t in toks if t in stop))
                out["trim_chars"].append(len(text))
                out["n_lines"].append(len(lns))
                out["n_distinct_lines"].append(len(set(lns)))
                out["n_bi"].append(max(len(toks) - 1, 0))
                out["n_distinct_bi"].append(
                    len(set(zip(toks, toks[1:]))) if len(toks) >= 2 else 0
                )
            yield pd.DataFrame(out)

    return gen


def quality_score_arrow(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality signals: length, mean token length, stopword ratio,
    and Gopher-style repetition ratios (duplicate-line and duplicate-word-
    bigram fractions — boilerplate/spam markers in pre-training filters),
    plus the en/unknown language verdict the same stopword ratio drives.

    Arrow kernel, not Catalyst: the Catalyst formulation's higher-order
    lambdas (stopword `filter`+`array_contains`, `array_distinct` on lines
    and bigrams) are interpreted, never codegen'd — measured 2.20s vs 0.50s
    best-of-3 at sf0.1 (round 4).  The kernel
    (:func:`_quality_counts_kernel`) returns integer counts; the ratio,
    round and flag arithmetic stays in Catalyst.  The DuckDB oracle
    (``text_quality``) pins the result by value.
    """
    counts = _doc_text(docs, text_col).mapInPandas(
        _quality_counts_kernel(),
        schema=(
            "kg_doc_id string, n_tokens long, n_stop long, trim_chars long, "
            "n_lines long, n_distinct_lines long, n_bi long, n_distinct_bi long"
        ),
    )
    n_t = F.col("n_tokens")
    n_stop = F.col("n_stop")
    dup_line_ratio = F.when(
        F.col("n_lines") > 0,
        F.round((F.col("n_lines") - F.col("n_distinct_lines")) / F.col("n_lines"), 6),
    ).otherwise(F.lit(0.0))
    dup_bigram_ratio = F.when(
        F.col("n_bi") > 0,
        F.round((F.col("n_bi") - F.col("n_distinct_bi")) / F.col("n_bi"), 6),
    ).otherwise(F.lit(0.0))
    return counts.select(
        "kg_doc_id",
        n_t.alias("n_tokens"),
        F.round(F.col("trim_chars") / n_t, 6).alias("mean_token_len"),
        F.round(n_stop / n_t, 6).alias("stopword_ratio"),
        dup_line_ratio.alias("dup_line_ratio"),
        dup_bigram_ratio.alias("dup_bigram_ratio"),
        (
            (n_t >= 10)
            & (n_stop / n_t >= 0.05)
            & (dup_line_ratio <= 0.3)
            & (dup_bigram_ratio <= 0.2)
        ).alias("passes_quality"),
        F.when(F.round(n_stop / n_t, 6) >= 0.05, F.lit("en"))
        .otherwise(F.lit("unknown"))
        .alias("predicted_lang"),
    )


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-ratio language heuristic (en vs unknown).

    A real fastText-style model would ride in a pandas UDF; the heuristic is
    the deterministic, oracle-checkable stand-in with the same plan shape.
    """
    t = _toks(text_col)
    stop = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    score = F.round(
        F.size(F.filter(t, lambda x: F.array_contains(stop, x))) / F.size(t), 6
    )
    return docs.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        ids.doc_id(F.trim(F.col(text_col))).alias("kg_doc_id"),
        score.alias("en_score"),
        F.when(score >= 0.05, F.lit("en")).otherwise(F.lit("unknown")).alias(
            "predicted_lang"
        ),
    )


# PII categories for the curation scrub pass, applied IN THIS ORDER (each
# category counts against, then redacts, the output of the previous one —
# so an email's digit-bearing local part cannot double-count as a phone).
# Patterns restricted to the Java-regex ∩ RE2 common subset (\b, \d, ASCII
# classes, bounded repetition) so Spark and the DuckDB oracle execute the
# byte-identical pattern.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IPV4>"),
)


def pii_scan(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII detection + redaction per document (the standard pre-training
    curation scrub: emails, SSN-style ids, NANP-style phones, IPv4s).

    Pure Catalyst: four sequential ``regexp_count`` / ``regexp_replace``
    stages over the trimmed text — counts are taken against the running
    redacted text, so categories never double-count each other's spans
    (order pinned by :data:`PII_PATTERNS`).  The full redaction rewrite is
    pinned by ``redacted_sha256`` — the oracle verifies every replaced byte
    without the query shipping the (corpus-sized) redacted text column.

    Scale shape: narrow projection, zero shuffle, zero Python — regex
    evaluation rides whole-stage codegen over the pruned (text) column.
    """
    cur = F.trim(F.col(text_col))
    cols = []
    total = F.lit(0).cast("long")
    for name, pat, repl in PII_PATTERNS:
        n = F.regexp_count(cur, F.lit(pat)).cast("long")
        cols.append(n.alias(f"n_{name}"))
        total = total + n
        cur = F.regexp_replace(cur, pat, repl)
    return docs.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        ids.doc_id(F.trim(F.col(text_col))).alias("kg_doc_id"),
        *cols,
        (total > 0).alias("has_pii"),
        F.sha2(cur, 256).alias("redacted_sha256"),
    )


def readability(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade per document — the
    classic readability pair used as a corpus-curation signal (too-low
    ease flags boilerplate/code, too-high flags trivial fragments).

    Deterministic proxies so the oracle can restate them exactly: words
    are ASCII letter runs, sentences are terminator runs (``[.!?]+``,
    min 1), syllables are vowel-group counts per word (``[aeiouy]+``,
    min 1 per word — the standard heuristic).  Both scores are computed
    from the same integer triple with identical association on both
    sides, rounded to 6 decimals.

    Pure Catalyst: two ``regexp_extract_all`` projections and one array
    fold — narrow, zero shuffle, zero Python; per-doc cost is O(bytes)
    and the plan is scan→project at any corpus size.
    """
    words = F.regexp_extract_all(F.col(text_col), F.lit("[A-Za-z]+"), 0)
    n_words = F.size(words).cast("long")
    n_sent = F.greatest(
        F.lit(1).cast("long"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit("[.!?]+"), 0)).cast(
            "long"
        ),
    )
    syl = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + F.greatest(
            F.lit(1).cast("long"),
            F.size(F.regexp_extract_all(F.lower(w), F.lit("[aeiouy]+"), 0)).cast(
                "long"
            ),
        ),
    )
    syl_per_w = F.col("n_syllables") / F.col("n_words")
    base = docs.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        ids.doc_id(F.trim(F.col(text_col))).alias("kg_doc_id"),
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        syl.alias("n_syllables"),
    )
    wps = F.col("n_words") / F.col("n_sentences")
    return base.filter(F.col("n_words") > 0).select(
        "kg_doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * syl_per_w, 6
        ).alias("flesch_ease"),
        F.round(
            F.lit(0.39) * wps + F.lit(11.8) * syl_per_w - F.lit(15.59), 6
        ).alias("fk_grade"),
    )


def c4_line_clean(
    pages: DataFrame, text_col: str = "text", key_col: str = "url"
) -> DataFrame:
    """C4-style line-level cleanup (the Raffel et al. 2020 heuristics, the
    deterministic subset): keep a trimmed nonempty line iff it ends in a
    terminal punctuation mark (``. ! ? "``), has >= 3 whitespace tokens,
    and contains neither the word "javascript" (any case) nor a ``{``.
    ``passes_c4`` mirrors C4's >= 3 retained sentences page gate.

    The cleaned page (kept lines re-joined with ``\\n``) is pinned by
    ``cleaned_sha256`` — the oracle verifies the byte-exact rewrite without
    the query shipping a corpus-sized text column.

    Pure Catalyst HOFs over the split-line array: narrow projection, zero
    shuffle, zero Python — per-page cost is O(page bytes) and the plan is
    scan→project at any corpus size.
    """
    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    kept = F.filter(
        lines,
        lambda x: x.rlike(r'[.!?"]$')
        & (F.size(F.split(x, r"\s+")) >= 3)
        & ~F.contains(F.lower(x), F.lit("javascript"))
        & ~F.contains(x, F.lit("{")),
    )
    return pages.select(
        F.col(key_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        (F.size(kept) >= 3).alias("passes_c4"),
        F.sha2(F.array_join(kept, "\n"), 256).alias("cleaned_sha256"),
    )


# BPE-ish pre-tokenization classes: letter runs, digit runs, single
# punctuation marks (the GPT-2 pattern family minus unicode categories).
BPE_SPLIT_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting under a BPE-ish pre-tokenizer regex (narrow, no UDF).

    ``regexp_extract_all`` stays in codegen; counts approximate what a real
    BPE vocabulary would see far better than whitespace splits (punctuation
    detaches, digit runs separate).
    """
    toks = F.regexp_extract_all(F.col(text_col), F.lit(BPE_SPLIT_PATTERN), 0)
    return docs.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        ids.doc_id(F.trim(F.col(text_col))).alias("kg_doc_id"),
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_bpe_tokens"),
    )


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Order-insensitive document fingerprint: sha256 of the sorted vocab set."""
    t = _toks(text_col)
    return docs.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        ids.doc_id(F.trim(F.col(text_col))).alias("kg_doc_id"),
        F.sha2(F.array_join(F.array_sort(F.array_distinct(t)), " "), 256).alias(
            "vocab_fingerprint"
        ),
    )


def dedup_exact(docs: DataFrame, text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash, first-wins by smallest source key.

    Mirrors the reference's enqueue dedup (A4, pipeline/pipeline.rs:461-470:
    ``unique_contents`` keeps the first file_path per content).  One shuffle
    on the content hash (uniform by construction — no skew).
    """
    return (
        docs.filter(F.length(F.trim(F.col(text_col))) > 0)
        .groupBy(F.sha2(F.trim(F.col(text_col)), 256).alias("content_sha256"))
        .agg(
            F.min(key_col).alias("keep_key"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _hash60(col: Column) -> Column:
    """Engine-portable 60-bit hash: int(md5(x)[0:15], 16).

    Reproducible in DuckDB as CAST('0x' || substr(md5(x),1,15) AS BIGINT);
    60 bits keeps it inside a signed int64 in every engine.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _ngrams(t: Column, n: int) -> Column:
    """Contiguous n-token shingles (order kept, duplicates kept; empty if
    < n tokens).  Built from zipped shifted slices so each token is touched
    once — NEVER sequence+element_at: indexed access inside an interpreted
    Catalyst lambda re-walks the array per element (measured 9-22x slower
    at sf0.1; see BENCH/BASELINE.md repetition-signal note)."""
    m = F.size(t) - (n - 1)
    acc = F.slice(t, 1, m)
    for j in range(1, n):
        acc = F.zip_with(
            acc, F.slice(t, 1 + j, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.when(F.size(t) >= n, acc).otherwise(
        F.array().cast("array<string>")
    )


REPETITION_NS = [2, 3, 5, 10]


def collocations(
    docs: DataFrame, text_col: str = "text", min_count: int = 5
) -> DataFrame:
    """Corpus-level collocation mining: every adjacent word pair occurring
    at least ``min_count`` times, with its PMI
    ``ln((n_pair/B) / ((n_w1/T) * (n_w2/T)))`` (T total tokens, B total
    bigram occurrences, both corpus-wide).

    The emitted ROW SET is integer-determined (the min_count filter), so
    engine comparison never rides on float ordering; PMI is a value column
    (round 6) like every other ratio.  Scale shape: two hash aggregates
    (bigram, unigram) on content keys, totals as broadcast 1-row
    aggregates, two term-key joins back — no windows, no driver collects.
    """
    t = _toks(text_col)
    base = docs.filter(F.length(F.trim(F.col(text_col))) > 0)
    uni = (
        base.select(F.explode(t).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    # uni feeds three branches (totals, w1 side, w2 side) — persist it so
    # the token explode + aggregate runs once (the contamination lesson).
    uni = cache.keyed_persist(uni, "collocations_uni")
    big = (
        base.select(F.explode(_ngrams(t, 2)).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
        # tokens cannot contain whitespace (they come from a \s+ split), so
        # splitting the joined gram recovers the pair exactly.
        .select(
            F.split(F.col("g"), " ").getItem(0).alias("w1"),
            F.split(F.col("g"), " ").getItem(1).alias("w2"),
            "n_pair",
        )
    )
    tot = uni.agg(
        F.sum("n_w").cast("double").alias("t_tokens")
    )
    btot = (
        base.select(F.size(_ngrams(t, 2)).alias("nb"))
        .agg(F.sum("nb").cast("double").alias("b_pairs"))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_w1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_w2"))
    return (
        big.join(u1, "w1")
        .join(u2, "w2")
        .join(F.broadcast(tot))
        .join(F.broadcast(btot))
        .select(
            "w1",
            "w2",
            F.col("n_pair").cast("long").alias("n_pair"),
            F.col("n_w1").cast("long").alias("n_w1"),
            F.col("n_w2").cast("long").alias("n_w2"),
            F.round(
                F.log(
                    (F.col("n_pair") / F.col("b_pairs"))
                    / ((F.col("n_w1") / F.col("t_tokens")) * (F.col("n_w2") / F.col("t_tokens")))
                ),
                6,
            ).alias("pmi"),
        )
    )


def train_split(
    docs: DataFrame,
    text_col: str = "text",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Deterministic content-hash train/val/test split + a 10%-sample flag —
    the curation step between dedup and training.

    The bucket is the md5-derived 60-bit content hash mod 100 (the same
    engine-portable primitive as MinHash), so the assignment is a pure
    narrow projection: reproducible across engines, runs, and cluster
    sizes, and stable under re-partitioning — re-feeding the corpus can
    never migrate a document across splits (the leakage failure mode of
    rand()-based splitting).  Duplicate-content rows land in the same split
    by construction.
    """
    t = F.trim(F.col(text_col))
    bucket = _hash60(t) % 100
    return docs.filter(F.length(t) > 0).select(
        ids.doc_id(t).alias("kg_doc_id"),
        "lang",
        bucket.cast("long").alias("bucket"),
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
        (bucket % 10 == 0).alias("in_10pct_sample"),
    )


PACK_CTX_TOKENS = 1024
PACK_BUCKETS = 256


def pack_plan(
    docs: DataFrame,
    text_col: str = "text",
    ctx: int = PACK_CTX_TOKENS,
    n_buckets: int = PACK_BUCKETS,
) -> DataFrame:
    """GPT-pretraining sequence-packing plan (concat-and-chunk): documents
    are concatenated in a deterministic shuffled order and split into
    fixed ``ctx``-token context windows; each doc gets its global token
    ``start_offset`` and the derived (start_seq, end_seq, offset_in_seq)
    placement.  Order is (h mod n_buckets, h, kg_doc_id) with h the
    md5-derived 60-bit content hash — a deterministic shuffle (content-
    keyed, so re-runs and resumes agree), deduped to distinct kg_doc_id
    first (duplicate contents would otherwise have identical sort keys).

    Scale shape: a naive global cumsum is a SINGLE-PARTITION window — the
    classic scale trap.  This is the two-level distributed prefix sum
    instead: within-bucket exclusive cumsum (window PARTITIONED by the
    hash bucket), plus per-bucket base offsets from a second cumsum over
    the n_buckets-row totals frame (tiny) broadcast back.  Every stage is
    partition-parallel; the only ordered window over the full corpus is
    avoided entirely.
    """
    t = F.trim(F.col(text_col))
    base = (
        docs.filter(F.length(t) > 0)
        .select(
            ids.doc_id(t).alias("kg_doc_id"),
            F.size(_toks(text_col)).cast("long").alias("n_tokens"),
            _hash60(t).alias("h"),
        )
        .distinct()
        .withColumn("bucket", F.col("h") % n_buckets)
    )
    from pyspark.sql.window import Window

    w_in = (
        Window.partitionBy("bucket")
        .orderBy("h", "kg_doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    totals = base.groupBy("bucket").agg(
        F.sum("n_tokens").cast("long").alias("_bt")
    )
    w_b = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    bases = totals.select(
        "bucket",
        F.coalesce(F.sum("_bt").over(w_b), F.lit(0)).cast("long").alias("_base"),
    )
    return (
        base.withColumn(
            "_prefix",
            F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0)).cast("long"),
        )
        .join(F.broadcast(bases), "bucket")
        .withColumn("start_offset", (F.col("_base") + F.col("_prefix")).cast("long"))
        .select(
            "kg_doc_id",
            "n_tokens",
            "start_offset",
            F.expr(f"start_offset DIV {ctx}").alias("start_seq"),
            F.expr(f"(start_offset + n_tokens - 1) DIV {ctx}").alias("end_seq"),
            (F.col("start_offset") % ctx).cast("long").alias("offset_in_seq"),
        )
    )


def pack_apply(
    docs: DataFrame,
    text_col: str = "text",
    ctx: int = PACK_CTX_TOKENS,
    n_buckets: int = PACK_BUCKETS,
) -> DataFrame:
    """Materialize the :func:`pack_plan` — the actual pretraining artifact:
    one row per fixed-``ctx`` context window with its reassembled token
    content (``seq_text``, single-space joined) and fill count (every
    sequence is exactly ``ctx`` tokens except the corpus tail).

    Scale shape: each doc's tokens explode once with their position
    (linear fan-out — this IS the materialization, there is no smaller
    output), map to global positions via the plan's start_offset, then
    ONE shuffle on the seq_id key reassembles windows; per-key state is
    bounded by ``ctx`` (sort_array over ≤ctx (pos, token) structs), so
    reducers never hold more than one window.  Positions are globally
    unique, making the sort — and therefore the value hash — fully
    deterministic.  The oracle restates reassembly over the NAIVE
    single-window global cumsum plan with string_agg ORDER BY.
    """
    plan = pack_plan(docs, text_col, ctx, n_buckets)
    t = F.trim(F.col(text_col))
    toks = (
        docs.filter(F.length(t) > 0)
        .select(ids.doc_id(t).alias("kg_doc_id"), _toks(text_col).alias("toks"))
        .dropDuplicates(["kg_doc_id"])
    )
    ex = (
        toks.join(plan.select("kg_doc_id", "start_offset"), "kg_doc_id")
        .select(
            "start_offset",
            F.posexplode("toks").alias("pos", "tok"),
        )
        .select(
            (F.col("start_offset") + F.col("pos")).alias("gpos"), "tok"
        )
    )
    return (
        ex.groupBy(F.expr(f"gpos DIV {ctx}").alias("seq_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_filled"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct((F.col("gpos") % ctx).alias("p"), F.col("tok")))
                    ),
                    lambda x: x["tok"],
                ),
            ).alias("seq_text"),
        )
    )


MIXTURE_MICRO = 10**6


def mixture_plan(docs: DataFrame, lang_col: str = "lang") -> DataFrame:
    """Static corpus-mixing plan: for each language bucket, the
    deterministic per-doc sampling weight that reshapes the corpus to the
    spec's target language shares (spec.MIXTURE_TARGETS_MICRO — the static
    analog of a DoReMi-style domain-weight vector).

    All arithmetic is scaled INTEGER:
      * ``weight_micro = (target_micro * N) div n_docs`` — the per-doc
        sampling/repetition weight in micro units (> 1e6 upsample,
        < 1e6 downsample, 0 excluded);
      * ``expected_docs = (n_docs * weight_micro) div 1e6`` — the bucket's
        size in the mixed corpus (quotient-first, so nothing overflows
        int64 below ~9e12 docs per bucket).

    Scale shape: one hash aggregate on the language key + a broadcast
    1-row total + a broadcast target map — the plan is dim-sized output
    regardless of corpus size; the SAMPLING pass that consumes it is a
    plain filter/explode by weight elsewhere.
    """
    spark = docs.sparkSession
    targets = spark.createDataFrame(
        spec.mixture_target_rows(), schema="lang string, target_micro long"
    )
    counts = docs.groupBy(F.col(lang_col).alias("lang")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    total = counts.agg(F.sum("n_docs").cast("long").alias("_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .join(F.broadcast(targets), "lang", "left")
        .select(
            "lang",
            "n_docs",
            F.coalesce("target_micro", F.lit(0)).cast("long")
            .alias("target_micro"),
            F.expr(
                "CAST(coalesce(target_micro, 0) * _total DIV n_docs AS BIGINT)"
            ).alias("weight_micro"),
            F.expr(
                f"CAST(n_docs * (coalesce(target_micro, 0) * _total"
                f" DIV n_docs) DIV {MIXTURE_MICRO} AS BIGINT)"
            ).alias("expected_docs"),
        )
    )


MIXTURE_SALT = "mix-v1"


def mixture_apply(docs: DataFrame, lang_col: str = "lang") -> DataFrame:
    """Materialize the :func:`mixture_plan`: emit each source row
    ``n_copies`` times, where ``n_copies = weight_micro div 1e6`` whole
    repeats plus one extra copy when the row's selection hash falls under
    the fractional remainder — deterministic stochastic rounding keyed by
    ``md5(doc_id:salt)``, so the REALIZED corpus hits the target mixture in
    expectation with zero RNG state (same input -> same sample; resume-
    safe).  Rows of weight-0 languages (absent from the target vector)
    drop entirely.

    Output: (doc_id, lang, copy_idx) with copy_idx in [0, n_copies).

    Scale shape: one broadcast join against the dim-sized plan, a pure
    projection for the copy count, and an explode(sequence) bounded by the
    per-row repeat count — no shuffle on the fact side at all (the plan's
    own aggregate is the only shuffle, over lang keys).
    """
    plan = mixture_plan(docs, lang_col).select(
        F.col("lang"), F.col("weight_micro")
    )
    hsel = (
        _hash60(F.concat(F.col("doc_id").cast("string"), F.lit(":" + MIXTURE_SALT)))
        % MIXTURE_MICRO
    )
    return (
        docs.select("doc_id", F.col(lang_col).alias("lang"))
        .join(F.broadcast(plan), "lang")
        .withColumn(
            "n_copies",
            (
                F.expr(f"weight_micro DIV {MIXTURE_MICRO}")
                + F.when(hsel < F.col("weight_micro") % MIXTURE_MICRO, 1)
                .otherwise(0)
            ).cast("long"),
        )
        .filter(F.col("n_copies") > 0)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("n_copies") - 1)
            ).alias("copy_idx"),
        )
    )


def contamination(
    docs: DataFrame,
    text_col: str = "text",
    gram_n: int = 8,
    eval_mod: int = 50,
    key_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag every candidate-training document
    that shares at least one token ``gram_n``-gram with the held-out eval
    set (here the deterministic pseudo-benchmark ``key_col % eval_mod == 0``
    — in production, the real benchmark suite).

    The standard n-gram-overlap decontamination filter (GPT-3 appendix C /
    Gopher style).  Scale shape: distinct grams per side (narrow), one
    equi-join on the gram key, one count-distinct aggregate per train doc —
    the same bucketed-join discipline as LSH dedup, never doc x doc.
    Output: one row per distinct-content train doc, n_shared_grams (distinct
    grams shared with ANY eval doc) and the contaminated flag.
    """
    t = _toks(text_col)
    nonempty = docs.filter(F.length(F.trim(F.col(text_col))) > 0)
    # a content-duplicate pair split across eval/train makes the doc BOTH —
    # resolve at the distinct-content level BEFORE the gram explosion: eval
    # wins (strictest).  Doc-granularity rows, not gram-granularity — two
    # orders of magnitude fewer rows through this shuffle.
    doc_eval = (
        nonempty.select(
            ids.doc_id(F.trim(F.col(text_col))).alias("kg_doc_id"),
            (F.col(key_col) % eval_mod == 0).cast("int").alias("e"),
        )
        .groupBy("kg_doc_id")
        .agg((F.max("e") == 1).alias("is_eval"))
    )
    # two branches read doc_eval: the gram join below AND the train-doc
    # universe (which must come from here, not the gram frame — a train doc
    # with fewer than gram_n tokens has zero grams but still owes its
    # contaminated=false row).
    doc_eval = cache.keyed_persist(doc_eval, "contamination_doc_eval")
    grams = (
        nonempty.select(
            ids.doc_id(F.trim(F.col(text_col))).alias("kg_doc_id"),
            F.explode(F.array_distinct(_ngrams(t, gram_n))).alias("gram"),
        )
        .distinct()  # content-level: duplicate raw rows collapse here
        .join(doc_eval, "kg_doc_id")
    )
    # three downstream branches (eval grams, train grams, train doc set)
    # read this frame — persist it or the md5 + gram construction re-runs
    # once per branch (measured 19.9s -> see BENCH/BASELINE.md).
    grams = cache.keyed_persist(grams, "contamination_grams")
    ev = grams.filter(F.col("is_eval")).select("gram").distinct()
    tr = grams.filter(~F.col("is_eval")).select("kg_doc_id", "gram")
    hits = (
        tr.join(ev, "gram")
        .groupBy("kg_doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_grams"))
    )
    train_docs = doc_eval.filter(~F.col("is_eval")).select("kg_doc_id")
    return (
        train_docs.join(hits, "kg_doc_id", "left")
        .select(
            "kg_doc_id",
            F.coalesce("n_shared_grams", F.lit(0)).cast("long").alias("n_shared_grams"),
            (F.coalesce("n_shared_grams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def lm_score(
    docs: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style language-model quality score: per-document mean bigram
    log-probability (and its perplexity proxy) under a Laplace-smoothed
    bigram model counted from the corpus itself —
    ``P(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V)``.

    The perplexity-filtering shape real curation pipelines run (CCNet
    buckets Common Crawl by KenLM perplexity); the self-corpus bigram model
    stands in for the external LM so the operator is closed and
    deterministic.  Low ``ppl_proxy`` = the doc looks like the corpus.

    Determinism contract (the sessionize lesson, float edition): each
    bigram's ``ln`` is rounded to 6 places FIRST, the per-doc sum runs in
    ``decimal(38,12)`` (exact, associative — partition order cannot change
    it), and only then does the mean divide and round.  ``ppl_proxy`` is
    ``exp(-avg)`` of the already-rounded mean.

    Scale shape: two corpus-level hash aggregates build the model (bigram +
    unigram counts, the collocations discipline), one gram-key equi-join
    scores doc bigrams, one hash aggregate folds per row.  Output is
    PER-ROW (key_col = the source row key): one row per nonempty input row;
    rows with < 2 tokens owe a NULL-scored row.

    Output: (kg_doc_id, n_bigrams, avg_logprob, ppl_proxy).
    """
    t = _toks(text_col)
    nonempty = docs.filter(F.length(F.trim(F.col(text_col))) > 0)
    rows = nonempty.select(
        F.col(key_col).alias("_k"),
        ids.doc_id(F.trim(F.col(text_col))).alias("kg_doc_id"),
        t.alias("_toks"),
    )
    rows = cache.keyed_persist(rows, "lm_score_rows")
    big_pos = rows.select(
        "_k",
        F.explode(
            F.when(
                F.size("_toks") >= 2,
                F.zip_with(
                    F.slice("_toks", 1, F.size("_toks") - 1),
                    F.slice("_toks", 2, F.size("_toks") - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("bg"),
    ).select("_k", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    big_pos = cache.keyed_persist(big_pos, "lm_score_bigrams")

    uni = (
        rows.select(F.explode("_toks").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).cast("long").alias("n_w1"))
    )
    big = (
        big_pos.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
    )
    v = rows.select(F.explode("_toks").alias("w")).agg(
        F.count_distinct("w").cast("long").alias("v")
    )
    model = (
        big.join(uni, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "w1",
            "w2",
            F.round(
                F.log(
                    (F.col("n_pair") + 1).cast("double")
                    / (F.col("n_w1") + F.col("v")).cast("double")
                ),
                6,
            ).alias("lp"),
        )
    )
    scored = (
        big_pos.join(model, ["w1", "w2"])
        .groupBy("_k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum(F.col("lp").cast("decimal(38,12)")).alias("_lp_sum"),
        )
    )
    avg = F.round(
        F.col("_lp_sum").cast("double") / F.col("n_bigrams"), 6
    )
    return (
        rows.join(scored, "_k", "left")
        .select(
            "kg_doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            avg.alias("avg_logprob"),
            F.round(F.exp(-avg), 6).alias("ppl_proxy"),
        )
    )


def duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    gram_n: int = 8,
) -> DataFrame:
    """Exact-substring duplicate spans (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", exact-substring variant at
    token granularity): every MAXIMAL run of consecutive token positions
    covered by a ``gram_n``-gram that also occurs in at least one OTHER
    distinct-content document.

    Cross-doc only by design (a gram repeated within one document is the
    repetition signal's job, not dedup's); content-duplicate raw rows
    collapse to one kg_doc_id before gram counting, like contamination.

    Output: one row per (distinct-content doc, span) — (kg_doc_id,
    span_start, span_end, span_len, n_grams) with 0-based inclusive token
    positions; docs with no duplicated span emit nothing (this is the
    curation pipeline's cut-list).

    Scale shape: gram explosion is narrow; one hash aggregate on the gram
    key (count distinct docs), one gram-key equi-join back, one per-doc
    window for the gaps-and-islands merge — never doc x doc, the same
    bucketed discipline as contamination/LSH.  The suffix-array formulation
    finds duplicates of ANY length >= threshold; this fixed-gram variant is
    the shuffle-friendly approximation (a duplicated substring of length
    L >= gram_n is found exactly, with span boundaries quantized to gram
    coverage).
    """
    from pyspark.sql import Window

    t = _toks(text_col)
    dd = (
        docs.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(
            ids.doc_id(F.trim(F.col(text_col))).alias("kg_doc_id"),
            F.trim(F.col(text_col)).alias("_ttext"),
        )
        .distinct()
    )
    grams = dd.select(
        "kg_doc_id",
        F.posexplode(_ngrams(F.split(F.col("_ttext"), r"\s+"), gram_n)).alias(
            "pos", "gram"
        ),
    )
    grams = cache.keyed_persist(grams, "duplicate_spans_grams")
    dupg = (
        grams.groupBy("gram")
        .agg(F.count_distinct("kg_doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("gram")
    )
    hits = grams.join(dupg, "gram").select("kg_doc_id", "pos")
    # Gaps-and-islands: a gram at pos covers [pos, pos+n-1]; a new span
    # starts when coverage breaks (pos > running-max prev pos + gram_n).
    ordered = Window.partitionBy("kg_doc_id").orderBy("pos")
    prev_max = F.max("pos").over(
        ordered.rowsBetween(Window.unboundedPreceding, -1)
    )
    spans = (
        hits.withColumn(
            "_brk",
            (
                F.col("pos")
                > F.coalesce(prev_max, F.lit(-gram_n - 1)) + gram_n
            ).cast("int"),
        )
        .withColumn("_span_id", F.sum("_brk").over(ordered))
        .groupBy("kg_doc_id", "_span_id")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") + gram_n - 1).cast("int").alias("span_end"),
            (F.max("pos") - F.min("pos") + gram_n).cast("int").alias("span_len"),
            F.count(F.lit(1)).cast("long").alias("n_grams"),
        )
        .drop("_span_id")
    )
    return spans.select("kg_doc_id", "span_start", "span_end", "span_len", "n_grams")


def _repetition_counts_kernel():
    """Batch kernel for :func:`repetition_stats_arrow`: per-(row, n) INTEGER
    counts only (total / top / duplicated n-gram occurrences) — all division
    and rounding stays in Catalyst, so the kernel cannot drift from the
    DuckDB oracle on float formatting.  n-grams are counted as token TUPLES (tokens cannot contain
    whitespace, so tuple identity == joined-string identity)."""
    from collections import Counter

    import pandas as pd

    def gen(batches):
        for pdf in batches:
            out = {
                "kg_doc_id": [], "n": [], "n_ngrams": [],
                "top_cnt": [], "dup_cnt": [],
            }
            for doc_id, text in zip(pdf["kg_doc_id"], pdf["_text"]):
                toks = _split_ascii_ws(text) if text else []
                for n in REPETITION_NS:
                    total = len(toks) - n + 1
                    if total <= 0:
                        continue
                    c = Counter(tuple(toks[i : i + n]) for i in range(total))
                    out["kg_doc_id"].append(doc_id)
                    out["n"].append(n)
                    out["n_ngrams"].append(total)
                    out["top_cnt"].append(max(c.values()))
                    out["dup_cnt"].append(sum(v for v in c.values() if v > 1))
            yield pd.DataFrame(out)

    return gen


def repetition_stats_arrow(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style per-document n-gram repetition signals, long format:
    one row per (document, n) for n in :data:`REPETITION_NS` with

      * ``top_ngram_frac`` — fraction of n-gram occurrences taken by the
        single most frequent n-gram (Gopher's top-n-gram rule, n=2..4);
      * ``dup_ngram_frac`` — fraction of occurrences belonging to n-grams
        that appear more than once (Gopher's duplicate-n-gram rule, n=5..10).

    Documents shorter than n tokens emit no row for that n.  Per-row
    semantics: duplicate raw rows emit duplicate output rows.

    Repetition is strictly per-document, so the shape is a narrow
    zero-shuffle Arrow pass.  A distributed gram explode shuffles ~4x the
    corpus token volume through two hash aggregates: measured at sf0.1,
    18.70s median vs 0.80s for this kernel (BENCH/BASELINE.md round-5
    new-operator section).  The DuckDB oracle (``text_repetition``) pins
    the result by value."""
    counts = _doc_text(docs, text_col).mapInPandas(
        _repetition_counts_kernel(),
        schema=(
            "kg_doc_id string, n long, n_ngrams long, top_cnt long, dup_cnt long"
        ),
    )
    return counts.select(
        "kg_doc_id",
        "n",
        "n_ngrams",
        F.round(F.col("top_cnt") / F.col("n_ngrams"), 6).alias("top_ngram_frac"),
        F.round(F.col("dup_cnt") / F.col("n_ngrams"), 6).alias("dup_ngram_frac"),
    )


def tfidf_topk(
    docs: DataFrame, text_col: str = "text", key_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Top-k distinctive terms per document by TF-IDF (smoothed sklearn-style
    idf = ln((N+1)/(df+1)) + 1), with the RANKING computed over integers only
    — (term_count desc, doc_freq asc, term asc) — so row selection is
    engine-exact; the float tfidf score rides along as a value column
    (round 6, compared at 6 significant digits like every other ratio).

    Scale shape: explode → per-(row, term) hash aggregate (one shuffle on
    content keys), document frequencies as a second hash aggregate joined
    back on the term key (plain shuffle join — the vocabulary is unbounded
    at corpus scale, so it is NOT force-broadcast; AQE may still choose to),
    the corpus size as a broadcast 1-row aggregate (same pattern as the
    salted-join median threshold — no driver collect), and a top-k window
    per row key.  Per-row semantics: duplicate raw rows emit duplicate rows.
    """
    from pyspark.sql import Window

    t = _toks(text_col)
    base = docs.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(key_col).alias("_k"),
        ids.doc_id(F.trim(F.col(text_col))).alias("kg_doc_id"),
        F.size(t).alias("n_tokens"),
        F.explode(t).alias("term"),
    )
    tf = base.groupBy("_k", "kg_doc_id", "n_tokens", "term").agg(
        F.count(F.lit(1)).alias("c")
    )
    # three branches (the join spine, document frequencies, corpus size)
    # read tf — persist it or the explode + first aggregate re-run per
    # branch (the contamination lesson, BENCH/BASELINE.md round-5 section).
    tf = cache.keyed_persist(tf, "tfidf_tf")
    dfx = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    nd = tf.agg(F.countDistinct("_k").alias("n_docs"))
    w = Window.partitionBy("_k").orderBy(
        F.desc("c"), F.asc("df"), F.asc("term")
    )
    return (
        tf.join(dfx, "term")
        .join(F.broadcast(nd))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "kg_doc_id",
            F.col("rank").cast("long").alias("rank"),
            "term",
            F.col("c").cast("long").alias("term_count"),
            F.col("df").cast("long").alias("doc_freq"),
            F.round(
                (F.col("c") / F.col("n_tokens"))
                * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1),
                6,
            ).alias("tfidf"),
        )
    )


BM25_TOPK = 10
BM25_QUERY_TERMS = 5
BM25_MIN_TERM_CHARS = 5
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(
    docs: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    k: int = BM25_TOPK,
    n_query_terms: int = BM25_QUERY_TERMS,
) -> DataFrame:
    """Top-k document RETRIEVAL by Okapi BM25 (k1=1.2, b=0.75) against a
    deterministic corpus-derived query: the ``n_query_terms`` highest
    document-frequency terms of at least ``BM25_MIN_TERM_CHARS`` chars
    (df desc, term asc — a pure function of the corpus, so the result is
    value-hashable with no external query input).  Per-term contribution is
    the standard ``idf * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))`` with
    smoothed ``idf = ln(1 + (N-df+0.5)/(df+0.5))``; ranking and the top-k
    cut use the ROUNDED (6-decimal) score with kg_doc_id as tie-break, the
    same engine-exactness discipline as tfidf_topk's integer ranking.

    Scale shape: one explode + per-(row, term) hash aggregate (shared with
    the tfidf family via the persisted tf frame), the query-term table and
    the (N, avgdl) scalar both BROADCAST (5 rows / 1 row — the scoring join
    never shuffles the corpus side), one score fold on the row key, and a
    global top-k = TakeOrderedAndProject, never a full sort.  avgdl is an
    exact integer-sum ratio, so it is bit-identical across engines.
    """
    from pyspark.sql import Window

    t = _toks(text_col)
    d0 = docs.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(key_col).alias("_k"),
        ids.doc_id(F.trim(F.col(text_col))).alias("kg_doc_id"),
        F.size(t).alias("dl"),
        t.alias("_toks"),
    )
    tf = (
        d0.select("_k", "kg_doc_id", "dl", F.explode("_toks").alias("term"))
        .groupBy("_k", "kg_doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tf = cache.keyed_persist(tf, "bm25_tf")
    qt = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.length("term") >= BM25_MIN_TERM_CHARS)
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(n_query_terms)
    )
    st = tf.select("_k", "dl").dropDuplicates(["_k"]).agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    contrib = (
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        )
        * (F.col("c") * F.lit(BM25_K1 + 1.0))
        / (
            F.col("c")
            + F.lit(BM25_K1)
            * (
                F.lit(1.0 - BM25_B)
                + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
            )
        )
    )
    scored = (
        tf.join(F.broadcast(qt), "term")
        .join(F.broadcast(st))
        .groupBy("_k", "kg_doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hit_terms"),
            F.round(F.sum(contrib), 6).alias("bm25"),
        )
    )
    top = scored.orderBy(F.desc("bm25"), F.asc("kg_doc_id")).limit(k)
    w = Window.orderBy(F.desc("bm25"), F.asc("kg_doc_id"))
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "kg_doc_id",
        "n_hit_terms",
        "bm25",
    )


def _doc_text(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Catalyst-side identity + trim feeding every Python kernel.

    ONE normalization for all engines: ``F.trim`` (Spark) == ``trim``
    (DuckDB oracle) strip ASCII spaces only, and ``kg_doc_id`` is derived in
    Catalyst — the kernels never re-derive identity in Python, so docs with
    leading tabs/newlines/unicode whitespace can't get divergent ids between
    the signature tables and the doc/metrics tables (Python ``str.strip()``
    strips unicode whitespace and silently broke those joins before).
    """
    t = F.trim(F.col(text_col))
    return docs.filter(F.length(t) > 0).select(
        ids.doc_id(t).alias("kg_doc_id"), t.alias("_text")
    )


def _split_ascii_ws(text: str) -> list[str]:
    """The shared token split: ASCII \\s+ on the Catalyst-trimmed text —
    byte-for-byte the oracle's ``string_split_regex(trim(text), '\\s+')``."""
    import re

    return re.split(r"\s+", text, flags=re.ASCII)


def _ordered_shingles(toks: list[str], n: int = SHINGLE_N) -> list[str]:
    """First-occurrence-distinct n-token shingles (oracle: list_distinct)."""
    seen: set[str] = set()
    out: list[str] = []
    for i in range(len(toks) - n + 1):
        s = " ".join(toks[i : i + n])
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


# Executor-global md5 caches: the md5 calls are the only per-item Python in
# the vectorized kernels, and shingle/token reuse across documents is high in
# real corpora.  Bounded (entries are ~100 B; 4M ≈ 400 MB worst case).
_MD5_CACHE: dict[str, int] = {}
_MD5_CACHE_MAX = 4_000_000


def _md5_60(s: str) -> int:
    """int(md5(s)[:15], 16) — the engine-portable 60-bit hash, cached."""
    import hashlib

    v = _MD5_CACHE.get(s)
    if v is None:
        if len(_MD5_CACHE) >= _MD5_CACHE_MAX:
            _MD5_CACHE.clear()
        v = int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
        _MD5_CACHE[s] = v
    return v


def minhash_row_py(text: str, k: int = MINHASH_K) -> list[int] | None:
    """Reference kernel: one document's minhash signature (None if < SHINGLE_N
    tokens).  Scalar form of the vectorized batch kernel — kept as the
    unit-test spec; arithmetic is engine-portable and shared verbatim with the
    DuckDB oracle: shingle -> int(md5[:15],16) % (2^31-1), then k affine
    permutations (a_j*h + b_j) mod p, min per permutation.

    ``text`` is expected pre-trimmed (ASCII spaces) by the Catalyst side.
    """
    toks = _split_ascii_ws(text) if text else []
    if len(toks) < SHINGLE_N:
        return None
    hs = [_md5_60(s) % MINHASH_P for s in _ordered_shingles(toks)]
    out = []
    for j in range(k):
        a, b = minhash_perm_coeffs(j)
        out.append(min((a * h + b) % MINHASH_P for h in hs))
    return out


# Cap on flattened shingle-hash block size for the vectorized permutation
# matmul: bounds transient numpy memory at k * BLOCK * 8 B per array.
_MINHASH_BLOCK = 1 << 18


def _sig_shingle_kernel(k: int, include_shingles: bool):
    """Batch kernel computing minhash signatures (and optionally the shingle
    sets) in ONE pass over the text column.

    The k affine permutations run as a single numpy broadcast
    ``(A[:,None]*hs[None,:] + B[:,None]) % P`` with per-document minima via
    ``np.minimum.reduceat`` — the md5 of each *unique* shingle (cached
    executor-globally) is the only per-item Python left.  Measured ~3x over
    the previous per-row hashlib/min() loops at sf0.1 (and the shared-scan
    shape halves the jaccard operator on top).
    """
    import numpy as np
    import pandas as pd

    A = np.asarray([minhash_perm_coeffs(j)[0] for j in range(k)], dtype=np.int64)
    B = np.asarray([minhash_perm_coeffs(j)[1] for j in range(k)], dtype=np.int64)
    mh_cols = [f"mh{j}" for j in range(k)]

    def _sigs_for(flat: list[int], offsets: list[int]) -> "np.ndarray":
        hs = np.asarray(flat, dtype=np.int64) % MINHASH_P
        offs = np.asarray(offsets, dtype=np.int64)
        # (k, n_shingles) broadcast; a,h < 2^31 so a*h+b < 2^63 stays exact.
        m = (A[:, None] * hs[None, :] + B[:, None]) % MINHASH_P
        return np.minimum.reduceat(m, offs, axis=1).T  # (n_docs, k)

    def gen(batches):
        for pdf in batches:
            out_ids: list[str] = []
            out_sh: list[list[str]] = []
            sig_blocks: list[np.ndarray] = []
            flat: list[int] = []
            offsets: list[int] = []
            for doc_id, text in zip(pdf["kg_doc_id"], pdf["_text"]):
                toks = _split_ascii_ws(text) if text else []
                if len(toks) < SHINGLE_N:
                    continue
                sh = _ordered_shingles(toks)
                if len(flat) + len(sh) > _MINHASH_BLOCK and flat:
                    sig_blocks.append(_sigs_for(flat, offsets))
                    flat, offsets = [], []
                offsets.append(len(flat))
                flat.extend(_md5_60(s) for s in sh)
                out_ids.append(doc_id)
                if include_shingles:
                    out_sh.append(sh)
            if flat:
                sig_blocks.append(_sigs_for(flat, offsets))
            sigs = (
                np.concatenate(sig_blocks)
                if sig_blocks
                else np.empty((0, k), dtype=np.int64)
            )
            res = pd.DataFrame({"kg_doc_id": out_ids})
            if include_shingles:
                res["shingles"] = out_sh
            for j, c in enumerate(mh_cols):
                res[c] = sigs[:, j]
            yield res

    return gen


def minhash_shingles(
    docs: DataFrame, text_col: str = "text", k: int = MINHASH_K
) -> DataFrame:
    """(kg_doc_id, shingles, mh0..mh{k-1}) in ONE scan of the text column.

    The shared upstream of the two-phase near-dup: LSH banding consumes the
    signature columns, the exact-Jaccard verify consumes the shingle sets —
    persist this frame and both stages read it (no recompute).
    """
    fields = "kg_doc_id string, shingles array<string>, " + ", ".join(
        f"mh{j} long" for j in range(k)
    )
    return _doc_text(docs, text_col).mapInPandas(
        _sig_shingle_kernel(k, include_shingles=True), schema=fields
    )


def minhash_signatures(docs: DataFrame, text_col: str = "text", k: int = MINHASH_K) -> DataFrame:
    """K-permutation MinHash signature over token 3-gram shingles.

    Arrow-batched mapInPandas over (Catalyst id, pruned text).  A
    pure-Catalyst formulation exists but loses: shingle construction + k
    permutation scans run as *interpreted* higher-order-function lambdas
    (never codegen'd) — measured 7x slower than the Arrow kernel at sf0.1;
    the numpy permutation fold (see _sig_shingle_kernel) buys another ~3x.
    Columns mh0..mh{k-1} stay flat so downstream banding and the DuckDB
    oracle are trivial.
    """
    fields = ", ".join(["kg_doc_id string"] + [f"mh{j} long" for j in range(k)])
    return _doc_text(docs, text_col).mapInPandas(
        _sig_shingle_kernel(k, include_shingles=False), schema=fields
    )


def band_hashes(
    sig: DataFrame, k: int = MINHASH_K, band_rows: int = LSH_BAND_ROWS
) -> DataFrame:
    """(kg_doc_id, band, band_hash): the LSH banding of a signature frame —
    k/band_rows narrow rows per doc.  Shared by the batch self-join
    (:func:`lsh_candidate_pairs`) and the incremental index lookup
    (:func:`kgspark.materialize.neardup_filter_batch`)."""
    n_bands = k // band_rows
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.sha2(
                    F.concat_ws(
                        ":",
                        *[F.col(f"mh{b * band_rows + r}") for r in range(band_rows)],
                    ),
                    256,
                ).alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select("kg_doc_id", F.explode(bands).alias("b")).select(
        "kg_doc_id",
        F.col("b.band").alias("band"),
        F.col("b.band_hash").alias("band_hash"),
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = MINHASH_K,
    band_rows: int = LSH_BAND_ROWS,
    signatures: DataFrame | None = None,
    ls: LineageScope | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via LSH banding of minhash signatures.

    Docs sharing any band hash become a candidate pair.  Plan: signatures
    (narrow) → explode k/band_rows band keys → self-join within band buckets
    (shuffle on band hash only) → distinct pairs.  This is the
    O(n²)→O(n·bucket) reduction that makes near-dup feasible at 100 TB.

    Pass ``signatures`` (any frame carrying kg_doc_id + mh0..mh{k-1}, e.g. a
    persisted :func:`minhash_shingles`) to band precomputed signatures
    instead of re-scanning the corpus.  ``ls`` is the owner of the persisted
    bands (:func:`_keep`).
    """
    sig = signatures if signatures is not None else minhash_signatures(docs, text_col, k)
    exploded = band_hashes(sig, k, band_rows)
    # The bands frame (4 narrow rows per doc — id + two hash columns, no
    # text) is persisted so the self-join's two branches run the signature
    # kernel ONCE (exchange reuse across PythonUDF subtrees is not
    # guaranteed — measured a full duplicate kernel pass without the cache).
    #
    # Pre-partitioning on the band key is applied only when the bands frame
    # is too big to broadcast, judged by the same optimizer size estimate
    # Catalyst's own broadcast decision uses.  Below the threshold the join
    # compiles to a BroadcastHashJoin, where an explicit repartition is a
    # pure extra shuffle (measured +41% on this query at sf0.1, BENCH r2);
    # above it, partitioning INSIDE the persisted frame leaves the
    # sort-merge join exchange-free on both branches — one shuffle total
    # instead of two, since ReuseExchange does not fire across the aliased
    # self-join branches (both verified on executed plans).
    if _est_size_bytes(exploded) > _broadcast_threshold_bytes(exploded.sparkSession):
        exploded = exploded.repartition("band", "band_hash")
    exploded = _keep(exploded, "lsh_bands", ls)
    left = exploded.alias("l")
    right = exploded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.kg_doc_id") < F.col("r.kg_doc_id")),
        )
        .select(
            F.col("l.kg_doc_id").alias("doc_a"),
            F.col("r.kg_doc_id").alias("doc_b"),
        )
        .distinct()
    )
    return pairs


def shingle_sets(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(kg_doc_id, shingles array<string>) via an Arrow-batched kernel.

    Same rationale as minhash_signatures: Catalyst's higher-order-function
    shingle construction runs interpreted (measured ~7x slower).  Identity is
    Catalyst-derived (see :func:`_doc_text`)."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            ids_, shs = [], []
            for doc_id, text in zip(pdf["kg_doc_id"], pdf["_text"]):
                toks = _split_ascii_ws(text) if text else []
                if len(toks) < SHINGLE_N:
                    continue
                ids_.append(doc_id)
                shs.append(_ordered_shingles(toks))
            yield pd.DataFrame({"kg_doc_id": ids_, "shingles": shs})

    return _doc_text(docs, text_col).mapInPandas(
        gen, schema="kg_doc_id string, shingles array<string>"
    )


def _keep(df: DataFrame, name: str, ls: LineageScope | None) -> DataFrame:
    """Persist a shared upstream: held in ``ls`` when the caller's scope
    outlives every read of it, else registered in the cross-call cache
    (the returned lazy plan reads it after the call)."""
    return cache.keyed_persist(df, name) if ls is None else ls.hold(df)


def ngram_jaccard_pairs(
    docs: DataFrame, text_col: str = "text", threshold: float = 0.8,
    ls: LineageScope | None = None, signatures: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over LSH candidate pairs (verify step of MinHash).

    The candidate join and the verify join share ONE upstream: a persisted
    :func:`minhash_shingles` frame (signature + shingle set from a single
    scan/kernel pass).  The banding self-join reads its mh columns, the
    Jaccard joins read its shingles — the text column is scanned and
    shingled exactly once per action (previously 3x: signatures for banding
    plus two independent shingle scans).  ``ls`` is the owner of the
    persisted frames (:func:`_keep`).  A caller already holding
    :func:`minhash_shingles` of ``docs`` passes it as ``signatures`` and the
    kernel does not run again.
    """
    both = signatures
    if both is None:
        both = _keep(minhash_shingles(docs, text_col), "minhash_shingles", ls)
    pairs = lsh_candidate_pairs(docs, text_col, signatures=both, ls=ls)
    sh = both.select("kg_doc_id", "shingles")
    j = (
        pairs.join(sh.withColumnRenamed("kg_doc_id", "doc_a").withColumnRenamed("shingles", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("kg_doc_id", "doc_b").withColumnRenamed("shingles", "sh_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ).alias("jaccard"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold)


CONTAINMENT_MICRO = 10**6
CONTAINMENT_MAX_DF = 64


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    threshold_micro: int = 500_000,
    max_df: int = CONTAINMENT_MAX_DF,
) -> DataFrame:
    """ASYMMETRIC shingle containment — quote/subset detection, the near-dup
    relation Jaccard misses: a short document fully embedded in a long one
    has Jaccard ≈ |A|/|B| (tiny) but containment(A in B) = 1.  Emits one
    row per unordered distinct-content pair with the shared-shingle count
    and BOTH directed containments in integer micro units
    (``c(A in B) = |A∩B| * 1e6 div |A|``), filtered to
    ``max(c_ab, c_ba) >= threshold_micro``.

    Scale shape: an INVERTED-INDEX equi-join on the shingle key (never
    doc x doc) — the candidate work per shingle is df², so shingles with
    document frequency above ``max_df`` are dropped from the INTERSECTION
    universe first (the standard prefix-filter concession: stop-shingles
    contribute near-zero containment evidence but quadratic candidates;
    the undercount can only REMOVE borderline pairs, never invent them).
    Denominators stay the FULL per-doc shingle counts.  The oracle
    restates the same capped spec relationally.

    Reuses the persisted minhash_shingles frame (one text scan shared with
    the LSH/Jaccard family); duplicate-content rows collapse to one
    posting set per kg_doc_id before any join.
    """
    sh = cache.keyed_persist(
        minhash_shingles(docs, text_col), "minhash_shingles"
    ).select("kg_doc_id", "shingles")
    sizes = sh.select(
        "kg_doc_id", F.size("shingles").cast("long").alias("n_sh")
    ).dropDuplicates(["kg_doc_id"])
    post = sh.select(
        "kg_doc_id", F.explode("shingles").alias("s")
    ).distinct()
    rare = (
        post.groupBy("s")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .filter(F.col("df") <= max_df)
        .select("s")
    )
    # Pin the candidate-generation plan: the rare-shingle set is df-bounded
    # and tiny relative to the postings (broadcast, no shuffle of the
    # posting list to prune it), and the pruned postings are persisted so
    # the self-join's two sides read ONE materialized frame instead of
    # re-running the explode+distinct+df-aggregate chain per side — without
    # this, exchange reuse is at the planner's discretion and the measured
    # wall was bimodal (4s vs 18s at sf0.1); with it, stable ~1.5s.
    kept = cache.keyed_persist(
        post.join(F.broadcast(rare), "s"), "containment_postings"
    )
    pairs = (
        kept.select(F.col("kg_doc_id").alias("doc_a"), "s")
        .join(kept.select(F.col("kg_doc_id").alias("doc_b"), "s"), "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return (
        pairs.join(
            sizes.select(F.col("kg_doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("kg_doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.expr(f"CAST(n_shared * {CONTAINMENT_MICRO} DIV n_a AS BIGINT)")
            .alias("a_in_b_micro"),
            F.expr(f"CAST(n_shared * {CONTAINMENT_MICRO} DIV n_b AS BIGINT)")
            .alias("b_in_a_micro"),
        )
        .filter(
            F.greatest("a_in_b_micro", "b_in_a_micro") >= F.lit(threshold_micro)
        )
    )


def dedup_clusters(
    docs: DataFrame, text_col: str = "text", threshold: float = 0.5,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate KEEP-LIST — the end product of the dedup pipeline:
    connected components over Jaccard-verified LSH candidate pairs, one row
    per distinct-content document with its cluster id (component-minimum
    kg_doc_id) and an ``is_representative`` keep flag.

    Chain: LSH banding (O(n·bucket) candidate space) → exact shingle-Jaccard
    verify at ``threshold`` (on the ROUNDED score, so the oracle's filter is
    bit-identical) → hash-min label propagation (:func:`canon.connected_
    components`, one shuffle join + aggregate per round, O(diameter) rounds
    — near-dup clusters have tiny diameters) → left join back onto the
    distinct-content doc set so untouched documents form singleton clusters.
    Downstream keeps ``is_representative`` rows: a deterministic,
    engine-reproducible dedup decision.

    Runs in one :class:`~kgspark.session.LineageScope`: the returned keep-list
    is a cut, and the shingle, band and component frames it was built from
    are released when the call returns.  ``signatures`` is a caller-held
    :func:`minhash_shingles` of ``docs`` (see :func:`ngram_jaccard_pairs`).
    """
    from . import canon

    with LineageScope() as ls:
        pairs = ngram_jaccard_pairs(
            docs, text_col, threshold, ls, signatures=signatures
        ).select(
            F.col("doc_a").alias("name_a"), F.col("doc_b").alias("name_b")
        )
        comp = ls.adopt(canon.connected_components(pairs))
        alld = (
            docs.filter(F.length(F.trim(F.col(text_col))) > 0)
            .select(ids.doc_id(F.trim(F.col(text_col))).alias("kg_doc_id"))
            .distinct()
        )
        return ls.result(
            alld.join(comp, alld["kg_doc_id"] == comp["node"], "left")
            .select(
                "kg_doc_id",
                F.coalesce("comp", F.col("kg_doc_id")).alias("cluster_id"),
            )
            .withColumn(
                "is_representative", F.col("kg_doc_id") == F.col("cluster_id")
            )
        )


def simhash_row_py(text: str, bits: int = 32) -> int | None:
    """Reference kernel: one document's simhash (None for empty text) — the
    scalar unit-test spec of the vectorized batch kernel below.

    Engine-portable arithmetic shared with the DuckDB oracle: per distinct
    token h = int(md5[:15],16); bit b votes +1 if (h>>b)&1 else -1; the
    fingerprint sets bit b where the vote is positive.  ``text`` is expected
    pre-trimmed (ASCII spaces) by the Catalyst side.
    """
    if not text:
        return None
    toks = _split_ascii_ws(text)
    # first-occurrence-distinct tokens: mirrors the oracle's
    # list_transform(list_distinct(toks), ...) exactly
    hs = [_md5_60(tok) for tok in dict.fromkeys(toks)]
    sim = 0
    for b in range(bits):
        vote = sum(1 if (h >> b) & 1 else -1 for h in hs)
        if vote > 0:
            sim |= 1 << b
    return sim


def simhash_hamming_profile(
    docs: DataFrame,
    text_col: str = "text",
    bits: int = 32,
    max_hd: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """SimHash near-dup profile via Manku et al. 2007 pigeonhole banding:
    split each fingerprint into ``n_bands`` equal bit-bands; any pair with
    hamming distance <= ``n_bands - 1`` must agree EXACTLY on at least one
    band, so candidate generation by per-band equi-join has EXACT recall at
    ``max_hd <= n_bands - 1`` — not probabilistic like MinHash-LSH.

    Output is the ROLLUP (hamming_distance, n_pairs) over distinct-content
    doc pairs at distance <= max_hd — on a dense corpus the raw pair set is
    O(n²)-ish and useless as a table, but the profile is the signal a
    curation pipeline thresholds on.  Scale shape: band extraction is a
    narrow bit-op projection; the self-join shuffles on the (band, value)
    bucket key only; exact bit_count(xor) verification runs inside the
    join; one distinct + one 4-row aggregate follow.
    """
    if max_hd > n_bands - 1:
        raise ValueError("pigeonhole recall requires max_hd <= n_bands - 1")
    sh = cache.keyed_persist(
        simhash(docs, text_col, bits)
        .select("kg_doc_id", "simhash")
        .dropDuplicates(["kg_doc_id"]),  # content-level, like every dedup op
        "simhash_profile",
    )
    width = bits // n_bands
    mask = (1 << width) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.expr(f"shiftright(simhash, {b * width}) & {mask}").alias(
                    "val"
                ),
            )
            for b in range(n_bands)
        ]
    )
    ex = sh.select("kg_doc_id", "simhash", F.explode(bands).alias("b")).select(
        "kg_doc_id", "simhash", F.col("b.band").alias("band"),
        F.col("b.val").alias("val"),
    )
    left, right = ex.alias("l"), ex.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col("l.kg_doc_id") < F.col("r.kg_doc_id")),
        )
        .select(
            F.col("l.kg_doc_id").alias("a"),
            F.col("r.kg_doc_id").alias("b"),
            F.expr("bit_count(l.simhash ^ r.simhash)").cast("int").alias(
                "hamming_distance"
            ),
        )
        .filter(F.col("hamming_distance") <= max_hd)
        .distinct()
        .groupBy("hamming_distance")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def simhash(docs: DataFrame, text_col: str = "text", bits: int = 32) -> DataFrame:
    """SimHash fingerprint from per-token 60-bit hashes (default 32 bits).

    Arrow-batched kernel (the pure-Catalyst bit-vote fold runs 32 interpreted
    ``aggregate`` lambdas per row — measured ~8x slower).  The bit votes run
    as one numpy broadcast per batch (segment sums via ``np.add.reduceat``);
    the md5 of each *unique* token (cached) is the only per-item Python.
    Hamming-distance bucketing downstream can reuse the same banding trick
    as MinHash.  Identity is Catalyst-derived (see :func:`_doc_text`).
    """
    import numpy as np
    import pandas as pd

    bit_idx = np.arange(bits, dtype=np.int64)
    weights = (1 << bit_idx).astype(np.int64)

    def gen(batches):
        for pdf in batches:
            ids_: list[str] = []
            flat: list[int] = []
            offsets: list[int] = []
            for doc_id, text in zip(pdf["kg_doc_id"], pdf["_text"]):
                if not text:
                    continue
                toks = _split_ascii_ws(text)
                ids_.append(doc_id)
                offsets.append(len(flat))
                flat.extend(_md5_60(t) for t in dict.fromkeys(toks))
            if ids_:
                hs = np.asarray(flat, dtype=np.int64)
                # (n_hashes, bits) ±1 votes, summed per document segment
                votes = ((hs[:, None] >> bit_idx[None, :]) & 1) * 2 - 1
                seg = np.add.reduceat(votes, np.asarray(offsets), axis=0)
                sims = ((seg > 0) * weights[None, :]).sum(axis=1)
            else:
                sims = np.empty(0, dtype=np.int64)
            yield pd.DataFrame({"kg_doc_id": ids_, "simhash": sims})

    return _doc_text(docs, text_col).mapInPandas(
        gen, schema="kg_doc_id string, simhash long"
    )


KMV_K = 64                       # sketch size: k minimum hash values
_KMV_SPAN = 1 << 48              # 12-hex-char hash prefix value space
_KMV_NUM = (KMV_K - 1) * _KMV_SPAN  # (k-1)/kth-min-fraction, integer form


def distinct_kmv(
    docs: DataFrame, col: str = "text", group_col: str = "lang", k: int = KMV_K
) -> DataFrame:
    """Per-group distinct-count estimation with a KMV (K-Minimum-Values)
    sketch (Bar-Yossef et al. 2002) next to the exact count, so the
    estimate's error is directly observable.  The hash is the first 12 hex
    chars of sha256 — engine-independent, so the DuckDB oracle recomputes
    the identical sketch; estimate = (k-1) * 2^48 `div` h_k, all-integer
    (the numerator exceeds 2^53, so float division would drift between
    engines).  Groups with fewer than k distinct hashes report the exact
    count (standard KMV small-set rule).

    Scale shape: (1) distinct on (group, 48-bit hash) — the unavoidable
    dedup shuffle, uniform keys by construction; (2) per-(group,
    input-partition) row_number prune to k — fine-grained window keys, so
    a billion-row group never sorts in one task; (3) final per-group fold
    over ≤ k·P surviving rows.  Exact counts fall out of (1) with map-side
    partial aggregation.  The sketch row is O(groups) regardless of corpus
    size — the 100 TB shape for "how many distinct pages per language".
    """
    from pyspark.sql.window import Window

    h = F.conv(F.substring(F.sha2(F.col(col), 256), 1, 12), 16, 10).cast("long")
    dd = cache.keyed_persist(
        docs.filter(F.col(col).isNotNull())
        .select(F.col(group_col).alias("grp"), F.greatest(h, F.lit(1)).alias("hv"))
        .distinct(),
        "kmv_hashes",
    )
    counts = dd.groupBy("grp").agg(F.count(F.lit(1)).alias("n_distinct"))
    w_local = Window.partitionBy("grp", "pid").orderBy("hv")
    pruned = (
        dd.withColumn("pid", F.spark_partition_id())
        .withColumn("rn", F.row_number().over(w_local))
        .filter(F.col("rn") <= k)
        .drop("pid", "rn")
    )
    kth = pruned.groupBy("grp").agg(
        F.element_at(F.slice(F.sort_array(F.collect_list("hv")), 1, k), -1).alias("h_last")
    )
    return (
        counts.join(kth, "grp")
        .select(
            F.col("grp").alias(group_col),
            "n_distinct",
            F.lit(k).cast("long").alias("kmv_k"),
            F.when(F.col("n_distinct") < k, F.col("n_distinct"))
            .otherwise(F.expr(f"{_KMV_NUM}L div h_last"))
            .alias("kmv_estimate"),
        )
    )


CMS_D = 4        # count-min depth (independent hash rows)
CMS_W = 512      # count-min width (cells per row)
CMS_TOPK = 20    # heavy hitters reported


def cms_heavy_hitters(
    docs: DataFrame,
    text_col: str = "text",
    d: int = CMS_D,
    w: int = CMS_W,
    k: int = CMS_TOPK,
) -> DataFrame:
    """Count-Min-Sketch term frequencies (Cormode & Muthukrishnan 2005)
    probed at the exact top-k heavy hitters, so the sketch's one-sided
    overestimate (``cms_count ≥ exact_count``, Markov-bounded by the d×w
    budget) is directly observable per term.  Hashes are the md5-derived
    60-bit `_hash60` over ``'cms' || j || '|' || term`` — engine-portable,
    so the DuckDB oracle rebuilds the identical sketch.

    Scale shape: token explode → term hash-aggregate is word-count with
    map-side combine (the only corpus-sized shuffle); the sketch is built
    from the VOCAB-sized count table (CMS is linear, so hashing weighted
    distinct terms equals hashing the raw stream) and partial-aggregates
    into at most d·w cells of state per task; top-k is
    TakeOrderedAndProject (per-partition heaps, never a global sort); the
    probe joins the ≤ d·w-row sketch broadcast.  Total driver-bound state
    is O(d·w + k) at any corpus size.
    """
    counts = cache.keyed_persist(
        docs.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.explode(_toks(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_count")),
        "cms_counts",
    )
    js = F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("j")
    cell = F.pmod(
        _hash60(
            F.concat(
                F.lit("cms"), F.col("j").cast("string"), F.lit("|"), F.col("term")
            )
        ),
        F.lit(w),
    )
    cells = (
        counts.select("term", "exact_count", js)
        .withColumn("cell", cell)
        .groupBy("j", "cell")
        .agg(F.sum("exact_count").alias("c"))
    )
    topk = counts.orderBy(F.desc("exact_count"), F.asc("term")).limit(k)
    return (
        topk.select("term", "exact_count", js)
        .withColumn("cell", cell)
        .join(F.broadcast(cells), ["j", "cell"])
        .groupBy("term", "exact_count")
        .agg(F.min("c").alias("cms_count"))
        .select(
            "term",
            "exact_count",
            "cms_count",
            (F.col("cms_count") - F.col("exact_count")).alias("cms_over"),
        )
    )


def paragraph_dups(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """Cross-page exact paragraph duplication — the paragraph-granular
    dedup signal (boilerplate and syndicated blocks repeat at paragraph
    level even when whole documents differ).

    Explode newline-separated paragraphs, trim, drop empties, then ONE
    hash aggregate on the paragraph text: (paragraph, sha256, number of
    distinct pages carrying it, total occurrences), filtered to
    cross-page duplicates (n_pages >= 2).  Map-side partial aggregation
    makes the shuffle carry one row per distinct paragraph per partition;
    at 100 TB the aggregate would key on the sha alone and carry
    min(paragraph) as the representative — same plan shape.
    """
    para = F.explode(F.split(F.col(text_col), "\n")).alias("paragraph")
    return (
        pages.select(F.col("url"), para)
        .select("url", F.trim(F.col("paragraph")).alias("paragraph"))
        .filter(F.col("paragraph") != "")
        .groupBy("paragraph")
        .agg(
            F.countDistinct("url").cast("long").alias("n_pages"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        )
        .filter(F.col("n_pages") >= 2)
        .select(
            F.sha2(F.col("paragraph"), 256).alias("para_sha256"),
            "paragraph",
            "n_pages",
            "n_occurrences",
        )
    )


# TextRank keyphrase extraction: candidate words are lowercased letter runs
# of length >= KEYPHRASE_MIN_LEN minus the function-word stoplist; the graph
# is adjacency between consecutive kept words (undirected — both directions
# emitted), ranked by the same integer fixed-point PageRank the graph layer
# uses (bit-exact, so the value hash is well-defined).
KEYPHRASE_MIN_LEN = 4
KEYPHRASE_TOP_K = 20
KEYPHRASE_STOPWORDS = [
    "that", "with", "this", "from", "have", "were", "their", "they",
    "been", "which",
]


def keyphrases(
    docs: DataFrame, text_col: str = "text", k: int = KEYPHRASE_TOP_K
) -> DataFrame:
    """Corpus-level TextRank (Mihalcea & Tarau 2004, the word-graph half):
    rank vocabulary words by integer PageRank over the consecutive-word
    cooccurrence graph, return the top ``k`` by (rank desc, word asc).

    Plan: one narrow token projection, one explode + distinct building the
    undirected pair set (the only corpus-sized shuffle), then the shared
    :func:`kgspark.graph.pagerank` loop — per-round cost is O(vocab +
    distinct pairs), NOT corpus size, because the pair set is distinct
    before iterating.  The final top-k compiles to TakeOrderedAndProject.
    """
    from . import graph as _graph

    toks = F.filter(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z]+"), 0),
        lambda x: (F.length(x) >= KEYPHRASE_MIN_LEN)
        & ~x.isin(*KEYPHRASE_STOPWORDS),
    )
    ws = (
        docs.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(toks.alias("ws"))
        .filter(F.size("ws") >= 2)
    )
    zipped = F.arrays_zip(
        F.slice(F.col("ws"), 1, F.size("ws") - 1).alias("a"),
        F.slice(F.col("ws"), 2, F.size("ws") - 1).alias("b"),
    )
    kp = (
        ws.select(F.explode(zipped).alias("p"))
        .select(F.col("p.a").alias("subj"), F.col("p.b").alias("obj"))
        .filter(F.col("subj") != F.col("obj"))
        .distinct()
    )
    und = kp.union(kp.select(F.col("obj").alias("subj"), F.col("subj").alias("obj")))
    pr = _graph.pagerank(und)
    return (
        pr.select(F.col("name").alias("word"), "pagerank")
        .orderBy(F.col("pagerank").desc(), F.col("word"))
        .limit(k)
    )


# Boilerplate rule thresholds: a line is host-boilerplate when it appears
# on >= BOILER_MIN_PAGES distinct pages of the host AND on >= 30% of the
# host's pages (integer form: 10*n_pages_with_line >= 3*host_pages — the
# CCNet-style document-frequency rule, host-scoped).
BOILER_MIN_PAGES = 2
BOILER_RATIO_NUM = 3
BOILER_RATIO_DEN = 10


def boilerplate_strip(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """Host-scoped line-frequency boilerplate removal (the CCNet/trafilatura
    signal): nav bars and footers repeat on most pages of a SITE, so a
    trimmed nonempty line is boilerplate for its host when it appears on
    >= 2 distinct pages and >= 30% of the host's pages (integer-exact
    ratio, never a float).  Host scope matters: a syndicated line on one
    page each of two hosts is content, not chrome.

    Emits one row per page — line counts, instances removed, and the
    rebuilt page (kept lines, original order) pinned by ``cleaned_sha256``
    so the oracle verifies the byte-exact rewrite without the query
    shipping a corpus-sized text column.

    Plan: posexplode → one (host, line) hash aggregate (distinct-page
    counts), one host aggregate (page counts, broadcast-sized — O(hosts)
    rows at any corpus), join back, one per-url fold rebuilding the page.
    The only corpus-sized shuffles are the line-key aggregate and the
    per-url rebuild; both carry one row per line instance, map-side
    combined.  At 100 TB the line key would be sha-collapsed; same shape.
    """
    host = F.lower(F.parse_url(F.col("url"), F.lit("HOST")))
    base = pages.select("url", host.alias("host"))
    exploded = (
        pages.select(
            "url",
            host.alias("host"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
        )
        .select("url", "host", "pos", F.trim(F.col("line")).alias("line"))
        .filter(F.col("line") != "")
    )
    line_stats = exploded.groupBy("host", "line").agg(
        F.countDistinct("url").alias("_line_pages")
    )
    # the denominator counts EVERY page of the host, whitespace-only ones
    # included (``exploded`` has dropped those)
    host_stats = base.groupBy("host").agg(
        F.countDistinct("url").alias("_host_pages")
    )
    boiler = (F.col("_line_pages") >= BOILER_MIN_PAGES) & (
        F.col("_line_pages") * BOILER_RATIO_DEN
        >= F.col("_host_pages") * BOILER_RATIO_NUM
    )
    marked = (
        exploded.join(line_stats, ["host", "line"])
        .join(F.broadcast(host_stats), "host")
        .select("url", "host", "pos", "line", boiler.alias("is_boiler"))
    )
    kept = F.filter(
        F.array_sort(F.collect_list(F.struct("pos", "is_boiler", "line"))),
        lambda s: ~s.is_boiler,
    )
    agg = marked.groupBy("url", "host").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("is_boiler").cast("long")).cast("long").alias(
            "n_boiler_lines"
        ),
        F.sha2(
            F.array_join(F.transform(kept, lambda s: s.line), "\n"), 256
        ).alias("cleaned_sha256"),
    )
    # one row per INPUT page, including pages with no nonempty lines
    # (whitespace-only text strips to the empty rewrite, not to absence —
    # review catch: the aggregate alone would drop them).
    return base.join(agg, ["url", "host"], "left").select(
        "url",
        "host",
        F.coalesce("n_lines", F.lit(0)).cast("long").alias("n_lines"),
        F.coalesce("n_boiler_lines", F.lit(0))
        .cast("long")
        .alias("n_boiler_lines"),
        F.coalesce(
            "cleaned_sha256", F.lit(hashlib.sha256(b"").hexdigest())
        ).alias("cleaned_sha256"),
    )


def curation_verdict(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """Page-level curation verdict — the filter stack's END PRODUCT: one
    row per page with the per-signal flags and the final keep decision a
    training-data pipeline acts on.

    Signals (each already an individually-oracled operator; this composes
    them): C4 page gate (:func:`c4_line_clean` ``passes_c4``), exact-dup
    first-wins (the page keeps only if it is the smallest url for its
    content — the A4 rule), and a minimum content length
    (`spec.CURATION_MIN_CHARS`).  ``reasons`` is a deterministic
    comma-joined list of every failed signal (empty string = keep).

    Plan: the C4 signal is a narrow projection; the dup signal is ONE
    content-key aggregate joined back by content hash; everything else is
    columnar arithmetic.  Two shuffles total at any corpus size.
    """
    from . import spec

    c4 = c4_line_clean(pages, text_col=text_col)
    base = pages.select(
        "url",
        F.col(text_col).alias("_t"),
        F.sha2(F.trim(F.col(text_col)), 256).alias("_csha"),
        F.length(F.trim(F.col(text_col))).cast("long").alias("content_chars"),
    )
    winners = base.groupBy("_csha").agg(F.min("url").alias("_keeper"))
    flags = (
        base.join(winners, "_csha")
        .join(c4.select("url", "passes_c4"), "url")
        .select(
            "url",
            "content_chars",
            F.col("passes_c4"),
            (F.col("url") == F.col("_keeper")).alias("is_content_keeper"),
            (F.col("content_chars") >= spec.CURATION_MIN_CHARS).alias("long_enough"),
        )
    )
    reasons = F.concat_ws(
        ",",
        F.when(~F.col("passes_c4"), F.lit("fails_c4")),
        F.when(~F.col("is_content_keeper"), F.lit("exact_dup")),
        F.when(~F.col("long_enough"), F.lit("too_short")),
    )
    return flags.withColumn(
        "keep",
        F.col("passes_c4") & F.col("is_content_keeper") & F.col("long_enough"),
    ).withColumn("reasons", reasons)
