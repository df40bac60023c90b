"""Probabilistic membership: a partitioned Bloom filter as a DataFrame.

The crawl-scale use is the "have we seen this key before" prefilter (the
reference's enqueue dedup consults its KV store per file, pipeline/
pipeline.rs:461-470; at 10^12 URLs the store lookup becomes this filter in
front of the authoritative anti-join).  The filter is a plain DataFrame of
(word, bits) rows — 32-bit words of a 2^ceil(log2(16n))-bit array — so it
scales past broadcast size: small filters broadcast into the probe join,
huge ones shuffle on the word key, and EITHER way there are no false
negatives; false positives are re-checked by the exact anti-join they
gate, which now touches only the maybe-seen sliver.

Hashes are the engine-portable md5-derived `_hash60` over
``'bloom' || j || '|' || key`` so the DuckDB oracle rebuilds the identical
bit array.  Build is explode(k positions) -> bit_or aggregate: bit_or is
idempotent, so no distinct is needed and map-side partial aggregation
bounds the exchange at m/32 rows per task.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import cache
from .textops import _hash60

BLOOM_HASHES = 3       # k hash functions
BLOOM_BITS_PER_KEY = 16  # m = next power of two >= 16 n  (FP ~ 0.5 %)


def _bloom_pos(key: Column, j: int, m_bits: int) -> Column:
    return F.pmod(
        _hash60(F.concat(F.lit(f"bloom{j}|"), key.cast("string"))),
        F.lit(m_bits),
    )


def bloom_m_bits(n_keys: int) -> int:
    """Deterministic sizing rule (restated by the oracle in SQL):
    m = 2^max(8, ceil(log2(16 n)))."""
    return 1 << max(8, math.ceil(math.log2(max(1, n_keys) * BLOOM_BITS_PER_KEY)))


def bloom_build(members: DataFrame, col: str, m_bits: int) -> DataFrame:
    """(word, bits) rows of the Bloom array over ``members[col]``."""
    poss = F.array(
        *[_bloom_pos(F.col(col), j, m_bits) for j in range(BLOOM_HASHES)]
    )
    return (
        members.select(F.explode(poss).alias("pos"))
        .select(
            F.expr("pos div 32").alias("word"),
            F.expr("shiftleft(1L, cast(pos % 32 as int))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )


def bloom_probe(
    candidates: DataFrame, col: str, bloom: DataFrame, m_bits: int
) -> DataFrame:
    """``bloom_hit`` per candidate key: true iff ALL k bits are set.

    One explode(k) projection, one equi-join on the word key (broadcast
    when the filter fits, shuffle when it does not — Catalyst/AQE picks),
    one bool_and fold back to one row per candidate.
    """
    poss = F.array(
        *[_bloom_pos(F.col(col), j, m_bits) for j in range(BLOOM_HASHES)]
    )
    probe = candidates.select(F.col(col), F.explode(poss).alias("pos")).select(
        col,
        F.expr("pos div 32").alias("word"),
        F.expr("shiftleft(1L, cast(pos % 32 as int))").alias("mask"),
    )
    return (
        probe.join(bloom, "word", "left")
        .select(
            col,
            F.coalesce(
                (F.col("bits").bitwiseAND(F.col("mask")) != 0), F.lit(False)
            ).alias("hit"),
        )
        .groupBy(col)
        .agg(F.expr("bool_and(hit)").alias("bloom_hit"))
    )


def bloom_prefilter(
    members: DataFrame, candidates: DataFrame, member_col: str, cand_col: str
) -> DataFrame:
    """End-to-end prefilter audit row per candidate: the Bloom verdict next
    to exact membership, so the no-false-negative contract (member ⇒ hit)
    and the FP rate are both directly observable.  The exact check is a
    left-semi join — the thing the filter would gate at scale, kept here
    as the audit column."""
    keys = cache.keyed_persist(
        members.select(F.col(member_col).alias("k")).distinct(), "bloom_keys"
    )
    m_bits = bloom_m_bits(keys.count())
    bloom = bloom_build(keys, "k", m_bits)
    cand = candidates.select(F.col(cand_col).alias("cand_key")).distinct()
    hits = bloom_probe(cand, "cand_key", bloom, m_bits)
    return hits.join(
        keys.select(F.col("k").alias("cand_key"), F.lit(True).alias("_m")),
        "cand_key",
        "left",
    ).select(
        "cand_key",
        "bloom_hit",
        F.coalesce("_m", F.lit(False)).alias("is_member"),
    )
