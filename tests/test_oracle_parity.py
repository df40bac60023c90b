"""Driver-style oracle parity: every oracled query must match DuckDB exactly.

Mimics the round gate: run each ``__spark_entry__.queries()`` entry on Spark,
run the matching ``oracle_sql()`` in DuckDB over the same parquet views, and
compare row count, column names, and an order-insensitive value hash.
"""

from __future__ import annotations

import os

import pytest

from .conftest import REPO_ROOT, SF_BENCH, SF_UNIT

import importlib.util

_spec = importlib.util.spec_from_file_location(
    "__spark_entry__", os.path.join(REPO_ROOT, "__spark_entry__.py")
)
entry_mod = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_spec and entry_mod)

ORACLED = sorted(entry_mod.queries())  # every query has one: tests/test_register.py


def _check_parity(spark, name: str, sf_dir: str) -> None:
    q = entry_mod.queries()[name]
    sdf = q(spark, sf_dir)
    spark_rows = sdf.collect()
    spark_cols = sdf.columns

    con = entry_mod.duck_views(sf_dir)
    res = con.execute(entry_mod.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    sv = entry_mod.value_lines([tuple(r) for r in spark_rows], spark_cols)
    dv = entry_mod.value_lines(duck_rows, duck_cols)
    if sv != dv:
        diff = [(a, b) for a, b in zip(sv, dv) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diff}")


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_parity(spark, name):
    _check_parity(spark, name, SF_UNIT)


@pytest.mark.slow
@pytest.mark.parametrize("name", ORACLED)
def test_oracle_parity_sf01(spark, name):
    """VERDICT r2 item 8: scale-tier parity gate.  Ties and boundary cases
    (the sessionize lesson) appear only at scale — the full oracled query
    set must also hash-match DuckDB at sf0.1, 100x the fast gate's volume.
    Skipped unless selected with `-m slow` (see conftest)."""
    _check_parity(spark, name, SF_BENCH)


# ---------------------------------------------------------------------------
# Dtype parity (VERDICT r3 item 1): the r1-r3 `events_sessionize` red cell
# was a TYPE asymmetry, not a value asymmetry — DuckDB types an un-cast
# integer SUM as HUGEINT (INT128), which some client paths render
# differently from Spark's long ("3.0" vs "3") even when every value is
# bit-identical.  This gate asserts, for every oracled query, that the
# DuckDB-declared output type of each column maps to the same scalar family
# as the Spark schema, and that no column is HUGEINT / UHUGEINT / DECIMAL
# (types whose client rendering is formatter-dependent).  `DESCRIBE SELECT`
# types without executing, so this runs in seconds across the register.
# ---------------------------------------------------------------------------

_BANNED_DUCK = ("HUGEINT", "UHUGEINT", "DECIMAL")

def _duck_family(t: str) -> str:
    t = t.upper()
    if t.endswith("[]"):
        return "list<" + _duck_family(t[:-2]) + ">"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "REAL", "DOUBLE"):
        return "float"
    if t == "BOOLEAN":
        return "bool"
    if t == "VARCHAR":
        return "str"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t == "DATE":
        return "date"
    if t == "BLOB":
        return "binary"
    if t.startswith("STRUCT"):
        return "struct"
    return t


def _spark_family(t: str) -> str:
    t = t.lower()
    if t.startswith("array<"):
        return "list<" + _spark_family(t[6:-1]) + ">"
    if t in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if t in ("float", "double"):
        return "float"
    if t == "boolean":
        return "bool"
    if t == "string":
        return "str"
    if t.startswith("timestamp"):
        return "timestamp"
    if t == "date":
        return "date"
    if t == "binary":
        return "binary"
    if t.startswith("struct"):
        return "struct"
    return t


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_dtype_parity(spark, name):
    sdf = entry_mod.queries()[name](spark, SF_UNIT)
    spark_types = dict(sdf.dtypes)

    con = entry_mod.duck_views(SF_UNIT)
    desc = con.execute(
        "DESCRIBE " + entry_mod.oracle_sql()[name]
    ).fetchall()
    duck_types = {r[0]: r[1] for r in desc}

    assert sorted(spark_types) == sorted(duck_types), (
        f"{name}: column mismatch {sorted(spark_types)} vs {sorted(duck_types)}"
    )
    for col, dt in duck_types.items():
        base = dt.upper()
        for banned in _BANNED_DUCK:
            assert banned not in base, (
                f"{name}.{col}: oracle output type {dt} is {banned} — "
                f"formatter-dependent rendering; cast to BIGINT/DOUBLE in "
                f"the oracle SQL"
            )
        assert _duck_family(dt) == _spark_family(spark_types[col]), (
            f"{name}.{col}: oracle type {dt} (family "
            f"{_duck_family(dt)}) != Spark type {spark_types[col]} "
            f"(family {_spark_family(spark_types[col])})"
        )
