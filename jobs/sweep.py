"""Driver-protocol sweep: run EVERY registered query against its DuckDB oracle.

Mimics the round driver's CORRECTNESS_r*.json compare at an arbitrary SF:
for each entry in `__spark_entry__.queries()`, run the Spark DataFrame and
the `oracle_sql()` string over the same parquet tables, then compare row
count, schema (column names sorted), and a value hash over
`__spark_entry__.value_lines` — the compare protocol the parity tests use.

Usage:  python jobs/sweep.py [sf_dir] [query ...]
        (default sf_dir /root/testdata/sf0.01; no query args = all)

Prints one JSON line per query plus a final summary line, and exits
non-zero if any query is red.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _result(entry, rows: list[tuple], cols: list[str]) -> tuple[list[str], str]:
    lines = entry.value_lines(rows, cols)
    return sorted(cols), hashlib.sha256("\x1e".join(lines).encode()).hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, REPO_ROOT)
    spec = importlib.util.spec_from_file_location(
        "entry", os.path.join(REPO_ROOT, "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    from kgspark.session import get_spark

    spark = get_spark(app_name="sweep", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    con = entry.duck_views(sf_dir)
    qs = entry.queries()
    oracles = entry.oracle_sql()
    n_green = n_red = 0
    reds = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        rec = {"q": name}
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols, shash = _result(entry, srows, sdf.columns)
            rec["spark_rows"] = len(srows)
            res = con.execute(oracles[name])
            orows = res.fetchall()
            ocols, ohash = _result(entry, orows, [d[0] for d in res.description])
            rec["oracle_rows"] = len(orows)
            rec["rows_match"] = len(srows) == len(orows)
            rec["schema_match"] = scols == ocols
            rec["hash_match"] = shash == ohash
            ok = rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
            if not rec["schema_match"]:
                rec["spark_cols"], rec["oracle_cols"] = scols, ocols
        except Exception as e:  # noqa: BLE001 - sweep must report, not die
            rec["err"] = f"{type(e).__name__}: {e}"[:300]
            ok = False
        if ok:
            n_green += 1
        else:
            n_red += 1
            reds.append(name)
        print(json.dumps(rec), flush=True)
    spark.stop()
    print(json.dumps({"sf_dir": sf_dir, "green": n_green, "red": n_red, "red_queries": reds}))
    return 1 if n_red else 0


if __name__ == "__main__":
    raise SystemExit(main())
