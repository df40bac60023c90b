"""Register policy as tests, Spark-free: the driver prefix and oracle coverage.

The driver evaluates the first 50 entries of ``queries()``; a changed prefix
loses a green evidence row.  CORRECTNESS_r04.json is the last artifact whose
prefix was all green, so its key order is the prefix.
"""

from __future__ import annotations

import importlib.util
import json
import os

from .conftest import REPO_ROOT

_spec = importlib.util.spec_from_file_location(
    "__spark_entry__", os.path.join(REPO_ROOT, "__spark_entry__.py")
)
entry_mod = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(entry_mod)


def test_driver_prefix_is_the_r4_green_prefix():
    with open(os.path.join(REPO_ROOT, "CORRECTNESS_r04.json")) as f:
        r4 = list(json.load(f))
    assert list(entry_mod.queries())[:50] == r4
    driver = [q.name for q in entry_mod.REGISTER if q.tier == entry_mod.DRIVER]
    assert driver == r4


def test_every_query_has_an_oracle_and_every_oracle_a_query():
    # a duplicate row name would silently shadow another in queries()
    assert len(entry_mod.REGISTER) == len(entry_mod.queries())
    assert set(entry_mod.queries()) == set(entry_mod.oracle_sql())
