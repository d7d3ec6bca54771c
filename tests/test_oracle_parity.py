"""Every registered query must hash-match its DuckDB oracle (driver's t2 gate)."""

from __future__ import annotations

import os
import re

import pytest

import futures_eos_cdc_spark
from futures_eos_cdc_spark.plans import ORACLES, QUERIES
from futures_eos_cdc_spark.plans.registry import query
from tests.oracle_utils import compare, duckdb_con


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_con(sf_dir)
    yield c
    c.close()


# Queries whose row count is legitimately 0 at sf0.001 (the order pipeline
# needs actionable decisions, which only appear at denser SFs — the driver's
# sf0.01 check always has rows; tests/verify cover that via
# SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01).
MAY_BE_EMPTY_AT_TINY_SF = {"orders_from_decisions", "outbox_event_router"}


@pytest.mark.parametrize("name", sorted(ORACLES.keys()))
def test_query_matches_oracle(spark, sf_dir, con, name):
    df = QUERIES[name](spark, sf_dir)
    allow_empty = name in MAY_BE_EMPTY_AT_TINY_SF and sf_dir.endswith("sf0.001")
    compare(df, con, ORACLES[name], allow_empty=allow_empty)


def test_all_queries_run(spark, sf_dir):
    for name, fn in QUERIES.items():
        df = fn(spark, sf_dir)
        assert df.columns, name


def test_every_query_has_an_oracle():
    """A query without an oracle would silently drop out of the
    parametrization above."""
    assert set(QUERIES) == set(ORACLES)


def test_reregistering_a_name_raises_and_changes_nothing():
    queries, oracles = dict(QUERIES), dict(ORACLES)
    with pytest.raises(ValueError, match="signal_decisions"):
        query("signal_decisions", "SELECT 1")(lambda spark, sf_dir: None)
    assert QUERIES == queries and list(QUERIES) == list(queries)
    assert ORACLES == oracles


_REGISTRY_WRITE = re.compile(
    r"\b(QUERIES|ORACLES)(\[[^\]]*\]\s*=[^=]|\.(clear|pop|popitem|setdefault|update)\()"
    r"|\bdel\s+(QUERIES|ORACLES)\["
)


def test_only_query_writes_the_registry():
    """``query()`` is the one registration path: no module assigns
    QUERIES[...] / ORACLES[...] or reorders them by hand."""
    root = os.path.dirname(futures_eos_cdc_spark.__file__)
    writes = set()
    for d, _, files in os.walk(root):
        for name in (f for f in files if f.endswith(".py")):
            path = os.path.join(d, name)
            with open(path, encoding="utf-8") as fh:
                writes |= {
                    (os.path.relpath(path, root), line.strip())
                    for line in fh
                    if _REGISTRY_WRITE.search(line)
                }
    assert writes == {
        ("plans/registry.py", "QUERIES[name] = fn"),
        ("plans/registry.py", "ORACLES[name] = oracle"),
    }
