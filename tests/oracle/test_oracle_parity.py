"""DuckDB-oracle parity — the correctness check of ``__spark_entry__.py``.

Each registered query is built once per test session and, when it has
oracle SQL, that SQL runs once in DuckDB on the same parquet tables.
From that one pair of results ``parity()`` records column names, type
families, row count and order-insensitive values compared EXACTLY (the
rounding discipline in ``rs_query_engine_spark.queries`` is what makes
exact float comparison viable). See SURVEY §5c. The tests here and in
the per-module ``test_staged*_parity.py`` files all read that one
record, so a query is never built twice.

The type-family check exists because the correctness hash is
type-sensitive: DuckDB surfacing a column as DECIMAL where Spark emits
BIGINT hash-mismatches even when every value compares equal in Python
(Decimal(5) == 5).

An empty result fails unless the query is listed in ``EMPTY_OK``: an
oracle that agrees with an empty result has checked nothing.

Run one query at the sf0.01 correctness scale by pointing
``SPARK_GRAFT_TEST_SF_DIR`` at the sf0.01 tables and selecting it with
``pytest tests/oracle/test_oracle_parity.py -k <name>``.
"""

from __future__ import annotations

import datetime
import math
import os
import re
from dataclasses import dataclass

import duckdb
import pytest

from rs_query_engine_spark import queries as registry
from rs_query_engine_spark.sources.corpus import TABLES
from rs_query_engine_spark.typefamilies import arrow_family, spark_family

# default: smoke SF for speed; correctness is judged at sf0.01
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

QUERIES = registry.queries()
ORACLE = registry.oracle_sql()

# Queries registered without oracle SQL: only their rows are checked.
ROWS_ONLY = {"agg_approx_percentile", "similarity_ivf_kmeans", "text_unigram_logprob"}

# Queries whose result is empty on the test corpora, with the reason.
# Making them return rows changes their oracle SQL, so it is left for
# a later change; until then each one is listed here, not skipped.
EMPTY_OK = {
    "setop_intersect_except": "sf0.001: every positive-balance customer with orders also has one above 200000",
    "source_orc_roundtrip": "sf0.001: no part is priced above 950",
    "tpch_q7_shape": "sf0.001: no supplier is in NATION_1 or NATION_2",
    "tpch_q20_shape": "sf0.001 and sf0.01: no supplier ships more than half of any PROMO part",
    "text_contamination_check": "sf0.01: no document holds 20% of a benchmark document's 4-grams",
}


def _duck(sql: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con.execute(sql).fetch_arrow_table()


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # exact — the rounding discipline in queries.py must be enough
        return v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


def _normalize(rows, colnames):
    """Sort columns by name, then rows — order-insensitive compare."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(_norm_cell(row[i]) for i in order) for row in rows]
    return sorted(out, key=repr)


@dataclass(frozen=True)
class Parity:
    """One build of a query against one run of its oracle SQL. Each
    field is the failure message of one check, or "" if it passed."""

    empty: str = ""
    columns: str = ""
    types: str = ""
    rows: str = ""
    values: str = ""


_PARITY: dict[str, Parity] = {}


def _compare(spark, name: str) -> Parity:
    sql = ORACLE.get(name)
    sdf = QUERIES[name](spark, SF_DIR)
    spark_rows = [tuple(r) for r in sdf.collect()]
    empty = "" if spark_rows or name in EMPTY_OK else (
        f"{name}: empty result (list it in EMPTY_OK with a reason)"
    )
    if sql is None:
        return Parity(empty=empty)

    tbl = _duck(sql)
    spark_cols = sdf.columns
    duck_cols = tbl.column_names
    spark_types = {f.name: spark_family(f.dataType.simpleString()) for f in sdf.schema.fields}
    duck_types = {f.name: arrow_family(f.type) for f in tbl.schema}
    duck_rows = [tuple(r.values()) for r in tbl.to_pylist()]
    ns, nd = _normalize(spark_rows, spark_cols), _normalize(duck_rows, duck_cols)
    mismatches = [(a, b) for a, b in zip(ns, nd) if a != b]
    return Parity(
        empty=empty,
        columns="" if sorted(spark_cols) == sorted(duck_cols) else (
            f"{name}: column mismatch {spark_cols} vs {duck_cols}"
        ),
        types="" if spark_types == duck_types else (
            f"{name}: type-family mismatch (the correctness hash is type-sensitive)"
            f" {spark_types} vs {duck_types}"
        ),
        rows="" if len(spark_rows) == len(duck_rows) else (
            f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
        ),
        values="" if not mismatches else (
            f"{name}: first value mismatches: {mismatches[:3]}"
        ),
    )


def parity(spark, name: str) -> Parity:
    """The parity record of a query, built on first use."""
    if name not in _PARITY:
        _PARITY[name] = _compare(spark, name)
    return _PARITY[name]


def assert_matches_oracle(spark, name: str) -> None:
    p = parity(spark, name)
    for failure in (p.empty, p.columns, p.rows, p.values):
        assert not failure, failure


def assert_type_families_match(spark, name: str) -> None:
    failure = parity(spark, name).types
    assert not failure, failure


def module_queries(module: str) -> list[str]:
    """The query names defined in ``module``."""
    mod = f"{registry.__package__}.{module}"
    return sorted(n for n, fn in QUERIES.items() if fn.__module__ == mod)


def module_oracled(module: str) -> list[str]:
    """The names in ``module_queries(module)`` that have oracle SQL."""
    return [n for n in module_queries(module) if n in ORACLE]


def assert_names_taken(module: str) -> None:
    """Registering any of ``module``'s names again raises, so no other
    module can shadow one of its queries."""
    names = module_queries(module)
    assert names
    owner = re.escape(f"{registry.__package__}.{module}") + "$"
    for name in names:
        with pytest.raises(ValueError, match=owner):
            registry.register(name)(lambda spark, sf_dir: None)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, name):
    assert_matches_oracle(spark, name)
    if name not in ORACLE:
        assert set(QUERIES) - set(ORACLE) == ROWS_ONLY


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_result_type_families_match(spark, name):
    assert_type_families_match(spark, name)
