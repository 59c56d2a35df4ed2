"""DuckDB-oracle parity for the queries of ``queries_staged``.

The same checks as ``test_oracle_parity.py``, read from the same
single build of each query (``parity()``).
"""

from __future__ import annotations

import pytest

# no tests/__init__.py: pytest rootless mode puts this directory on
# sys.path, so the sibling harness imports as a top-level module
from test_oracle_parity import (
    ROWS_ONLY,
    assert_matches_oracle,
    assert_names_taken,
    assert_type_families_match,
    module_oracled,
    module_queries,
)

MODULE = "queries_staged"
ORACLED = module_oracled(MODULE)


def test_all_staged_queries_have_oracles():
    assert module_queries(MODULE) == ORACLED


@pytest.mark.parametrize("name", ORACLED)
def test_staged_query_matches_oracle(spark, name):
    assert_matches_oracle(spark, name)


@pytest.mark.parametrize("name", ORACLED)
def test_staged_result_type_families_match(spark, name):
    assert_type_families_match(spark, name)
