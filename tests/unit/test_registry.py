"""The query registry: one ``register``, unique names, and a
``queries()`` order that does not depend on import order."""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

import pytest

from rs_query_engine_spark import queries as registry

REPO = Path(__file__).resolve().parents[2]


def test_register_rejects_a_taken_name():
    taken, owner = next(iter(registry.queries().items()))
    before = registry._QUERIES[taken], registry._ORACLE.get(taken)
    with pytest.raises(ValueError, match=f"{taken}.*{owner.__module__}"):
        registry.register(taken, oracle="SELECT 1")(lambda spark, sf_dir: None)
    assert (registry._QUERIES[taken], registry._ORACLE.get(taken)) == before


def _names_after_importing(module: str) -> list[str]:
    code = (
        f"import json, {module}\n"
        "from rs_query_engine_spark import queries\n"
        "print(json.dumps(list(queries.queries())))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        check=True,
        capture_output=True,
        text=True,
    )
    return json.loads(out.stdout)


def test_order_does_not_depend_on_the_first_import():
    # queries_staged_r10 imports queries_staged_r9 at module level, so
    # importing it first registers both before the modules listed
    # ahead of them
    via_entry = _names_after_importing("__spark_entry__")
    via_pen = _names_after_importing("rs_query_engine_spark.queries_staged_r10")
    assert len(via_entry) == 336
    assert via_entry == via_pen


def test_every_query_module_is_loaded():
    # a queries*.py file missing from the list would register into a
    # registry nothing reads
    package = Path(registry.__file__).parent
    modules = {p.stem for p in package.glob("queries*.py")} - {"queries"}
    assert modules == set(registry._QUERY_MODULES)


def test_each_query_module_has_one_parity_file():
    # a parity file whose module registers nothing collects no query
    # ids and passes on the empty set
    named = []
    for path in (REPO / "tests" / "oracle").glob("test_staged*_parity.py"):
        line = re.search(r'^MODULE = "([^"]+)"$', path.read_text(), re.M)
        assert line, path.name
        named.append(line.group(1))
    assert sorted(named) == sorted(registry._QUERY_MODULES)
