"""DuckDB cross-check of recorded digests.

Where the registry has oracle SQL for a query, run it in DuckDB over the
same parquet files and compare with the Spark rows the way the repo's
parity test does: columns sorted by name, rows sorted, values exact.
Used when digests are recorded, never inside a timed run.
"""

from __future__ import annotations

import datetime
import math


def _cell(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_cell(r[i]) for i in order) for r in rows), key=repr)


def cross_check(spark, sf_dir: str, names: list[str]) -> dict[str, str]:
    """name -> ``match`` / ``mismatch: ...`` for every name with an oracle."""
    import duckdb

    from rs_query_engine_spark import queries as registry
    from rs_query_engine_spark.sources.corpus import TABLES

    oracles = registry.oracle_sql()
    qs = registry.queries()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    out = {}
    for name in names:
        if name not in oracles:
            continue
        sdf = qs[name](spark, sf_dir)
        s_rows, s_cols = [tuple(r) for r in sdf.collect()], sdf.columns
        tbl = con.execute(oracles[name]).fetch_arrow_table()
        d_rows, d_cols = [tuple(r.values()) for r in tbl.to_pylist()], tbl.column_names
        if sorted(s_cols) != sorted(d_cols):
            out[name] = f"mismatch: columns {s_cols} vs {d_cols}"
        elif len(s_rows) != len(d_rows):
            out[name] = f"mismatch: {len(s_rows)} rows vs {len(d_rows)}"
        elif _normalize(s_rows, s_cols) != _normalize(d_rows, d_cols):
            out[name] = "mismatch: values"
        else:
            out[name] = "match"
    con.close()
    return out
