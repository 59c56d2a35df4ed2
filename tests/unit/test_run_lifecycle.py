"""Per-run state that can outlive a query: streams (``events.drain``)
and per-run directories (``artifacts.scratch_dir``). Each has one
owner module; these tests pin that nothing leaks past it."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from rs_query_engine_spark import queries as registry
from rs_query_engine_spark.streaming.events import drain


@pytest.mark.parametrize("available_now", [False, True])
def test_drain_leaks_nothing_when_a_batch_fails(spark, tmp_path, available_now):
    """A failing micro-batch surfaces from ``drain``, and neither the
    stream nor its scoped confs (shuffle partitions, no-data batches)
    survive it."""
    src = str(tmp_path / "src")
    spark.range(3).write.parquet(src)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    no_data = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev_no_data = spark.conf.get(no_data)

    def fail(batch_df, batch_id):
        raise RuntimeError("batch failed")

    writer = (
        spark.readStream.schema("id long")
        .parquet(src)
        .writeStream.foreachBatch(fail)
        .option("checkpointLocation", str(tmp_path / "ck"))
    )
    with pytest.raises(Exception, match="batch failed"):
        drain(
            spark,
            writer,
            state_partitions=3,
            available_now=available_now,
            watermark_flush=False,
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert spark.conf.get(no_data) == prev_no_data
    assert spark.streams.active == []


def owners(pattern: str) -> list[str]:
    """The package modules, relative to the package, whose text matches."""
    pkg = Path(registry.__file__).resolve().parent
    pat = re.compile(pattern)
    return [
        p.relative_to(pkg).as_posix()
        for p in sorted(pkg.rglob("*.py"))
        if pat.search(p.read_text())
    ]


def test_only_the_lifecycle_modules_own_tmp_dirs_and_streams():
    """Over the whole package: only ``sources/artifacts.py`` and the
    stream shim in ``sources/corpus.py`` place directories under the
    temp dir, and only ``streaming/events.py`` waits on a stream,
    sets the shuffle partitions or touches the no-data batch switch."""
    assert owners(r"gettempdir\(") == ["sources/artifacts.py", "sources/corpus.py"]
    assert owners(
        r"processAllAvailable\(|awaitTermination\("
        r'|conf\.set\(\s*"spark\.sql\.shuffle\.partitions"'
        r"|noDataMicroBatches"
    ) == ["streaming/events.py"]


def test_only_the_session_picks_the_daemon_and_only_pyworker_wraps_zipimport():
    """The Python workers' daemon module is chosen in one place, and the
    zip-importer guard lives in one module."""
    assert owners(r"spark\.python\.daemon\.module") == ["session.py"]
    assert owners(r"zipimport") == ["pyworker.py"]
