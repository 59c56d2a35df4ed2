"""Spans recorded from the benchmark's side of each call into the package.

A ``Tracer`` keeps one record per query execution in memory: the
wall-clock bounds of its ``construct``, ``plan`` and ``exec`` children,
every ``truncate_lineage`` call made while it ran, Catalyst phase times
from ``queryExecution().tracker()``, and JVM probes taken at its bounds
(GC time, peak heap, bytes of cached blocks still held). Spark jobs,
tasks and micro-batches are attributed afterwards from the event log
(``eventlog.py``) through the job group each phase runs under.

Times are epoch seconds (``time.time()``), the clock the event log uses.
"""

from __future__ import annotations

import functools
import sys
import time


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.records: list[dict] = []
        self.current: dict | None = None
        self.counts: dict[str, int] = {}
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._heap_pools = [p for p in mf.getMemoryPoolMXBeans()
                            if p.getType().name() == "HEAP"]
        self._install_cut_probe()

    def _install_cut_probe(self) -> None:
        """Wrap ``session.truncate_lineage`` in every loaded package
        module that bound it, so each lineage cut becomes a span."""
        from rs_query_engine_spark import queries as registry
        from rs_query_engine_spark import session

        registry.queries()  # import every registry module first
        orig = session.truncate_lineage

        @functools.wraps(orig)
        def traced_truncate_lineage(df):
            t0 = time.time()
            try:
                return orig(df)
            finally:
                if self.current is not None:
                    self.current["cuts"].append((t0, time.time()))

        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("rs_query_engine_spark")
                    and getattr(mod, "truncate_lineage", None) is orig):
                mod.truncate_lineage = traced_truncate_lineage

    def _gc_ms(self) -> int:
        return sum(g.getCollectionTime() for g in self._gcs)

    def begin(self, name: str, phase: str) -> str:
        k = self.counts[name] = self.counts.get(name, 0) + 1
        for p in self._heap_pools:
            p.resetPeakUsage()
        self.current = {
            "q": name, "phase": phase, "group": f"{phase}:{name}#{k}",
            "t0": time.time(), "t_construct": None, "t_plan": None, "t1": None,
            "cuts": [], "catalyst": {}, "gc0": self._gc_ms(),
        }
        self.records.append(self.current)
        return self.current["group"]

    def planned(self, df) -> None:
        """End of construction: force the query's own optimisation and
        physical planning so the tracker holds every phase. The noop
        write then plans its command again; that repeat is part of the
        tracing overhead."""
        rec = self.current
        rec["t_construct"] = time.time()
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for k in ("analysis", "optimization", "planning"):
            if phases.contains(k):
                rec["catalyst"][k] = phases.apply(k).durationMs()
        rec["t_plan"] = time.time()

    def end(self, wall: float | None) -> None:
        rec = self.current
        rec["t1"] = time.time()
        rec["t_construct"] = rec["t_construct"] or rec["t1"]
        rec["t_plan"] = rec["t_plan"] or rec["t1"]
        rec["ok"] = wall is not None
        rec["gc_ms"] = self._gc_ms() - rec.pop("gc0")
        rec["peak_heap_bytes"] = sum(p.getPeakUsage().getUsed() for p in self._heap_pools)
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        rec["held_bytes"] = sum(i.memSize() + i.diskSize() for i in infos)
        self.current = None
