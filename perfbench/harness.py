"""One benchmark run: isolated set-up, output check, closed-loop timing.

A run is one Python process acting as the only client of a
``local[N]`` Spark session. It sends a query's build plus a ``noop``
write only after the previous one has finished (a closed loop), in an
order drawn from ``--seed``. Nothing of the package is changed: every
number comes from timing calls into ``rs_query_engine_spark`` from here.

Phases of a run, in order:

1. ``session``: ``get_spark`` with the run's own local, warehouse and
   temp directories (``Run.isolate``).
2. ``setup``: the table warm-up once, then the workload's artifact
   queries (indexes, late feeds, bucketed tables, copies), repeated
   ``SETUP_REPS`` times, each on a fresh hard-linked copy of the corpus
   and a fresh ``TMPDIR`` so every repetition pays the real builds.
3. ``check``: every workload query once, its output digest compared to
   the recorded one. This pass also warms code generation.
4. ``timed``: whole closed-loop passes in seeded order, at least
   ``MIN_PASSES`` of them and more until ``--seconds`` have passed.

``Run.close`` stops the session, ends the JVM and every other process
the run started (Python workers included), waits for each, and deletes
the run's directories, on every way out of a run.

With tracing on (``Tracer``), the same phases run with Spark's event log
enabled and spans recorded around each call; ``eventlog`` turns both
into per-layer numbers after the session stops.
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
CHECKOUT = HERE.parent
WORK_ROOT = CHECKOUT / ".perfbench_work"
OUT_ROOT = CHECKOUT / ".perfbench_out"

MAX_CORES = 4
SETUP_REPS = 3
# two timed executions per query, so a query's median is not one sample
MIN_PASSES = 2
QUERY_TIMEOUT_S = 60.0
# Spark driver JVM settings of a run (the only JVM in local mode), set
# unconditionally so every run measures the same JVM. A 3 GiB heap
# holds the sf0.01 working set several times over; the package default
# (16g) let each young JVM spread over fresh pages and moved wall_s by a
# quarter between runs. C1-only compilation reaches steady code within
# seconds instead of leaving the short timed window inside the C2
# compile transient, so a gain that needs C2-compiled hot loops is not
# measured. -XX:-UsePerfData keeps the JVM from writing its perf-data
# file under the system temp directory.
DRIVER_MEMORY = "3g"
JVM_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:-UsePerfData"
DEFAULT_SF = 0.01
# how long the JVM and the Python workers get to end on their own before
# they are killed, when the run stops
STOP_TIMEOUT_S = 30.0
PR_SET_CHILD_SUBREAPER = 36


def load_workloads() -> dict:
    with open(HERE / "workloads.json") as f:
        return json.load(f)


def cores() -> int:
    return min(len(os.sched_getaffinity(0)), MAX_CORES)


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (``/proc/stat``), or [] where
    there are none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def steal_share(before: list[int], after: list[int]) -> float | None:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings."""
    if len(before) < 8 or len(after) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d[:8]))


def adopt_orphans() -> None:
    """Make this process the subreaper of its process tree (Linux), so a
    process whose parent ends first, such as a Python worker that
    outlives the JVM, is re-parented here and ``stop_children`` still
    ends it and waits for it."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def children() -> list[int]:
    """Process ids whose parent is this process (zombies included)."""
    me = os.getpid()
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # after the ")" that closes the command name: state, then ppid
        if int(stat[stat.rindex(")") + 2:].split()[1]) == me:
            out.append(int(entry))
    return out


def stop_children(timeout: float = STOP_TIMEOUT_S) -> None:
    """Send SIGTERM to every child process, SIGKILL to any still there
    after ``timeout``, and reap each one; returns when none is left."""
    deadline = time.monotonic() + timeout
    sent: dict[int, int] = {}
    while True:
        pids = children()
        if not pids:
            return
        sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
        for pid in pids:
            try:
                if os.waitpid(pid, os.WNOHANG)[0]:
                    continue
                if sent.get(pid) != sig:
                    os.kill(pid, sig)
                    sent[pid] = sig
            except (ChildProcessError, ProcessLookupError):
                pass
        time.sleep(0.05)


def du(path: Path) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(root, name)).st_size
            except OSError:
                pass
    return total


def digest(df) -> tuple[int, str]:
    """Row count plus an order-insensitive hash over all columns,
    computed in Spark: the sum of each row's 64-bit xxhash, kept exact
    as a decimal. Columns are renamed by position first, so duplicate
    output names hash the same way; map and variant columns go through
    ``to_json`` because Spark refuses to hash them."""
    from pyspark.sql import functions as F

    d = df.toDF(*[f"c{i}" for i in range(len(df.columns))])
    cols = []
    for field in d.schema.fields:
        c = F.col(field.name)
        t = field.dataType.simpleString()
        if "map<" in t or "variant" in t:
            c = F.to_json(c)
        cols.append(c)
    row = (
        d.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s"))
        .first()
    )
    return int(row["n"]), str(row["s"])


def check_digest(name: str, got: tuple[int, str], expected: dict | None) -> str | None:
    """Return why ``got`` does not match the recorded digest, or None.

    A query recorded as ``rows`` (output not deterministic) is checked
    on its row count only. A query with no record fails, and so does an
    empty result unless the record says empty."""
    if expected is None:
        return f"{name}: no recorded digest"
    rows, h = got
    if rows != expected["rows"]:
        return f"{name}: {rows} rows, recorded {expected['rows']}"
    if expected.get("mode", "hash") == "hash" and h != expected["hash"]:
        return f"{name}: hash {h}, recorded {expected['hash']}"
    return None


class Run:
    """Owns one run's directories, session and counters."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 sf: float = DEFAULT_SF, queries: list[str] | None = None,
                 expected: dict | None = None):
        spec = load_workloads()["workloads"][workload]
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.sf = sf
        self.queries = list(queries or spec["queries"])
        self.setup_queries = [q for q in spec.get("setup", []) if q in self.queries]
        self.expected = expected or {}
        self.n = cores()
        self.dir = WORK_ROOT / f"{workload}-s{seed}-{uuid.uuid4().hex[:8]}"
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failures: list[str] = []
        self.facts: dict = {}

    @staticmethod
    def log(msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)

    # -- isolation -----------------------------------------------------
    def isolate(self) -> dict[str, str]:
        """Point every directory the run writes at its own tree and make
        this process and its Python workers import the package from this
        checkout. Returns the extra Spark conf for ``get_spark``."""
        adopt_orphans()
        for sub in ("tmp", "local", "warehouse", "jtmp", "eventlog"):
            (self.dir / sub).mkdir(parents=True, exist_ok=True)
        self.set_tmp(self.dir / "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = str(self.dir / "local")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.n)
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        # the package's own knobs stay at their defaults in every run
        for knob in ("RSQES_CHECKPOINT_DIR", "RSQES_CODEGEN_CACHE_ENTRIES"):
            os.environ.pop(knob, None)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [str(CHECKOUT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        sys.path.insert(0, str(CHECKOUT))
        conf = {
            "spark.local.dir": str(self.dir / "local"),
            "spark.sql.warehouse.dir": str(self.dir / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.dir / 'jtmp'} {JVM_OPTIONS}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file:{self.dir / 'eventlog'}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    @staticmethod
    def set_tmp(path: Path) -> None:
        # the package keys artifacts, late feeds and checkpoints under
        # tempfile.gettempdir(); both the env and the cached value move
        os.environ["TMPDIR"] = str(path)
        tempfile.tempdir = str(path)

    # -- phases --------------------------------------------------------
    def start_session(self, conf: dict[str, str]) -> float:
        t0 = time.perf_counter()
        from rs_query_engine_spark.session import get_spark

        self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=conf)
        return time.perf_counter() - t0

    def record_facts(self) -> None:
        import rs_query_engine_spark

        spark = self.spark
        sc = spark.sparkContext
        pkg = str(Path(rs_query_engine_spark.__file__).resolve())
        worker_pkg = sc.parallelize([0], 1).map(
            lambda _: __import__("rs_query_engine_spark").__file__
        ).collect()[0]
        self.facts = {
            "workload": self.workload,
            "checkout": str(CHECKOUT),
            "package": pkg,
            "worker_package": str(Path(worker_pkg).resolve()),
            "nproc": len(os.sched_getaffinity(0)),
            "local_n": self.n,
            "driver_memory": sc.getConf().get("spark.driver.memory", "?"),
            "jvm_options": JVM_OPTIONS,
            "spark": spark.version,
            "java": sc._jvm.java.lang.System.getProperty("java.version"),
            "python": sys.version.split()[0],
            "seed": self.seed,
            "sf": self.sf,
        }
        for key in ("package", "worker_package"):
            if not self.facts[key].startswith(str(CHECKOUT) + os.sep):
                raise RuntimeError(f"{key} imported from {self.facts[key]}, not {CHECKOUT}")

    def make_corpus(self) -> Path:
        sys.path.insert(0, str(HERE))
        import datagen

        return Path(datagen.write_corpus(str(self.dir / "corpus"), self.sf))

    def copies(self, corpus: Path) -> list[str]:
        """One hard-linked copy of the corpus per set-up repetition. The
        package keys bucketed tables and artifacts by ``sf_dir``, so a
        fresh path makes every repetition pay the real builds; the last
        copy serves the check and the timed passes."""
        out = []
        for k in range(SETUP_REPS):
            sf_dir = self.dir / f"rep{k}" / corpus.name
            shutil.copytree(corpus, sf_dir, copy_function=os.link)
            (self.dir / f"rep{k}" / "tmp").mkdir()
            out.append(str(sf_dir))
        return out

    def warm_tables(self, sf_dir: str) -> float:
        """The table warm-up: one count per corpus table, which lists
        its file and reads its footer (as ``bench.py`` does)."""
        from rs_query_engine_spark.sources.corpus import TABLES, load_table

        t0 = time.perf_counter()
        for t in TABLES:
            load_table(self.spark, sf_dir, t).count()
        return time.perf_counter() - t0

    def build(self, sf_dir: str) -> dict:
        """One set-up repetition: the workload's artifact queries (index
        generations, bucketed tables, late feeds, copies) run once each
        against ``sf_dir`` with a fresh ``TMPDIR``."""
        from rs_query_engine_spark import queries as registry

        tmp = Path(sf_dir).parent / "tmp"
        self.set_tmp(tmp)
        wh0 = du(self.dir / "warehouse")
        qs = registry.queries()
        t0 = time.perf_counter()
        for name in self.setup_queries:
            self.execute(name, qs[name], sf_dir, phase="setup")
        return {
            "build_s": time.perf_counter() - t0,
            "artifact_bytes": du(tmp) + du(self.dir / "warehouse") - wh0,
            "input_bytes": du(Path(sf_dir)),
        }

    def execute(self, name: str, fn, sf_dir: str, phase: str) -> float | None:
        """Build and run one query to completion through the ``noop``
        sink. Returns its wall time, or None when it failed (raised or
        ran past ``QUERY_TIMEOUT_S``)."""
        self.attempted += 1
        sc = self.spark.sparkContext
        group = f"{phase}:{name}"
        if self.tracer:
            group = self.tracer.begin(name, phase)
        timer = threading.Timer(QUERY_TIMEOUT_S, lambda: [
            sc.cancelJobGroup(f"{group}/{p}") for p in ("construct", "exec")])
        timer.start()
        try:
            t0 = time.perf_counter()
            sc.setJobGroup(f"{group}/construct", name, False)
            df = fn(self.spark, sf_dir)
            if self.tracer:
                self.tracer.planned(df)
            sc.setJobGroup(f"{group}/exec", name, False)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
        except Exception as exc:  # a failed query is counted, not fatal
            self.failures.append(f"{phase} {name}: {type(exc).__name__}: {str(exc)[:300]}")
            self.log(f"# FAILED {phase} {name}: {exc!r}"[:400])
            dt = None
        finally:
            timer.cancel()
            sc.setLocalProperty("spark.jobGroup.id", None)
            if self.tracer:
                self.tracer.end(dt)
        return dt

    def check(self, sf_dir: str, recording: bool = False) -> dict[str, tuple[int, str]]:
        """Digest every workload query once (untimed) and, unless
        ``recording``, compare each with its recorded digest."""
        from rs_query_engine_spark import queries as registry

        qs = registry.queries()
        sc = self.spark.sparkContext
        got = {}
        for name in self.queries:
            self.attempted += 1
            sc.setJobGroup(f"check:{name}", name, False)
            try:
                got[name] = digest(qs[name](self.spark, sf_dir))
            except Exception as exc:  # a failed query is counted, not fatal
                self.failures.append(f"check {name}: {type(exc).__name__}: {str(exc)[:300]}")
                self.log(f"# FAILED check {name}: {exc!r}"[:400])
                continue
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            if not recording:
                why = check_digest(name, got[name], self.expected.get(name))
                if why:
                    self.failures.append(f"check {why}")
                    self.log(f"# FAILED check {why}")
            gc.collect()
        return got

    def timed(self, sf_dir: str) -> dict[str, list[float]]:
        """Closed-loop passes over the workload in seeded order: at
        least ``MIN_PASSES``, then more until ``seconds`` have passed.
        Only whole passes are timed (the pass during which ``seconds``
        run out completes), so every query has the same number of timed
        executions."""
        from rs_query_engine_spark import queries as registry

        qs = registry.queries()
        rng = random.Random(self.seed)
        times: dict[str, list[float]] = {q: [] for q in self.queries}
        order_hash = hashlib.sha256()
        ticks = cpu_ticks()
        start = time.perf_counter()
        passes = 0
        while passes < MIN_PASSES or time.perf_counter() - start < self.seconds:
            order = list(self.queries)
            rng.shuffle(order)
            for name in order:
                # release cut blocks and broadcast pieces held by the
                # previous query's Python objects, outside the timer
                gc.collect()
                order_hash.update(name.encode() + b"\n")
                dt = self.execute(name, qs[name], sf_dir, phase="timed")
                if dt is not None:
                    times[name].append(dt)
            passes += 1
        self.facts["passes"] = passes
        self.facts["timed_s"] = time.perf_counter() - start
        self.facts["timed_steal_share"] = steal_share(ticks, cpu_ticks())
        self.facts["order_sha256"] = order_hash.hexdigest()[:16]
        return times

    def stop_session(self) -> None:
        """Stop Spark; this also flushes and closes the event log."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    @staticmethod
    def stop_jvm() -> None:
        """End the JVM behind the stopped session and wait for it: it
        exits when the gateway connection and its stdin close."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        SparkContext._gateway = SparkContext._jvm = None
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        if proc is None:
            return
        try:
            proc.stdin.close()
            proc.wait(timeout=STOP_TIMEOUT_S)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()

    def close(self) -> None:
        """Stop Spark, end every process the run started and wait for
        each, then delete the run's directories."""
        try:
            self.stop_session()
        except Exception as exc:  # the JVM may be gone already
            self.log(f"# session stop failed: {exc!r}"[:400])
            self.spark = None
        self.stop_jvm()
        stop_children()
        shutil.rmtree(self.dir, ignore_errors=True)
        try:
            WORK_ROOT.rmdir()
        except OSError:
            pass


def end_to_end(times: dict[str, list[float]], setup_s: float) -> tuple[dict, dict]:
    """The end-to-end metrics of one run, plus the sample facts that go
    beside them. ``query_tail_s`` is the slowest query's median time: a
    run's two passes of 7 or 11 executions each leave no percentile of
    single executions with ten samples beyond it."""
    medians = {q: statistics.median(v) for q, v in times.items() if v}
    slowest = max(medians, key=medians.get)
    metrics = {
        "wall_s": {"value": sum(medians.values()), "unit": "s"},
        "query_tail_s": {"value": medians[slowest], "unit": "s"},
        "setup_s": {"value": setup_s, "unit": "s"},
    }
    facts = {"samples": sum(len(v) for v in times.values()), "tail_query": slowest,
             "query_median_s": medians}
    return metrics, facts
