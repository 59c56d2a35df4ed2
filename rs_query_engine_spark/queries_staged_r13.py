"""Queries added in round 13 (live since round 14).

14 queries, all with exact oracles:

- **Streaming windowed APPROX-DISTINCT**:
  streaming aggregation rejects ``COUNT(DISTINCT)`` outright
  (measured AnalysisException, r11), so the streaming form of
  per-window unique-user counting is ``approx_count_distinct`` —
  HLL++ register state is commutative/associative, exactly the shape
  micro-batch state maintenance needs. Registered with an EXACT
  batch twin on the same watermark-admitted set: the emitted
  windows, their row counts, and the exact distinct counts are all
  oracle-recomputed; the HLL estimate itself is checked as an
  error-bound BOOLEAN against the exact twin (bound chosen from
  measured worst-case error — see the registration).
- **Streaming QUARANTINE routing**: the
  ``sinks.quarantine_json_stream`` sink (unit-pinned r11) driven as
  a registered query over the corrupt-orders fixture, including a
  RESTART against the same checkpoint proving batch-id-partitioned
  idempotence, with the same recovered-key audit as the batch
  roundtrip.
- **Per-source quality-gate DRIFT**: the dataset-card lead — the
  same quality gate evaluated over two corpus GENERATIONS (the
  second simulating a deterministic re-crawl truncation regression)
  and diffed per source; the monitoring query a 100-TB ingest runs
  between generations before promoting one.
- **Running-DISTINCT window**: exact distinct-so-far over an
  ordered per-user frame (``collect_set`` over a rows window —
  the batch complement of the streaming approx-distinct) reduced to
  time/events-to-full-coverage per user.
- **DYNAMIC-GAP session windows**: ``session_window`` with a
  per-event inactivity timeout (purchase holds a session open 3x
  longer) through Spark's native MergingSessions operator; the
  oracle replays the measured merge recurrence (an event at exactly
  the previous reach still merges) as gaps-and-islands SQL.
- **SQL PIPE SYNTAX**: the ``|>`` FROM-first spelling desugaring
  to the identical Catalyst plan (oracle = the standard spelling).
- **LATERAL correlated top-k**: decorrelated per-group subquery with
  a correlated LIMIT (allowed here where the SQL TVF rejects one —
  measured pairing documented at the registration).
- **OBSERVATION API**: single-pass metric accounting riding a real
  filtered pass (``df.observe`` accumulators ≙ a dedicated aggregate,
  hash-proven).
- **NATIVE RECURSIVE CTE**: Spark 4.x ``WITH RECURSIVE``
  (UnionLoop) — bounded directed closure with walk multiplicity over
  the acyclic near-dup pair graph; UNION-dedup recursion is rejected
  by this build (measured), so the DAG + depth bound ARE the
  termination discipline.
- **SQL UDFs**: ``CREATE FUNCTION … RETURN expr`` (nesting probed
  working) — inlined at analysis time, zero Python in the plan.
- **SQL TABLE FUNCTION**: the parameterized-WHERE form (a
  parameterized LIMIT is the rejected one — measured), inlined with
  pushdown intact.
- **SQL SCRIPTING**: ``BEGIN…END`` with DECLARE/SET/WHILE — the
  procedural threshold sweep, oracle-replayed closed-form.
- **RANGE-CLUSTERED write layout**: ``repartitionByRange +
  sortWithinPartitions`` (the poor-man's Z-order) with a distributed
  per-file min/max disjointness + slice-pruning audit.
- **Small-file COMPACTION roundtrip**: ``sinks.compact_files``
  driven as a query over a deliberately fragmented 64-file artifact
  — rows and decimal mass preserved exactly, file count reduced
  (the operational failure mode of long-running ingestion).

Float-determinism discipline matches ``queries.py`` (see its module
docstring): row-level doubles raw, no round(), SUM/AVG through exact
decimals, every aggregate/computed column aliased identically in the
Spark code and the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rs_query_engine_spark.queries import _t, register

# ---------------------------------------------------------------------------
# Streaming windowed approx-distinct + its exact batch twin
# ---------------------------------------------------------------------------

# Error bound for the HLL++ estimate vs the exact twin, as (relative
# denominator, absolute slack): ok iff 4*|approx-exact| <= exact OR
# |approx-exact| <= 4. Chosen from measured worst-case per-hourly-
# window error of approx_count_distinct (default rsd 0.05) on this
# corpus: abs<=3 at sf0.01 (max card 28), rel<=10.8% at sf0.1 (max
# card 166) — the bound is 2x the measured worst on each axis.
_ACD_REL_DEN = 4
_ACD_ABS_SLACK = 4


@register(
    "stream_window_approx_distinct",
    oracle=f"""
    WITH e AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, user_id FROM events
    ), m AS (SELECT MAX(ts) AS mx FROM e),
    a1 AS (SELECT e.* FROM e, m
           WHERE ts > mx - INTERVAL 5 DAY AND ts <= mx - INTERVAL 3 DAY),
    a2 AS (SELECT e.* FROM e, m
           WHERE ts > mx - INTERVAL 3 DAY AND ts <= mx - INTERVAL 2 DAY),
    b AS (SELECT e.* FROM e, m WHERE ts <= mx - INTERVAL 5 DAY),
    c AS (SELECT e.* FROM e, m WHERE ts > mx - INTERVAL 2 DAY),
    wa AS (SELECT date_trunc('milliseconds', MAX(ts))
                  - INTERVAL 84 HOUR AS w FROM a1),
    wf AS (SELECT date_trunc('milliseconds', MAX(ts))
                  - INTERVAL 84 HOUR AS w FROM c),
    accepted AS (
        SELECT ts, user_id FROM a1
        UNION ALL SELECT ts, user_id FROM a2
        UNION ALL SELECT ts, user_id FROM c
        UNION ALL SELECT b.ts, b.user_id FROM b, wa
        WHERE date_trunc('hour', b.ts) + INTERVAL 1 HOUR > wa.w
    ),
    agg AS (
        SELECT date_trunc('hour', ts) AS window_start,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users_exact
        FROM accepted GROUP BY 1
    )
    SELECT g.window_start, g.n_events, g.n_users_exact,
           TRUE AS approx_within_bound
    FROM agg g, wf
    WHERE g.window_start + INTERVAL 1 HOUR <= wf.w
    """,
)
def stream_window_approx_distinct(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming per-window UNIQUE-USER counting — the operator a
    100-TB event pipeline actually runs, because streaming
    aggregation REJECTS ``COUNT(DISTINCT)`` outright (measured
    AnalysisException r11: exact distinct state is unbounded per
    group and non-mergeable across micro-batches). The streaming form
    is ``approx_count_distinct``: HLL++ registers are fixed-size,
    order-insensitive (register-wise max is commutative/associative),
    and merge across batches exactly like any other streaming agg
    state — per-window state is O(sketch), not O(users).

    Verification is two-sided. The 4-file late feed replays
    out-of-order arrival under the 84-hour watermark
    (``ensure_late_feed``'s measured admission arithmetic — the
    ``stream_late_data_drop`` semantics, here grouped by window
    only); the oracle recomputes the EMITTED WINDOW SET, each
    window's admitted row count, and its exact distinct-user count in
    SQL. The HLL estimate itself — the one column SQL cannot
    reproduce — is checked as an error-bound boolean against an exact
    batch twin computed on the SAME admitted set (integer arithmetic:
    ``4*|a-e| <= e`` or ``|a-e| <= 4``, 2x the measured worst-case
    error at both test SFs; a drift past the bound flips the column
    to FALSE and fails the hash gate). The inner join on
    ``window_start`` doubles as a set check: a window emitted by only
    one side changes the row count.

    Scale: state is bounded by the lateness horizon × sketch size;
    the exact twin is the batch backfill job such pipelines pair with
    the stream (lambda-style), sharing the admission rule so the two
    are comparable."""
    from rs_query_engine_spark.streaming.events import (
        LATE_DELAY,
        ensure_late_feed,
        run_stream_to_memory,
    )

    feed = ensure_late_feed(spark, sf_dir)
    schema = spark.read.parquet(feed).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    agg = (
        stream.withWatermark("ts", LATE_DELAY)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.approx_count_distinct("user_id").alias("n_approx"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(F.col("w.start").alias("window_start"), "n_approx", "n_events")
    )
    emitted = run_stream_to_memory(
        agg, "stream_window_approx_distinct", output_mode="append"
    )

    # exact twin on the SAME admitted set: replay the feed's admission
    # arithmetic in batch (1-row max aggregates broadcast — no
    # driver-side collect). r19 (guide §2.3): the wa and wf cut
    # aggregates fuse into ONE conditional-max pass, and the
    # ontime ∪ late_ok union becomes one OR-filter scan (the two
    # branches filter DISJOINT ts ranges of the same frame) — 5 feed
    # scans → 3, two crossJoin arms gone; identical admitted rows by
    # construction.
    ev = spark.read.parquet(feed).select("ts", "user_id")
    mx = F.broadcast(ev.agg(F.max("ts").alias("mx")))
    j = ev.crossJoin(mx)
    a_lo = F.col("mx") - F.expr("INTERVAL 5 DAYS")
    a_mid = F.col("mx") - F.expr("INTERVAL 3 DAYS")
    a_hi = F.col("mx") - F.expr("INTERVAL 2 DAYS")
    trunc84 = lambda c: F.date_trunc("millisecond", c) - F.expr(  # noqa: E731
        "INTERVAL 84 HOURS"
    )
    cuts = F.broadcast(
        j.agg(
            trunc84(
                F.max(
                    F.when((F.col("ts") > a_lo) & (F.col("ts") <= a_mid), F.col("ts"))
                )
            ).alias("wa"),
            trunc84(F.max(F.when(F.col("ts") > a_hi, F.col("ts")))).alias("wf"),
        )
    )
    admitted = (
        j.crossJoin(cuts)
        .filter(
            (F.col("ts") > a_lo)
            | (
                F.date_trunc("hour", F.col("ts")) + F.expr("INTERVAL 1 HOUR")
                > F.col("wa")
            )
        )
        # wf rides the admitted rows (constant per row) so the final
        # window filter needs no second cuts derivation
        .select("ts", "user_id", "wf")
    )
    exact = (
        admitted.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "wf"
        )
        .agg(F.countDistinct("user_id").alias("n_users_exact"))
        .filter(F.col("window_start") + F.expr("INTERVAL 1 HOUR") <= F.col("wf"))
        .select("window_start", "n_users_exact")
    )
    diff = F.abs(F.col("n_approx") - F.col("n_users_exact"))
    return emitted.join(exact, "window_start").select(
        "window_start",
        "n_events",
        "n_users_exact",
        (
            (diff * _ACD_REL_DEN <= F.col("n_users_exact"))
            | (diff <= _ACD_ABS_SLACK)
        ).alias("approx_within_bound"),
    )


# ---------------------------------------------------------------------------
# Streaming quarantine routing (the sink landed r11, unit-pinned in
# tests/unit/test_sinks.py; this registers it as a driver-visible
# query with the recovered-key audit)
# ---------------------------------------------------------------------------


@register(
    "stream_quarantine_routing",
    oracle="""
    SELECT CAST(COUNT(*) FILTER (o_orderkey % 97 <> 0) AS BIGINT)
               AS n_good,
           CAST(COUNT(*) FILTER (o_orderkey % 97 = 0) AS BIGINT)
               AS n_dlq,
           CAST(CAST(SUM(CASE WHEN o_orderkey % 97 <> 0
                        THEN CAST(o_totalprice AS DECIMAL(14,2)) END)
                AS VARCHAR) AS DOUBLE) AS sum_price_good,
           CAST(SUM(CASE WHEN o_orderkey % 97 = 0
                    THEN o_orderkey ELSE 0 END) AS BIGINT)
               AS recovered_key_sum
    FROM orders
    """,
)
def stream_quarantine_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING dead-letter routing as a query —
    ``sinks.quarantine_json_stream`` (the incremental twin of the
    batch quarantine writer) driven over the corrupt-orders fixture
    arriving one file per micro-batch, then RESTARTED against the
    same checkpoint with no new data: the batch-id-partitioned
    dynamic-overwrite contract means the restart must change nothing
    — the read-back audit after both runs equals the single-run
    truth, which is what the oracle recomputes from the clean parquet
    via the fixture's deterministic corruption rule (every 97th key's
    record loses its closing brace). The DLQ side is REPAIRED in
    place (``from_json(raw || '}')``) and the recovered keys' sum
    proves the quarantine preserved the original bytes.

    Together with ``source_quarantine_roundtrip`` (batch writer) and
    ``source_corrupt_records_audit`` (read-side gate) this closes the
    ingest-edge contract for the UNBOUNDED case: good ∪ dlq = input
    across micro-batch replay and restart, disjointly, repairable.

    Sink/checkpoint paths live in a per-session ``scratch_dir`` (the
    concurrent-session rule the batch roundtrip follows); each
    invocation within a session reuses the checkpoint, so re-runs are
    themselves restarts — more of the semantics under test."""
    import os

    from rs_query_engine_spark.queries_staged_r12 import (
        _ensure_corrupt_orders_json,
    )
    from rs_query_engine_spark.sources.artifacts import scratch_dir
    from rs_query_engine_spark.sources.sinks import quarantine_json_stream

    raw = _ensure_corrupt_orders_json(spark, sf_dir)
    schema = (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string"
    )
    base = scratch_dir(spark, "squarantine", raw, fresh=False)
    good_path = os.path.join(base, "good")
    dlq_path = os.path.join(base, "dlq")
    ck = os.path.join(base, "ck")

    def run_once() -> None:
        stream = (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", 1)
            .load(raw)
        )
        quarantine_json_stream(stream, schema, good_path, dlq_path, ck)

    run_once()
    run_once()  # restart, same checkpoint: must be a no-op

    good = spark.read.parquet(good_path)
    # The DLQ dir may hold no data files if a corpus generation
    # produced zero corrupt rows — read with the sink's known layout
    # ('value string') so the query degrades to n_dlq=0 instead of
    # failing schema inference on an empty directory.
    repaired = (
        spark.read.schema("value string")
        .parquet(dlq_path)
        .select(
            F.from_json(
                F.concat(F.col("value"), F.lit("}")), schema
            ).alias("r")
        )
    )
    g = good.agg(
        F.count(F.lit(1)).alias("n_good"),
        F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
        .cast("string")
        .cast("double")
        .alias("sum_price_good"),
    )
    b = repaired.agg(
        F.count(F.lit(1)).alias("n_dlq"),
        F.coalesce(F.sum("r.o_orderkey"), F.lit(0))
        .cast("bigint")
        .alias("recovered_key_sum"),
    )
    return g.crossJoin(b).select(
        "n_good", "n_dlq", "sum_price_good", "recovered_key_sum"
    )


# ---------------------------------------------------------------------------
# Per-source quality-gate drift across two corpus generations
# ---------------------------------------------------------------------------

# Generation B simulates a deterministic re-crawl regression: every
# 7th document's text is truncated to its first 40 characters (a
# extractor/boundary bug — the commonest real re-crawl failure). The
# gate is a simple minimum-length admission; both constants fold into
# the oracle below and the Spark code, so they cannot drift apart.
_DRIFT_TRUNC_MOD = 7
_DRIFT_TRUNC_LEN = 40
_DRIFT_GATE_MIN_CHARS = 120
_DRIFT_ALERT = 0.05  # flag a source when its pass rate drops >5 pts


@register(
    "quality_gate_drift",
    oracle=f"""
    WITH g AS (
        SELECT source,
               CAST(length(text) >= {_DRIFT_GATE_MIN_CHARS} AS INT)
                   AS pass_a,
               CAST(length(CASE WHEN doc_id % {_DRIFT_TRUNC_MOD} = 0
                                THEN substring(text, 1, {_DRIFT_TRUNC_LEN})
                                ELSE text END)
                    >= {_DRIFT_GATE_MIN_CHARS} AS INT) AS pass_b
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(pass_a) AS BIGINT) AS n_pass_a,
           CAST(SUM(pass_b) AS BIGINT) AS n_pass_b,
           (CAST(SUM(pass_b) AS DOUBLE) - CAST(SUM(pass_a) AS DOUBLE))
               / CAST(COUNT(*) AS DOUBLE) AS rate_drift,
           (CAST(SUM(pass_a) AS DOUBLE) - CAST(SUM(pass_b) AS DOUBLE))
               / CAST(COUNT(*) AS DOUBLE) > {_DRIFT_ALERT} AS regressed
    FROM g GROUP BY source
    """,
)
def quality_gate_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source QUALITY-GATE DRIFT between two corpus generations —
    the promotion gate a 100-TB ingest runs before swapping a
    re-crawl in: generation A is the corpus as-is, generation B is a
    deterministic simulated regression (every {mod}th document
    truncated to {len} chars — an extractor boundary bug), and the
    same minimum-length admission gate is evaluated over both. Output
    per source: document volume, pass counts for both generations,
    the signed pass-rate drift, and the alert flag (drop > {alert}
    pts). A regressed source blocks promotion of ITS slice only —
    drift is computed per source precisely so one broken extractor
    doesn't hide inside a corpus-wide average.

    Float discipline: the two pass counts are exact integers; the
    drift is one integer-difference-as-double divided by the count —
    a single IEEE division, bit-identical in both engines. Both
    generations ride ONE scan (the truncation is a projected CASE,
    not a second table), so the diff costs the same as the card."""
    d = _t(spark, sf_dir, "documents")
    text_b = F.when(
        F.col("doc_id") % _DRIFT_TRUNC_MOD == 0,
        F.substring(F.col("text"), 1, _DRIFT_TRUNC_LEN),
    ).otherwise(F.col("text"))
    g = d.select(
        "source",
        (F.length("text") >= _DRIFT_GATE_MIN_CHARS).cast("int").alias("pass_a"),
        (F.length(text_b) >= _DRIFT_GATE_MIN_CHARS).cast("int").alias("pass_b"),
    )
    return g.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("pass_a").alias("n_pass_a"),
        F.sum("pass_b").alias("n_pass_b"),
        (
            (
                F.sum("pass_b").cast("double")
                - F.sum("pass_a").cast("double")
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("rate_drift"),
        (
            (
                F.sum("pass_a").cast("double")
                - F.sum("pass_b").cast("double")
            )
            / F.count(F.lit(1)).cast("double")
            > F.lit(_DRIFT_ALERT)
        ).alias("regressed"),
    )


# ---------------------------------------------------------------------------
# SQL pipe syntax (Spark 4.x |> operators)
# ---------------------------------------------------------------------------


@register(
    "sql_pipe_syntax_shape",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)
               AS sum_price,
           MAX(l_quantity) AS max_qty
    FROM lineitem
    WHERE l_quantity > 10.0
    GROUP BY l_returnflag
    """,
)
def sql_pipe_syntax_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIPE SYNTAX — Spark 4.x ``|>`` operators (probed this
    build): the linear FROM-first spelling of the classic
    filter→aggregate pricing shape, each stage reading top-to-bottom
    the way the plan executes. Pipe stages desugar to the SAME
    Catalyst plan as the nested form — pushdown, partial aggregation,
    codegen all identical — so the oracle states the standard
    spelling and a hash-PASS proves the desugaring exact (values AND
    types). Registered because it is an API surface a user migrating
    from the reference's builder-style `DataFrame` chain would reach
    for: the pipe form IS the builder chain, in SQL.

    Float discipline: decimal-exact sum cast to double, as
    everywhere."""
    from rs_query_engine_spark.sources.corpus import load_table

    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "rsqes_pipe_lineitem"
    )
    return spark.sql(
        """
        FROM rsqes_pipe_lineitem
        |> WHERE l_quantity > 10.0
        |> AGGREGATE COUNT(*) AS n,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2)))
                          AS DOUBLE) AS sum_price,
                     MAX(l_quantity) AS max_qty
           GROUP BY l_returnflag
        """
    ).select("l_returnflag", "n", "sum_price", "max_qty")


# ---------------------------------------------------------------------------
# LATERAL correlated subquery join
# ---------------------------------------------------------------------------

_LATERAL_TOPK = 2


@register(
    "join_lateral_topk",
    oracle=f"""
    SELECT c_mktsegment, c_custkey, c_acctbal
    FROM (
        SELECT c_mktsegment, c_custkey, c_acctbal,
               ROW_NUMBER() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY c_acctbal DESC, c_custkey
               ) AS rnk
        FROM customer
    ) WHERE rnk <= {_LATERAL_TOPK}
    """,
)
def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated-subquery join — the SQL spelling of
    "for each group, run this parameterized subquery": top-{k}
    customers per market segment via ``, LATERAL (SELECT … WHERE
    cust.seg = seg.seg ORDER BY … LIMIT {k})``. Catalyst decorrelates
    the lateral into a join + per-group limit rather than re-running
    the subquery per row — the plan the oracle's ROW_NUMBER spelling
    compiles to directly, so the hash-PASS pins the decorrelation as
    semantics-preserving with the deterministic (acctbal DESC,
    custkey) tie-break.

    A correlated LIMIT is allowed here where the SQL table function
    rejected one (measured INVALID_LIMIT_LIKE_EXPRESSION — the TVF
    body requires a CONSTANT limit; lateral decorrelation does not),
    which is exactly the kind of engine edge a migrating user hits —
    documented by this pairing."""
    from rs_query_engine_spark.sources.corpus import load_table

    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "rsqes_lat_customer"
    )
    return spark.sql(
        f"""
        SELECT seg.c_mktsegment, top.c_custkey, top.c_acctbal
        FROM (SELECT DISTINCT c_mktsegment FROM rsqes_lat_customer) seg,
        LATERAL (
            SELECT c_custkey, c_acctbal
            FROM rsqes_lat_customer c
            WHERE c.c_mktsegment = seg.c_mktsegment
            ORDER BY c_acctbal DESC, c_custkey
            LIMIT {_LATERAL_TOPK}
        ) top
        """
    )


# ---------------------------------------------------------------------------
# Observation API — single-pass metric accounting
# ---------------------------------------------------------------------------


@register(
    "quality_observe_single_pass",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
               AS sum_qty,
           CAST(COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS BIGINT)
               AS n_discounted
    FROM lineitem
    WHERE l_returnflag = 'A'
    """,
)
def quality_observe_single_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SINGLE-PASS metric accounting via the OBSERVATION API
    (``df.observe`` — named accumulator aggregates riding the main
    query's execution): the data-quality counters a production
    pipeline wants (row count, decimal-exact quantity mass,
    discounted-row count) are collected DURING one filtered pass over
    lineitem — no second scan, no separate aggregate job; the
    observed pass itself is forced to full evaluation through the
    noop sink (every column evaluated, nothing collected). This is
    the at-scale alternative to running the pipeline AND a metrics
    query: at 100 TB the second scan is the one you can't afford.

    The observation handle yields one bounded metrics row on the
    driver (the same bounded-metadata class as the artifact-build
    scalar reads — never per-row), returned as a 1-row frame; the
    oracle recomputes all three metrics from the table, so a
    hash-PASS proves the in-flight accumulators match a dedicated
    aggregate exactly — including the decimal-exact sum discipline
    surviving the accumulator path."""
    from pyspark.sql import Observation

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "A")
    obs = Observation("rsqes_quality_pass")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(12,2)"))
        .cast("double")
        .alias("sum_qty"),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["sum_qty"], m["n_discounted"])],
        "n_rows bigint, sum_qty double, n_discounted bigint",
    )


# ---------------------------------------------------------------------------
# Native recursive CTE (Spark 4.x WITH RECURSIVE / UnionLoop)
# ---------------------------------------------------------------------------

_REC_DEPTH = 4  # walk-length bound, folded into query and oracle


def _recursive_closure_oracle() -> str:
    from rs_query_engine_spark.queries import _MH_PAIRS_CTES

    return rf"""
    WITH RECURSIVE {_MH_PAIRS_CTES},
    seeds AS (SELECT doc_id FROM documents WHERE doc_id % 20 = 0),
    walk(node, dist) AS (
        SELECT doc_id, 0 FROM seeds
        UNION ALL
        SELECT p.id_b, w.dist + 1
        FROM walk w JOIN pairs p ON w.node = p.id_a
        WHERE w.dist < {_REC_DEPTH}
    )
    SELECT node AS doc_id, MIN(dist) AS min_dist, COUNT(*) AS n_walks
    FROM walk GROUP BY node
    """


@register("graph_recursive_closure", oracle=_recursive_closure_oracle())
def graph_recursive_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENGINE-NATIVE recursion — Spark 4.x ``WITH RECURSIVE`` (probed
    this build: UNION ALL recursion works; UNION dedup is rejected
    with UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE, measured): the bounded
    descendant closure of the seed set over the DIRECTED near-dup
    pair graph (edges id_a → id_b with id_a < id_b — acyclic by
    construction, which is what makes UNION ALL recursion safe), with
    WALK MULTIPLICITY: ``n_walks`` counts the distinct bounded walks
    reaching each node — the path-weight signal `graph_mass_diffusion`
    diffuses, here exact per node — and ``min_dist`` the minimal hop
    count. The oracle is the SAME recursion in DuckDB over the
    proven ``pairs`` CTE.

    This differs from ``graph_bfs_contamination`` on BOTH axes: the
    semantics (directed closure + multiplicity, vs undirected minimal
    levels) and the execution (Catalyst's UnionLoop operator drives
    the iteration inside ONE query plan, vs the Python-side frontier
    loop in ``operators/graph.py`` — the driver never re-enters).
    Termination discipline at scale: UNION ALL recursion NEVER
    deduplicates, so it is safe only on DAG edges with a depth bound
    (both present here — the bound also caps walk blowup); on cyclic
    graphs use the operators/graph.py loop, whose settled-set
    anti-join is the dedup the SQL form lacks."""
    from rs_query_engine_spark.operators.dedup import minhash_lsh_pairs
    from rs_query_engine_spark.session import truncate_lineage

    d = _t(spark, sf_dir, "documents")
    # lineage cut (r19, guide §2.4): UnionLoop re-evaluates the
    # recursion step's plan PER ITERATION, and the edge view sits
    # inside that step — uncut, the banded-bucket join + verify stage
    # of the LSH pipeline re-ran once per depth level (measured: exec
    # 2.5 s → 0.55 s, 4/4 alternating runs, identical 268 rows). The
    # multi-consumer staging rationale, with the recursion's depth
    # bound as the consumer count.
    pairs = minhash_lsh_pairs(d, "doc_id", "text").transform(truncate_lineage)
    # re-registered per invocation so each SF binds its own edge set
    pairs.select(
        F.col("id_a").alias("s"), F.col("id_b").alias("dst")
    ).createOrReplaceTempView("rsqes_rec_edges")
    d.filter(F.col("doc_id") % 20 == 0).select(
        "doc_id"
    ).createOrReplaceTempView("rsqes_rec_seeds")
    return spark.sql(
        f"""
        WITH RECURSIVE walk(node, dist) AS (
            SELECT doc_id, 0 FROM rsqes_rec_seeds
            UNION ALL
            SELECT e.dst, w.dist + 1
            FROM walk w JOIN rsqes_rec_edges e ON w.node = e.s
            WHERE w.dist < {_REC_DEPTH}
        )
        SELECT node AS doc_id, MIN(dist) AS min_dist, COUNT(*) AS n_walks
        FROM walk GROUP BY node
        """
    )


# ---------------------------------------------------------------------------
# SQL UDFs (CREATE FUNCTION ... RETURN expr — Spark 4.x)
# ---------------------------------------------------------------------------

_SQLUDF_GATE_MIN_CHARS = 120
_SQLUDF_MIN_DENSITY = 0.5


@register(
    "scalar_sql_udf_pipeline",
    oracle=f"""
    SELECT doc_id,
           CAST(length(replace(text, ' ', '')) AS DOUBLE)
               / CAST(length(text) AS DOUBLE) AS density,
           length(text) >= {_SQLUDF_GATE_MIN_CHARS}
               AND CAST(length(replace(text, ' ', '')) AS DOUBLE)
                   / CAST(length(text) AS DOUBLE)
                   >= {_SQLUDF_MIN_DENSITY} AS passed
    FROM documents
    """,
)
def scalar_sql_udf_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL UDFs — ``CREATE FUNCTION … RETURN <expr>`` (Spark 4.x,
    probed this build: scalar SQL UDFs work, they NEST — ``gate``
    calls ``density`` — while table-valued SQL functions reject a
    parameterized LIMIT, measured INVALID_LIMIT_LIKE_EXPRESSION):
    the engine-level reusable-function surface the reference exposes
    as built-in scalars (§2.5) generalized to USER-defined ones. A
    non-space character-density function and a quality gate built on
    it are declared once and applied per document; because a SQL UDF
    body is INLINED into the plan at analysis time, the pipeline
    stays whole-stage-codegen JVM expressions — the exact opposite of
    a Python UDF's serialization wall, and the reason this is the
    first tool to reach for before any ``@udf`` at 100 TB. The
    oracle states the same expressions inlined by hand, so a
    hash-PASS proves the function-resolution path changes nothing.

    Float discipline: density is one row-level double division;
    the gate compares it against the same constants both sides."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION rsqes_density(t STRING) "
        "RETURNS DOUBLE RETURN "
        "CAST(length(replace(t, ' ', '')) AS DOUBLE) "
        "/ CAST(length(t) AS DOUBLE)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION rsqes_gate(t STRING) "
        "RETURNS BOOLEAN RETURN "
        f"length(t) >= {_SQLUDF_GATE_MIN_CHARS} "
        f"AND rsqes_density(t) >= {_SQLUDF_MIN_DENSITY}"
    )
    d = _t(spark, sf_dir, "documents")
    d.createOrReplaceTempView("rsqes_sqludf_docs")
    return spark.sql(
        "SELECT doc_id, rsqes_density(text) AS density, "
        "rsqes_gate(text) AS passed FROM rsqes_sqludf_docs"
    )


# ---------------------------------------------------------------------------
# SQL table function (CREATE FUNCTION ... RETURNS TABLE)
# ---------------------------------------------------------------------------

_TVF_MIN_PRICE = 300000.0


@register(
    "source_sql_table_function",
    oracle=f"""
    SELECT COUNT(*) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)))
                AS VARCHAR) AS DOUBLE) AS sum_price,
           MIN(o_orderkey) AS min_key
    FROM orders
    WHERE o_totalprice > {_TVF_MIN_PRICE}
    """,
)
def source_sql_table_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL TABLE FUNCTION — ``CREATE FUNCTION … RETURNS TABLE``
    (Spark 4.x, probed this build): a parameterized relation over a
    real table (``big_orders(min_price)``), consumed like any other
    FROM source and aggregated. The body is inlined at analysis time
    with the argument substituted — pushdown and pruning apply as if
    the predicate were written in place, which the oracle states
    directly. The boundary measured and documented at
    ``join_lateral_topk``: a parameter may appear in WHERE (here) but
    NOT in LIMIT (INVALID_LIMIT_LIKE_EXPRESSION — a constant LIMIT
    works); this registration is the allowed form a migrating user
    should write.

    Together with ``scalar_sql_udf_pipeline`` this completes the SQL
    function-declaration surface: scalar + table-valued, both
    plan-inlined, zero Python."""
    from rs_query_engine_spark.sources.corpus import load_table

    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "rsqes_tvf_orders"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION rsqes_big_orders(minp DOUBLE) "
        "RETURNS TABLE(o_orderkey BIGINT, o_totalprice DOUBLE) "
        "RETURN SELECT o_orderkey, o_totalprice "
        "FROM rsqes_tvf_orders WHERE o_totalprice > minp"
    )
    return spark.sql(
        f"""
        SELECT COUNT(*) AS n,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)))
                    AS STRING) AS DOUBLE) AS sum_price,
               MIN(o_orderkey) AS min_key
        FROM rsqes_big_orders({_TVF_MIN_PRICE})
        """
    )


# ---------------------------------------------------------------------------
# SQL scripting (BEGIN ... END with variables and WHILE)
# ---------------------------------------------------------------------------

_SWEEP_START = 1000.0
_SWEEP_STOP_BELOW = 100


@register(
    "sql_script_threshold_sweep",
    oracle=f"""
    WITH ks AS (SELECT k FROM generate_series(0, 30) AS t(k)),
    cnt AS (
        SELECT k, {_SWEEP_START} * POWER(2, k) AS th,
               (SELECT COUNT(*) FROM orders o
                WHERE o.o_totalprice > {_SWEEP_START} * POWER(2, k)) AS n
        FROM ks
    )
    SELECT th AS final_threshold, n AS n_above
    FROM cnt WHERE n < {_SWEEP_STOP_BELOW}
    ORDER BY k LIMIT 1
    """,
)
def sql_script_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL SCRIPTING — ``BEGIN … END`` compound statements with
    DECLAREd variables, scalar-subquery assignment, and a WHILE loop
    (Spark 4.x, probed this build): the procedural threshold sweep a
    capacity-planning job runs — keep doubling a price threshold
    until fewer than {stop} orders clear it; the script's last
    statement is the result set. Each loop iteration re-scans the
    table with the new threshold — the honest cost of procedural
    SQL, bounded here by the geometric doubling (≤ ~10 iterations at
    any SF).

    The oracle replays the loop CLOSED-FORM: the sweep visits
    thresholds start·2^k in order and stops at the first with
    count < {stop}, so a generate_series over k with a correlated
    count, filtered and limited to the first qualifying k, states the
    same fixed point declaratively — a hash-PASS proves the
    imperative and declarative spellings agree, including the
    starts-below-threshold edge (the WHILE body never runs and the
    start threshold is the answer on a small corpus).

    Float discipline: start·2^k is exact in doubles for k ≤ 30 (pure
    exponent arithmetic), matching the script's repeated ``th * 2``;
    the count is exact."""
    from rs_query_engine_spark.sources.corpus import load_table

    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "rsqes_script_orders"
    )
    return spark.sql(
        f"""
        BEGIN
          DECLARE th DOUBLE DEFAULT {_SWEEP_START};
          DECLARE cnt BIGINT DEFAULT 0;
          SET cnt = (SELECT COUNT(*) FROM rsqes_script_orders
                     WHERE o_totalprice > th);
          WHILE cnt >= {_SWEEP_STOP_BELOW} DO
            SET th = th * 2;
            SET cnt = (SELECT COUNT(*) FROM rsqes_script_orders
                       WHERE o_totalprice > th);
          END WHILE;
          SELECT th AS final_threshold, cnt AS n_above;
        END
        """
    )


# ---------------------------------------------------------------------------
# Dynamic-gap session windows
# ---------------------------------------------------------------------------


@register(
    "events_session_dynamic_gap",
    oracle="""
    WITH e AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
               CAST(ts AS TIMESTAMP)
               + CASE WHEN event_type = 'purchase'
                      THEN INTERVAL 30 MINUTE
                      ELSE INTERVAL 10 MINUTE END AS reach
        FROM events
    ),
    marked AS (
        SELECT user_id, ts, reach, event_id,
               CASE WHEN ts > MAX(reach) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) THEN 1 ELSE 0 END AS is_new
        FROM e
    ),
    sess AS (
        SELECT user_id, ts, reach,
               SUM(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sid
        FROM marked
    ),
    per_session AS (
        SELECT user_id, sid, COUNT(*) AS n_events,
               date_diff('microsecond', MIN(ts), MAX(reach)) AS dur_us
        FROM sess GROUP BY user_id, sid
    )
    SELECT user_id,
           COUNT(*) AS n_sessions,
           CAST(MAX(n_events) AS BIGINT) AS max_session_events,
           CAST(SUM(CASE WHEN n_events > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_multi_event_sessions,
           MAX(dur_us) AS longest_session_us
    FROM per_session GROUP BY user_id
    """,
)
def events_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION WINDOWS with a DYNAMIC, per-event gap —
    ``session_window(ts, gap_expr)`` where the inactivity timeout
    depends on the event itself (purchases hold a session open 30
    minutes, everything else 10): the sessionization policy real
    event pipelines want (a checkout should not be cut by the
    browse-grade timeout). Each event contributes the interval
    ``[ts, ts + gap(event)]`` and overlapping-or-touching intervals
    merge; measured semantics (pinned by probe): an event at EXACTLY
    the previous session's end still merges, i.e. a new session
    starts only when ``ts > max`` of all previous reaches — the
    oracle replays precisely that recurrence as a gaps-and-islands
    running max, then reduces per user to session count, the largest
    session, the multi-event-session count, and the longest duration
    in exact microseconds.

    The gap expression must be a STRING/CalendarInterval expression —
    a DayTimeIntervalType CASE is rejected (measured
    AnalysisException; Spark requires CalendarIntervalType), so the
    gap is spelled as interval STRINGS.

    Scale shape: one user_id shuffle into Spark's native
    SessionWindow merge (the same operator the streaming form uses,
    state bounded per user by the open-session horizon); the per-user
    reduction reuses that partitioning — no second corpus shuffle."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("30 minutes")
    ).otherwise(F.lit("10 minutes"))
    per_session = (
        ev.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            "n_events",
            (F.unix_micros(F.col("w.end")) - F.unix_micros(F.col("w.start")))
            .alias("dur_us"),
        )
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
        F.sum((F.col("n_events") > 1).cast("int"))
        .cast("bigint")
        .alias("n_multi_event_sessions"),
        F.max("dur_us").alias("longest_session_us"),
    )


# ---------------------------------------------------------------------------
# Running-distinct window (exact distinct-so-far over an ordered frame)
# ---------------------------------------------------------------------------


@register(
    "window_running_distinct",
    oracle="""
    WITH e AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
        FROM events
    ),
    r AS (
        SELECT user_id, ts,
               COUNT(DISTINCT event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS running_types,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS rn
        FROM e
    ),
    t AS (
        SELECT user_id, COUNT(DISTINCT event_type) AS n_types
        FROM e GROUP BY user_id
    )
    SELECT r.user_id, t.n_types,
           MIN(r.ts) AS first_full_ts,
           MIN(r.rn) AS n_events_to_full
    FROM r JOIN t USING (user_id)
    WHERE r.running_types = t.n_types
    GROUP BY r.user_id, t.n_types
    """,
)
def window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT running-distinct over an ordered per-user frame — the
    batch complement of ``stream_window_approx_distinct``'s sketch:
    ``collect_set`` over a rows window gives distinct-so-far, reduced
    here to TIME-TO-FULL-COVERAGE per user (the first event at which
    the user has exhibited every event type they will ever exhibit,
    and how many events that took). The frame order is made total by
    the (ts, event_id) tie-break, so the answer is deterministic.

    This is the user-maturity/feature-completeness query of an event
    warehouse (e.g. "how long until a user has touched every surface"),
    and it pins the window-function semantics SQL calls
    ``COUNT(DISTINCT) OVER`` — which Spark spells as
    ``size(collect_set() OVER)`` because its window aggregates don't
    take DISTINCT; the oracle uses the native spelling, so a hash-PASS
    proves the translation exact.

    Scale shape: ONE shuffle total. The per-user total is NOT a
    separate ``countDistinct`` + join (which would cost a distinct
    expand, a second shuffle, and a join) — it's a whole-partition
    frame over the SAME window partitioning, so the running frame,
    the total, and the row number all ride one Exchange + one Sort,
    and the final group-by(user_id, …) is satisfied by that same
    partitioning (plan-pinned in test_plan_properties.py). The
    collect_set state per frame is bounded by the event-type
    alphabet, not event volume."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    frame = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    whole = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = ev.select(
        "user_id",
        "ts",
        F.size(F.collect_set("event_type").over(frame)).alias("running_types"),
        F.size(F.collect_set("event_type").over(whole))
        .cast("bigint")
        .alias("n_types"),
        F.row_number().over(order).cast("bigint").alias("rn"),
    )
    return (
        r.filter(F.col("running_types") == F.col("n_types"))
        .groupBy("user_id", "n_types")
        .agg(
            F.min("ts").alias("first_full_ts"),
            F.min("rn").alias("n_events_to_full"),
        )
    )


# ---------------------------------------------------------------------------
# Range-clustered write layout (the poor-man's Z-order)
# ---------------------------------------------------------------------------

_RANGE_CLUSTER_FILES = 8


@register(
    "maintenance_range_cluster_layout",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           MIN(CAST(ts AS TIMESTAMP)) AS min_ts,
           MAX(CAST(ts AS TIMESTAMP)) AS max_ts,
           TRUE AS files_disjoint,
           TRUE AS slice_prunes
    FROM events
    """,
)
def maintenance_range_cluster_layout(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RANGE-CLUSTERED write layout —
    ``repartitionByRange(ts) + sortWithinPartitions(ts)``, the
    poor-man's Z-order and THE file-skipping lever for time-filtered
    scans at 100 TB: when files own disjoint ts ranges, a time-slice
    predicate prunes at FILE level from footer min/max stats alone,
    where the same data written round-robin forces every file open.
    Each invocation rewrites the events table range-clustered
    (writing is the surface; output in a per-session ``scratch_dir``),
    reads it back, and audits the layout DISTRIBUTEDLY — per-file
    min/max/count via ``input_file_name`` grouping, then two layout
    claims reduced over that (file-count-sized, 8-row) stats frame:
    every adjacent pair of ranges is disjoint (``files_disjoint`` — the
    lag compares run on the tiny stats frame, never the corpus), and a
    1-day slice anchored at max(ts)-5d intersects strictly fewer files
    than exist (``slice_prunes`` — the skipping the layout exists to
    buy). Row count and exact ts bounds prove the rewrite lost
    nothing; a layout regression flips a boolean and fails the hash
    gate (file boundaries themselves are environment-shaped and not
    SQL-expressible — the compact_files precedent).

    ``repartitionByRange`` samples with a fixed seed, so the
    boundaries — and both booleans — are deterministic for a given
    corpus."""
    import os

    from pyspark.sql import Window

    from rs_query_engine_spark.sources.artifacts import scratch_dir

    ev = _t(spark, sf_dir, "events")
    dst = os.path.join(
        scratch_dir(spark, "rangeclust", sf_dir, fresh=False), "out"
    )
    (
        ev.repartitionByRange(_RANGE_CLUSTER_FILES, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(dst)
    )
    back = spark.read.parquet(dst)
    stats = back.groupBy(F.input_file_name().alias("f")).agg(
        F.min("ts").alias("lo"),
        F.max("ts").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    # single-partition window over the FILE-COUNT-sized stats frame
    # (8 rows) — never over the corpus
    prev_hi = F.lag("hi").over(Window.orderBy("lo", "f"))
    slice_lo = F.col("mx") - F.expr("INTERVAL 5 DAYS")
    slice_hi = F.col("mx") - F.expr("INTERVAL 4 DAYS")
    audited = (
        stats.withColumn("prev_hi", prev_hi)
        .crossJoin(F.broadcast(back.agg(F.max("ts").alias("mx"))))
        .agg(
            F.sum("n").alias("n_rows"),
            F.min("lo").alias("min_ts"),
            F.max("hi").alias("max_ts"),
            F.every(
                F.col("prev_hi").isNull() | (F.col("prev_hi") < F.col("lo"))
            ).alias("files_disjoint"),
            (
                F.count(
                    F.when(
                        (F.col("lo") <= slice_hi) & (F.col("hi") >= slice_lo),
                        1,
                    )
                )
                < F.count(F.lit(1))
            ).alias("slice_prunes"),
        )
    )
    return audited.select(
        "n_rows", "min_ts", "max_ts", "files_disjoint", "slice_prunes"
    )


# ---------------------------------------------------------------------------
# Small-file compaction roundtrip
# ---------------------------------------------------------------------------

_COMPACT_FRAG_FILES = 64
_COMPACT_TARGET_BYTES = 1024 * 1024  # 1 MiB — small so every SF compacts


def _ensure_fragmented_lineitem(spark: SparkSession, sf_dir: str) -> str:
    """A deliberately OVER-FRAGMENTED parquet copy of three lineitem
    columns (64 round-robin files regardless of size — the streaming-
    sink/per-trigger-file pathology), built once per corpus generation
    through the standard mtime+size-keyed atomic install."""
    import os

    from rs_query_engine_spark.sources.artifacts import ensure_artifact

    src = os.path.join(os.path.abspath(sf_dir), "lineitem.parquet")

    def write(tmp: str) -> None:
        li = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_extendedprice"
        )
        li.repartition(_COMPACT_FRAG_FILES).write.parquet(
            os.path.join(tmp, "frag")
        )

    root = ensure_artifact(
        src, "fragli", f"n={_COMPACT_FRAG_FILES}|cols=3", ("frag/_SUCCESS",), write
    )
    return os.path.join(root, "frag")


@register(
    "maintenance_compact_small_files",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2)))
                AS VARCHAR) AS DOUBLE) AS sum_price,
           TRUE AS files_reduced
    FROM lineitem
    """,
)
def maintenance_compact_small_files(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SMALL-FILE COMPACTION roundtrip — ``sinks.compact_files``
    driven as a query: a 64-file over-fragmented lineitem copy (the
    per-trigger-file pathology of long-running streaming ingestion)
    is rewritten toward 1 MiB target files, and the output is audited
    for the two things compaction must preserve and the one thing it
    must change: exact row count, decimal-exact price mass, and a
    REDUCED file count (``files_reduced`` is computed from the real
    before/after directory listings — metadata-only driver-side
    reads, the same bounded class as the artifact-build collects; a
    compaction that failed to reduce flips it FALSE and fails the
    hash gate, since file counts themselves are environment-dependent
    and not SQL-expressible). Every invocation re-runs the compaction
    (writing is the surface — the quarantine-writer precedent); the
    output path is a per-session ``scratch_dir`` per the
    concurrent-session rule.

    At 100 TB this is THE table-maintenance operator: every file
    costs a task + listing metadata, and the rewrite here is one
    bounded round-robin shuffle sized from file-index metadata — run
    per partition-directory in production, as the sink's docstring
    prescribes."""
    import os

    from rs_query_engine_spark.sources.artifacts import scratch_dir
    from rs_query_engine_spark.sources.sinks import compact_files

    frag = _ensure_fragmented_lineitem(spark, sf_dir)
    n_before = sum(
        f.endswith(".parquet")
        for f in os.listdir(frag)
        if not f.startswith(("_", "."))
    )
    dst = os.path.join(scratch_dir(spark, "compactli", frag, fresh=False), "out")
    n_after = compact_files(
        spark, frag, dst, target_file_bytes=_COMPACT_TARGET_BYTES
    )
    return spark.read.parquet(dst).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_extendedprice").cast("decimal(14,2)"))
        .cast("string")
        .cast("double")
        .alias("sum_price"),
        F.lit(n_after < n_before).alias("files_reduced"),
    )
