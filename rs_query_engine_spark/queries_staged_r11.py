"""Queries added in round 11 (live since round 12).

22 queries, all with exact oracles:

- **Timer-driven event-time-TTL flush** — the r10 lead named
  ``transformWithStateInPandas``, but that API cannot run in this
  container (its driver worker hard-imports ``google.protobuf``
  [StateMessage_pb2], which is not installed and cannot be — probed,
  see the round-11 session log); the SAME operator semantics land on
  ``applyInPandasWithState`` + ``GroupStateTimeout.EventTimeTimeout``
  (Arrow-only), with every timer rule MEASURED first (strict fire,
  eviction-wm delivery incl. the trailing batch, row-level late
  filter with the two-batch lag, the below-watermark clamp) and
  pinned in tests/unit/test_streaming_ttl_flush.py before the oracle
  encodes them.
- **Warehouse maintenance, read side**: snapshot DIFF (CDC-by-
  comparison between two table generations) and SCD2 time travel
  (state-as-of-T over validity intervals).
- **Resampling statistics**: deterministic Poisson bootstrap
  (content-hash draws, integer CDF thresholds — replicate means with
  no RNG state and no float in the draw).
- **Embedding-corpus monitoring**: per-dimension snapshot drift via
  EXACTLY-quantized sums (floor(x·2^30) — measured that
  double→decimal casts tie-break differently across engines, so
  decimal casting is NOT oracle-safe for arbitrary doubles).
- **Graph**: bounded multi-source BFS over the near-dup graph (the
  takedown blast-radius query; frontier expansion, never a closure).
- **Two-stage retrieval**: ADC shortlist → exact-cosine rerank over
  the persisted PQ index (the production serving shape).
- **Monitoring/governance**: robust (median/MAD) day-over-day volume
  anomalies; the retention sweep plan (partition verdicts before any
  deletion).
- **Spark-4 surfaces**: VARIANT extraction (``parse_json`` /
  ``try_variant_get``), Arrow-native ``mapInArrow`` AND grouped
  ``applyInArrow`` stages (completing the four-tier Python-interop
  ladder), and a pure-Python DataSource
  (``pyspark.sql.datasource``) reading the CSV artifact
  partition-parallel.
- **Distribution-shift testing**: exact two-sample Kolmogorov-
  Smirnov (sort-based ECDF, zero float accumulation).
- **Training assembly**: the point-in-time feature matrix (one as-of
  join per feature source — the leakage-free feature-store join).
- **Governance #2**: the subject-access-report export (one row per
  requested subject across every subject-keyed table; 'nothing held'
  answered explicitly).
- **State-store inspection** (Spark 4 ``statestore`` data source),
  BOTH state layouts: the aPWS TTL-flush checkpoint (held keys ≙
  flush-ledger complement) and the built-in windowed agg's
  checkpoint (held windows ≙ stream_late_data_drop complement) —
  emitted ∪ held books-closure for both operator families, plus the
  measured coordinator-bootstrap requirement
  (``ensure_state_reader_ready``).

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
# Timer-driven TTL flush (applyInPandasWithState + EventTimeTimeout)
# ---------------------------------------------------------------------------

TTL_FLUSH_MS = 12 * 3600 * 1000  # shared by the ledger and the state reader


@register(
    "stream_ttl_flush_ledger",
    oracle="""
    WITH e AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, user_id,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM events
    ),
    m AS (SELECT MAX(ts) AS mx FROM e),
    t0 AS (SELECT e.* FROM e, m
           WHERE ts > mx - INTERVAL 5 DAY AND ts <= mx - INTERVAL 3 DAY),
    w1 AS (SELECT date_trunc('milliseconds', MAX(ts))
                  - INTERVAL 84 HOUR AS w FROM t0),
    w4 AS (SELECT date_trunc('milliseconds', MAX(ts))
                  - INTERVAL 84 HOUR AS w FROM e),
    admitted AS (
        SELECT e.* FROM e, m, w1
        WHERE ts > m.mx - INTERVAL 5 DAY OR ts > w1.w
    ),
    keys AS (
        SELECT user_id,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               COUNT(*) AS n_events,
               CAST(SUM(cents) AS BIGINT) AS total_cents,
               MAX(ts) AS last_ts
        FROM admitted GROUP BY 1, 2
    )
    SELECT user_id, day, n_events, total_cents, last_ts
    FROM keys, w4
    WHERE last_ts + INTERVAL 12 HOUR < w4.w
    """,
)
def stream_ttl_flush_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timer-driven event-time-TTL flush under real out-of-order
    arrival — the arbitrary-state expiry operator
    (``streaming/stateful.py:ttl_flush_stream``,
    ``GroupStateTimeout.EventTimeTimeout``): per (user, day),
    accumulate count / exact cents / max event time across the 4-batch
    late feed; once the watermark passes a key's last event time + 12 h
    the key times out and emits ONE finalized flush record. Keys whose
    TTL has not elapsed when the stream drains are withheld — exactly
    the contract of a production inactivity flush (session close,
    abandoned-cart) where still-live keys must not leak partial rows.

    The oracle replays the measured semantics in SQL (probed on this
    Spark, pinned in tests/unit/test_streaming_ttl_flush.py):

    - ROW-level late filter with the two-batch lag: the late batch
      (batch 2) is filtered against the watermark from batch 0's data
      (W1); older rows are gone even though their (user, day) key is
      live — note the contrast with the built-in windowed agg
      (stream_late_data_drop), which admits by WINDOW end, not row ts.
    - STRICT timeout: a key fires in the first batch whose eviction
      watermark (data through N-1, trailing no-data batch included)
      exceeds its timer; equality does not fire (measured).
    - The below-watermark clamp (setTimeoutTimestamp rejects t <= wm)
      never changes WHICH keys flush by stream end, so membership
      reduces to: last admitted ts + TTL < final watermark W4 — which
      is what the oracle states.

    The feed straddles every interesting boundary at both test SFs:
    ~50/500 late rows are admitted into live keys, ~1/3 of keys flush,
    2/3 are withheld. 100-TB shape: state bounded by live keys, timer
    index does the eviction (no key-scan per batch), integer-cents
    accumulation keeps the Python stage partition-order-exact."""
    from rs_query_engine_spark.streaming.events import run_stream_to_memory
    from rs_query_engine_spark.streaming.stateful import user_day_ttl_stream

    out = user_day_ttl_stream(spark, sf_dir, TTL_FLUSH_MS)
    # State partitions sized to cores, not key cardinality: the
    # replay's cost is the per-batch applyInPandasWithState stage,
    # which parallelizes across state partitions — measured ×3 warm
    # solo at sf0.1: 8 partitions 10.6–11.1 s, 32 partitions
    # 8.9–9.3 s (BENCH_NOTES r13). Values are partition-invariant
    # (order-insensitive integer accumulation), so the oracle hash is
    # unaffected; the PERSISTED checkpoint artifact keeps 8 because
    # the state-reader queries pin its layout.
    return run_stream_to_memory(
        out,
        "stream_ttl_flush_ledger",
        output_mode="update",
        state_partitions=spark.sparkContext.defaultParallelism,
    )


# =====================================================================
# Warehouse-maintenance completion: snapshot DIFF (the CDC feed
# between two table generations) and SCD2 time travel (reconstruct
# the dimensional state as of an instant) — the read-side halves of
# the RF1/RF2 + IVM write-side family the r10 pen finished.
# =====================================================================

# Deterministic snapshot evolution for the diff: one modulus keys all
# three change classes (content-stable, SF-independent — the RF_MOD
# convention from queries_staged_r10.py).
DIFF_MOD = 101
DIFF_DEL_REM = 5  # keys deleted in snapshot B
DIFF_UPD_REM = 7  # keys whose o_totalprice changed in B
DIFF_INS_REM = 9  # keys cloned as NEW rows (re-keyed) in B
DIFF_KEY_OFFSET = 1 << 42  # re-key offset, above any dbgen orderkey


@register(
    "maintenance_snapshot_diff",
    oracle=f"""
    WITH a AS (
        SELECT o_orderkey AS k,
               CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS DECIMAL(18,3)) AS p
        FROM orders
    ),
    b AS (
        SELECT o_orderkey AS k,
               CASE WHEN o_orderkey % {DIFF_MOD} = {DIFF_UPD_REM}
                    THEN CAST(CAST(o_totalprice AS DECIMAL(14,2))
                              * CAST(1.1 AS DECIMAL(2,1)) AS DECIMAL(18,3))
                    ELSE CAST(CAST(o_totalprice AS DECIMAL(14,2))
                              AS DECIMAL(18,3)) END AS p
        FROM orders WHERE o_orderkey % {DIFF_MOD} <> {DIFF_DEL_REM}
        UNION ALL
        SELECT o_orderkey + {DIFF_KEY_OFFSET} AS k,
               CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS DECIMAL(18,3)) AS p
        FROM orders WHERE o_orderkey % {DIFF_MOD} = {DIFF_INS_REM}
    ),
    j AS (
        SELECT a.k AS ka, b.k AS kb, a.p AS pa, b.p AS pb
        FROM a FULL OUTER JOIN b ON a.k = b.k
    )
    SELECT CASE WHEN ka IS NULL THEN 'inserted'
                WHEN kb IS NULL THEN 'deleted'
                ELSE 'updated' END AS change_type,
           COALESCE(ka, kb) AS o_orderkey,
           CAST(pa AS DOUBLE) AS old_totalprice,
           CAST(pb AS DOUBLE) AS new_totalprice
    FROM j
    WHERE ka IS NULL OR kb IS NULL OR pa <> pb
    """,
)
def maintenance_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot DIFF — derive the change-data feed between two table
    generations by comparison (the recovery path when no CDC log was
    kept, and the audit path when one was): FULL OUTER join the old
    and new snapshots on the primary key, classify each key as
    inserted (no old row), deleted (no new row), or updated (both
    present, payload differs), and emit only the changes. Snapshot B
    is a deterministic evolution of ``orders`` (one modulus drives
    all three classes; the updated rows' price shifts by an exact
    decimal ×1.1), so the oracle can state the expected feed
    independently.

    Scale shape: diffing two 100-TB snapshots is ONE key-shuffle
    full-outer join (sort-merge; with both generations bucketed by
    key — operators/layout.py — it is shuffle-free), and the payload
    comparison is a single column equality here; for wide tables the
    production form compares a row fingerprint (md5 over canonically
    serialized columns) computed map-side, so the shuffle carries
    (key, hash) instead of the full row. Never a collect, never a
    row-at-a-time loop; the unchanged majority is filtered before
    anything leaves the join."""
    o = _t(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    dec = F.col("o_totalprice").cast("decimal(14,2)")
    p3 = dec.cast("decimal(18,3)")
    a = o.select(key.alias("ka"), p3.alias("pa"))
    b_base = o.filter(key % DIFF_MOD != DIFF_DEL_REM).select(
        key.alias("kb"),
        F.when(
            key % DIFF_MOD == DIFF_UPD_REM,
            (dec * F.expr("CAST(1.1 AS DECIMAL(2,1))")).cast("decimal(18,3)"),
        )
        .otherwise(p3)
        .alias("pb"),
    )
    b_new = (
        o.filter(key % DIFF_MOD == DIFF_INS_REM)
        .select((key + DIFF_KEY_OFFSET).alias("kb"), p3.alias("pb"))
    )
    b = b_base.unionByName(b_new)
    j = a.join(b, a["ka"] == b["kb"], "full_outer")
    return (
        j.filter(
            F.col("ka").isNull()
            | F.col("kb").isNull()
            | (F.col("pa") != F.col("pb"))
        )
        .select(
            F.when(F.col("ka").isNull(), F.lit("inserted"))
            .when(F.col("kb").isNull(), F.lit("deleted"))
            .otherwise(F.lit("updated"))
            .alias("change_type"),
            F.coalesce("ka", "kb").alias("o_orderkey"),
            F.col("pa").cast("double").alias("old_totalprice"),
            F.col("pb").cast("double").alias("new_totalprice"),
        )
    )


@register(
    "maintenance_scd2_asof",
    oracle="""
    WITH o AS (
        SELECT user_id, event_type, ts, event_id,
               LAG(event_type) OVER w AS prev_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), ch AS (
        SELECT user_id, event_type, ts, event_id FROM o
        WHERE prev_type IS NULL OR event_type <> prev_type
    ), iv AS (
        SELECT user_id, event_type,
               CAST(ts AS TIMESTAMP) AS valid_from,
               CAST(LEAD(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS TIMESTAMP) AS valid_to
        FROM ch
    ), t AS (
        SELECT MAX(CAST(ts AS TIMESTAMP)) - INTERVAL 15 DAY AS at FROM events
    )
    SELECT iv.user_id, iv.event_type AS state_at, iv.valid_from
    FROM iv, t
    WHERE iv.valid_from <= t.at
      AND (iv.valid_to IS NULL OR iv.valid_to > t.at)
    """,
)
def maintenance_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 TIME TRAVEL — reconstruct every entity's state AS OF an
    instant from the type-2 validity intervals
    (``events_scd2_intervals``, queries.py): pick, per user, the one
    interval containing T (mid-corpus: max ts − 15 days; derived from
    the data so the query is content-stable across SFs). Half-open
    interval semantics [valid_from, valid_to): a transition exactly
    at T belongs to the NEW state; NULL valid_to is the current
    state.

    The as-of instant is an aggregated scalar crossed in (broadcast,
    one row) — no collect, no driver round-trip; the interval scan is
    the same single per-user sort+shuffle the SCD2 reconstruction
    itself costs (Catalyst reuses one exchange for LAG and LEAD), and
    the containment filter is map-side after it. At 100 TB
    'state-as-of' over a trillion-row log is exactly this shape —
    the alternative (as-of join per query) re-sorts the log every
    time, while SCD2 intervals amortize the sort across every
    downstream time-travel question."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ch = e.withColumn("prev_type", F.lag("event_type").over(w)).filter(
        F.col("prev_type").isNull()
        | (F.col("event_type") != F.col("prev_type"))
    )
    iv = ch.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    at = e.agg(
        (F.max("ts") - F.expr("INTERVAL 15 DAY")).alias("at")
    )
    return (
        iv.crossJoin(at)
        .filter(
            (F.col("valid_from") <= F.col("at"))
            & (F.col("valid_to").isNull() | (F.col("valid_to") > F.col("at")))
        )
        .select(
            "user_id",
            F.col("event_type").alias("state_at"),
            "valid_from",
        )
    )


# =====================================================================
# Resampling statistics: deterministic Poisson bootstrap — the
# distributed-uncertainty primitive (metric confidence without a
# second pass or any RNG state).
# =====================================================================

# Inverse-CDF thresholds for Poisson(1) on a 32-bit uniform, embedded
# as INTEGER literals so Spark and the oracle compare the same
# numbers with no float anywhere in the draw:
# floor(CDF(k) * 2^32) for k = 0..7 (beyond-7 mass is ~1e-8 -> w=8).
POISSON_T = (
    1580030168,
    3160060337,
    3950075421,
    4213413783,
    4279248373,
    4292415291,
    4294609777,
    4294923276,
)
BOOT_REPLICATES = 32


def _poisson_w_sql(u: str) -> str:
    """CASE expression mapping a 32-bit uniform to a Poisson(1) draw —
    same text for Spark SQL and DuckDB."""
    arms = "".join(
        f" WHEN {u} < {t} THEN {k}" for k, t in enumerate(POISSON_T)
    )
    return f"CASE{arms} ELSE 8 END"


@register(
    "sample_poisson_bootstrap",
    oracle=f"""
    WITH rep AS (
        SELECT CAST(UNNEST(generate_series(0, {BOOT_REPLICATES - 1})) AS INTEGER)
            AS replicate
    ),
    x AS (
        SELECT r.replicate, CAST(e.value AS DECIMAL(12,2)) AS v,
               ('0x' || substr(md5(CAST(e.event_id AS VARCHAR) || ':'
                               || CAST(r.replicate AS VARCHAR)), 1, 8))::BIGINT
                   AS u
        FROM events e, rep r
        WHERE e.value IS NOT NULL
    ),
    w AS (SELECT replicate, v, {_poisson_w_sql("u")} AS w FROM x)
    SELECT replicate,
           CAST(SUM(w) AS BIGINT) AS n_eff,
           CAST(SUM(w * v) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS mean_value
    FROM w GROUP BY replicate
    """,
)
def sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic POISSON BOOTSTRAP — per-replicate resampled means
    of ``events.value`` in ONE pass: each (row, replicate) pair draws
    a Poisson(1) weight by inverse-CDF over a content-hash uniform
    (md5(event_id:replicate) — no RNG state, so the replicate set is
    identical across re-runs, partitionings, and engines; the CDF
    thresholds are integer literals, no float compare anywhere). The
    spread of the {BOOT_REPLICATES} replicate means IS the sampling
    distribution of the metric — the classic way to put a confidence
    interval on a pipeline statistic without N data passes (Poisson
    bootstrap ≈ multinomial bootstrap for large n, and unlike it
    needs no global count up front).

    Per-replicate means go through exact decimal sums with ONE final
    double division; the per-replicate rows are emitted (not the
    stddev across them) so the result stays float-deterministic.

    Scale shape: the ×{BOOT_REPLICATES} fan-out is a broadcast nested
    -loop against a {BOOT_REPLICATES}-row literal frame — map-side,
    no shuffle for the expansion; the only shuffle is the final
    {BOOT_REPLICATES}-group aggregate, with map-side partials
    carrying (sum_w, sum_wv) pairs. At 100 TB the fan-out never
    materializes: weights are computed and partially aggregated
    inside the scan stage."""
    from rs_query_engine_spark.sources.corpus import spread

    # the corpus ships one row group -> one partition; the x32 md5
    # fan-out is CPU-bound, so spread it across cores first (no-op on
    # a real multi-file table)
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id", F.col("value").cast("decimal(12,2)").alias("v")
        )
        .transform(spread)
    )
    rep = spark.range(BOOT_REPLICATES).select(
        F.col("id").cast("int").alias("replicate")
    )
    x = e.crossJoin(F.broadcast(rep))
    u = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("event_id"), F.col("replicate"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    x = x.withColumn("__u__", u).withColumn("w", F.expr(_poisson_w_sql("__u__")))
    return x.groupBy("replicate").agg(
        F.sum("w").alias("n_eff"),
        (
            F.sum(F.col("w") * F.col("v")).cast("double")
            / F.sum("w").cast("double")
        ).alias("mean_value"),
    )


# =====================================================================
# Embedding-corpus monitoring: per-dimension drift between two
# snapshot halves — the model-upgrade / re-embedding audit.
# =====================================================================


@register(
    "embedding_snapshot_drift",
    oracle="""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), x AS (
        SELECT vec_id % 2 = 0 AS is_old,
               generate_subscripts(v, 1) - 1 AS dim,
               CAST(FLOOR(unnest(v) * 1073741824.0) AS BIGINT) AS xq
        FROM e
    ), s AS (
        SELECT CAST(dim AS INT) AS dim,
               CAST(COUNT(CASE WHEN is_old THEN 1 END) AS BIGINT) AS n_old,
               CAST(COUNT(CASE WHEN NOT is_old THEN 1 END) AS BIGINT) AS n_new,
               CAST(SUM(CASE WHEN is_old THEN xq END) AS DOUBLE) AS sum_old,
               CAST(SUM(CASE WHEN NOT is_old THEN xq END) AS DOUBLE) AS sum_new
        FROM x GROUP BY dim
    )
    SELECT dim, n_old, n_new,
           sum_old / 1073741824.0 / CAST(n_old AS DOUBLE) AS mean_old,
           sum_new / 1073741824.0 / CAST(n_new AS DOUBLE) AS mean_new,
           sum_new / 1073741824.0 / CAST(n_new AS DOUBLE)
               - sum_old / 1073741824.0 / CAST(n_old AS DOUBLE) AS mean_shift
    FROM s
    """,
)
def embedding_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION drift between two embedding-corpus snapshots —
    the audit run after a model upgrade or re-embedding backfill
    (centroid shift per dimension catches scaling bugs, dead dims,
    and projection changes that similarity metrics only show after
    quality has already regressed). The two 'snapshots' are the
    deterministic even/odd vec_id halves, so the expected drift is
    content-stable and the oracle states it independently.

    Float discipline: cross-row float addition is order-dependent,
    and double→decimal casts tie-break differently across engines
    (measured: half-up vs half-even flips the 15th digit on exact
    midpoints), so each component is quantized EXACTLY first —
    floor(x · 2^30) is a pure exponent shift plus floor, bit-identical
    everywhere — and the integer sums are exact. The means then divide
    back out in a fixed two-step float sequence (sum/2^30/n). The
    2^-30 quantization (~1e-9, far below embedding noise) is part of
    the metric's definition, stated identically in the oracle.

    Scale shape: posexplode fans map-side and the partial aggregate
    collapses to |dims| rows per task BEFORE the one shuffle —
    shuffle volume is dims x partitions regardless of corpus size.
    The conditional sums compute both snapshots in a single pass
    (no self-join of the embeddings table)."""
    e = _t(spark, sf_dir, "embeddings")
    x = e.select(
        (F.col("vec_id") % 2 == 0).alias("is_old"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "xv"
        ),
    ).withColumn(
        "xq", F.floor(F.col("xv") * F.lit(1073741824.0)).cast("long")
    )
    s = x.groupBy("dim").agg(
        F.count(F.when(F.col("is_old"), 1)).alias("n_old"),
        F.count(F.when(~F.col("is_old"), 1)).alias("n_new"),
        F.sum(F.when(F.col("is_old"), F.col("xq")))
        .cast("double")
        .alias("sum_old"),
        F.sum(F.when(~F.col("is_old"), F.col("xq")))
        .cast("double")
        .alias("sum_new"),
    )
    q = F.lit(1073741824.0)
    mean_old = F.col("sum_old") / q / F.col("n_old").cast("double")
    mean_new = F.col("sum_new") / q / F.col("n_new").cast("double")
    return s.select(
        "dim",
        "n_old",
        "n_new",
        mean_old.alias("mean_old"),
        mean_new.alias("mean_new"),
        (mean_new - mean_old).alias("mean_shift"),
    )


# =====================================================================
# Graph completion: bounded multi-source BFS — the blast-radius /
# contamination-spread primitive over the near-dup graph.
# =====================================================================


def _bfs_oracle() -> str:
    from rs_query_engine_spark.queries import _MH_PAIRS_CTES

    return rf"""
    WITH RECURSIVE {_MH_PAIRS_CTES},
    sym AS (
        SELECT id_a AS s, id_b AS d FROM pairs
        UNION ALL
        SELECT id_b AS s, id_a AS d FROM pairs
    ),
    walk AS (
        SELECT doc_id AS node, 0 AS dist
        FROM documents WHERE doc_id % 20 = 0
        UNION
        SELECT sym.s AS node, walk.dist + 1 AS dist
        FROM walk JOIN sym ON walk.node = sym.d
        WHERE walk.dist < 3
    )
    SELECT node AS doc_id, CAST(MIN(dist) AS INT) AS dist
    FROM walk GROUP BY node
    """


@register("graph_bfs_contamination", oracle=_bfs_oracle())
def graph_bfs_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded multi-source BFS over the near-dup graph — the BLAST
    RADIUS question every takedown/contamination event asks: given a
    seed set of known-bad documents (here the deterministic
    ``doc_id % 20 = 0`` slice), which documents are within 3 near-dup
    hops, and how close? Transitive near-duplication is how benchmark
    contamination and license taint actually spread through a corpus
    (A~B and B~C with A!~C), so the radius — not just direct pairs —
    is the actionable set.

    ``operators/graph.py:bfs_levels``: frontier expansion with
    settled-node anti-joins (each node visited exactly once at its
    minimal level, per-round cost proportional to the frontier;
    O(depth) rounds, never a full transitive closure). The oracle
    computes the same minimal levels via DuckDB's recursive CTE with
    the identical depth bound over the identical MinHash-LSH pair
    graph (the ``pairs`` CTE proven by dedup_connected_clusters)."""
    from rs_query_engine_spark.operators.dedup import minhash_lsh_pairs
    from rs_query_engine_spark.operators.graph import bfs_levels

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, "doc_id", "text")
    seeds = d.filter(F.col("doc_id") % 20 == 0).select("doc_id")
    return bfs_levels(pairs, seeds, max_depth=3).withColumnRenamed(
        "node", "doc_id"
    )


# =====================================================================
# Two-stage retrieval: ADC shortlist -> exact rerank — the production
# ANN serving shape (compressed recall stage + exact precision stage).
# =====================================================================

REFINE_SHORTLIST = 40  # ADC candidates per query fed to the exact stage
REFINE_K = 10


def _pq_refine_oracle() -> str:
    from rs_query_engine_spark.operators.ivf_index import PQ_NUM_SUB
    from rs_query_engine_spark.queries import _COS_SQL, _pq_cte_block

    adc = " + ".join(f"qt.d{b}[c.c{b} + 1]" for b in range(PQ_NUM_SUB))
    return f"""
    WITH {_pq_cte_block()}, scored AS (
        SELECT qt.query_id, c.vec_id, {adc} AS adc
        FROM codes c JOIN qt ON c.centroid_id = qt.centroid_id
    ),
    short AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY adc, vec_id) AS arnk
            FROM scored
        ) WHERE arnk <= {REFINE_SHORTLIST}
    ),
    cv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS q
           FROM embeddings WHERE vec_id % 100 = 0),
    rer AS (
        SELECT s.query_id, s.vec_id,
               {_COS_SQL.format(a="cv.v", b="qv.q")} AS cos
        FROM short s
        JOIN cv ON s.vec_id = cv.vec_id
        JOIN qv ON s.query_id = qv.query_id
    )
    SELECT * FROM (
        SELECT query_id, vec_id, cos,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
        FROM rer
    ) WHERE rnk <= {REFINE_K}
    """


@register("similarity_pq_refine", oracle=_pq_refine_oracle())
def similarity_pq_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-STAGE retrieval — ADC shortlist, exact rerank: the
    persisted PQ index ranks a {REFINE_SHORTLIST}-candidate shortlist
    per query by table lookups over the compressed codes (recall
    stage: corpus-side I/O is the 64x-smaller codes scan,
    partition-pruned by list), then ONLY those candidates' raw
    vectors are fetched and reranked by exact cosine (precision
    stage: per query a bounded {REFINE_SHORTLIST}-row equi-join
    against the corpus, never a second corpus scan). This is the
    serving shape every production PQ deployment uses — compression
    errors decide the shortlist, never the final order.

    The oracle composes the proven ADC pipeline CTEs
    (``queries._pq_adc_oracle_sql``'s generated block, by reference)
    with the proven exact-cosine SQL (``_COS_SQL``) and the same
    (cos DESC, vec_id) tiebreak, so both stages and their composition
    are hash-verified end-to-end."""
    from pyspark.sql import Window

    from rs_query_engine_spark.operators.ivf_index import (
        ensure_pq_index,
        probe_pq_index,
    )
    from rs_query_engine_spark.operators.similarity import (
        _as_double,
        dot,
        norm_sq,
    )

    root = ensure_pq_index(spark, sf_dir)
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    short = probe_pq_index(spark, root, q, REFINE_SHORTLIST).select(
        "query_id", "vec_id"
    )
    cv = e.select(
        "vec_id",
        _as_double(F.col("embedding")).alias("_v"),
        F.sqrt(norm_sq(_as_double(F.col("embedding")))).alias("_n"),
    )
    qv = q.select(
        "query_id",
        _as_double(F.col("query_vec")).alias("_qv"),
        F.sqrt(norm_sq(_as_double(F.col("query_vec")))).alias("_qn"),
    )
    rer = (
        short.join(cv, "vec_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.try_divide(
                dot(F.col("_v"), F.col("_qv")), F.col("_n") * F.col("_qn")
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id")
    )
    return (
        rer.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= REFINE_K)
    )


# =====================================================================
# Pipeline monitoring: day-over-day metric anomalies with a robust
# (median/MAD) gate — the freshness/volume alarm a landing zone runs
# after every partition lands.
# =====================================================================


@register(
    "quality_anomaly_daily_volume",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
                   AS day,
               event_type, COUNT(*) AS n_events
        FROM events GROUP BY 1, 2
    ),
    med AS (
        SELECT event_type, quantile_cont(CAST(n_events AS DOUBLE), 0.5) AS med
        FROM daily GROUP BY 1
    ),
    mad AS (
        SELECT d.event_type,
               quantile_cont(ABS(CAST(d.n_events AS DOUBLE) - m.med), 0.5)
                   AS mad
        FROM daily d JOIN med m USING (event_type) GROUP BY 1
    ),
    lagged AS (
        SELECT day, event_type, n_events,
               LAG(n_events) OVER (
                   PARTITION BY event_type ORDER BY day) AS prev
        FROM daily
    )
    SELECT l.day, l.event_type, l.n_events,
           CAST(l.n_events - l.prev AS DOUBLE) / CAST(l.prev AS DOUBLE)
               AS dod_delta,
           ABS(CAST(l.n_events AS DOUBLE) - m.med) > 3.0 * a.mad
               AS is_anomaly
    FROM lagged l
    JOIN med m USING (event_type)
    JOIN mad a USING (event_type)
    """,
)
def quality_anomaly_daily_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day VOLUME anomaly detection per event type — the
    alarm that catches a broken producer or a double-delivered
    partition before it poisons training mixtures: daily counts, the
    relative day-over-day delta, and a robust median/MAD gate
    (|count − median| > 3·MAD) that a single bad day cannot drag the
    way mean/stddev gates famously can.

    Float determinism: counts are integers below 2^52, so the
    interpolated median, the absolute deviations, the MAD, and the
    3·MAD comparison are all EXACT float arithmetic — Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` interpolate
    identically on exact inputs, and the strict > gate agrees on
    boundary ties because both sides are exact.

    Scale shape: one corpus scan into a (day × type) partial-agg
    rollup, then everything downstream — two quantile passes, the
    lag, the gate — runs over the TINY rollup (days × types rows);
    the per-type quantiles shuffle the rollup, never the corpus. At
    100 TB this is the standing pattern: monitor the maintained
    aggregate (maintenance_ivm_rollup keeps it fresh), not the
    fact table."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    med = daily.groupBy("event_type").agg(
        F.expr("percentile(CAST(n_events AS DOUBLE), 0.5)").alias("med")
    )
    mad = (
        daily.join(med, "event_type")
        .groupBy("event_type")
        .agg(
            F.expr(
                "percentile(ABS(CAST(n_events AS DOUBLE) - med), 0.5)"
            ).alias("mad")
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.withColumn("prev", F.lag("n_events").over(w))
    return (
        lagged.join(med, "event_type")
        .join(mad, "event_type")
        .select(
            "day",
            "event_type",
            "n_events",
            (
                (F.col("n_events") - F.col("prev")).cast("double")
                / F.col("prev").cast("double")
            ).alias("dod_delta"),
            (
                F.abs(F.col("n_events").cast("double") - F.col("med"))
                > 3.0 * F.col("mad")
            ).alias("is_anomaly"),
        )
    )


# =====================================================================
# Governance completion: the retention SWEEP PLAN — which partitions a
# policy deletes, holds, or retains, and what that costs, computed
# before anything is touched.
# =====================================================================

RETAIN_DAYS = 21  # policy: delete event data older than this
LEGAL_HOLD_TYPES = ("purchase",)  # types under legal hold, never swept


@register(
    "governance_retention_sweep",
    oracle=f"""
    WITH e AS (
        SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
                   AS day,
               event_type, user_id
        FROM events
    ),
    cutoff AS (
        SELECT MAX(day) - INTERVAL {RETAIN_DAYS} DAY AS cut FROM e
    )
    SELECT e.day, e.event_type,
           CASE WHEN e.day >= c.cut THEN 'retain'
                WHEN e.event_type IN ('{"','".join(LEGAL_HOLD_TYPES)}')
                    THEN 'hold'
                ELSE 'delete' END AS action,
           COUNT(*) AS n_rows,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_subjects
    FROM e, cutoff c
    GROUP BY 1, 2, 3
    """,
)
def governance_retention_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention SWEEP PLAN — the governance dry-run every scheduled
    deletion job should emit before touching data: per (day,
    event_type) partition, the policy verdict (retain: younger than
    the {RETAIN_DAYS}-day horizon; hold: older but under legal hold;
    delete: otherwise) with the affected row and distinct-subject
    counts. The horizon anchors to the data's own max day, so the
    plan is content-stable; the legal-hold set is the exception list
    a litigation hold injects.

    Scale shape: the verdict is a pure function of the PARTITION KEY
    (day, event_type) — which is the point: with the fact table
    partitioned by day (operators/layout.py), executing the plan is
    partition DROPS for 'delete' rows and metadata no-ops for the
    rest, never a rewrite of surviving data; and this audit itself is
    one scan with map-side partial aggregation (the distinct-subject
    count is the only per-partition shuffle). The cutoff is an
    aggregated scalar crossed in broadcast — no collect."""
    e = _t(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        "event_type",
        "user_id",
    )
    cut = e.agg(
        (F.max("day") - F.expr(f"INTERVAL {RETAIN_DAYS} DAY")).alias("cut")
    )
    return (
        e.crossJoin(cut)
        .withColumn(
            "action",
            F.when(F.col("day") >= F.col("cut"), F.lit("retain"))
            .when(
                F.col("event_type").isin(*LEGAL_HOLD_TYPES), F.lit("hold")
            )
            .otherwise(F.lit("delete")),
        )
        .groupBy("day", "event_type", "action")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("user_id").alias("n_subjects"),
        )
    )


# =====================================================================
# Spark-4-native surfaces: VARIANT semi-structured type, Arrow-native
# Python (mapInArrow), and the pure-Python DataSource API — the
# engine-surface completions a Spark-4 deployment expects.
# =====================================================================


@register(
    "json_variant_extract",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS max_k,
           COUNT(CASE WHEN json_extract_string(props, '$.absent') IS NULL
                      THEN 1 END) AS n_missing
    FROM events
    GROUP BY event_type
    """,
)
def json_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payloads through Spark 4's VARIANT type:
    ``parse_json`` decodes each props document ONCE into the binary
    variant encoding, and every extraction (``try_variant_get`` with
    a typed target) is a cheap path lookup on the decoded value — the
    third generation of the JSON family (get_json_object re-parses
    per field, from_json needs the schema up front; VARIANT keeps the
    full value queryable with open schema AND single-parse cost, and
    is what columnar shredding operates on at rest).

    Missing paths yield NULL (counted in ``n_missing`` — the
    open-schema probe), typed extraction casts inside the variant
    reader. The oracle states the same aggregates over DuckDB's JSON
    extraction — the variant layer must be semantically invisible.

    At 100 TB the variant encoding is the difference between parsing
    event payloads once at ingest (then columnar-shredding hot paths)
    and re-parsing text JSON in every query; extraction is
    whole-stage-codegen'd, no Python."""
    e = _t(spark, sf_dir, "events")
    v = e.select(
        "event_type", F.parse_json(F.col("props")).alias("pv")
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.try_variant_get(F.col("pv"), "$.k", "bigint")).alias(
            "sum_k"
        ),
        F.max(F.try_variant_get(F.col("pv"), "$.k", "bigint")).alias(
            "max_k"
        ),
        F.count(
            F.when(
                F.try_variant_get(F.col("pv"), "$.absent", "string").isNull(),
                1,
            )
        ).alias("n_missing"),
    )


@register(
    "udf_arrow_byte_stats",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_cp,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
           CAST(length(text) - length(replace(text, ' ', ''))
                AS BIGINT) AS n_spaces
    FROM documents
    """,
)
def udf_arrow_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-NATIVE Python stage via ``mapInArrow`` — the lowest-
    overhead Python interop tier (the pandas tiers convert Arrow ⇄
    pandas per batch; this one hands the raw ``RecordBatch`` to
    pyarrow.compute kernels, zero-copy both ways): per-document
    codepoint count, encoded byte count, and space count, all exact
    integers from vectorized C++ kernels. The byte/codepoint spread
    is the multibyte-density signal tokenizer-budget planning uses;
    the point here is the SURFACE — when Python is unavoidable and
    pandas semantics add nothing, mapInArrow removes the last
    conversion cost (the UDF-family ladder: row-Python never,
    pandas_udf for pandas semantics, mapInArrow for kernel work).

    The oracle states the same integers in SQL; exactness needs no
    float discipline at all. Scale: map-only (no shuffle), one
    C++-kernel pass per batch, output schema declared so downstream
    stays columnar."""

    def stats(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            text = b.column(b.schema.get_field_index("text"))
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(b.schema.get_field_index("doc_id")),
                    pc.cast(pc.utf8_length(text), pa.int64()),
                    pc.cast(
                        pc.binary_length(pc.cast(text, pa.binary())),
                        pa.int64(),
                    ),
                    pc.cast(pc.count_substring(text, " "), pa.int64()),
                ],
                names=["doc_id", "n_cp", "n_bytes", "n_spaces"],
            )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInArrow(
        stats, "doc_id bigint, n_cp bigint, n_bytes bigint, n_spaces bigint"
    )


CUSTOMER_DDL = (
    "c_custkey bigint, c_name string, c_nationkey int, "
    "c_acctbal double, c_mktsegment string"
)


@register(
    "source_python_datasource",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer WHERE c_acctbal > 1000.0
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure-Python DataSource surface
    (``sources/pydatasource.py``, Spark 4's
    ``pyspark.sql.datasource``): the customer CSV artifact — the SAME
    files source_csv_roundtrip scans with the JVM reader — read back
    through a user-defined Python format with one input partition per
    part file, stdlib-csv parsing on executors, and schema-driven
    coercion. The filter + oracle match the JVM roundtrip query
    exactly, so a hash-PASS proves the custom format preserves every
    value bit-for-bit (doubles via shortest-repr -> float() identity)
    AND that partition-parallel pure-Python scans compose with the
    rest of the engine.

    This is the extension contract for formats with no JVM connector
    (the reference's Table trait, ``src/datasource/table.rs:10-19``):
    at scale the reader yields Arrow batches and pushes filters, but
    the planning shape — N files -> N partitions -> executor-side
    reads — is already the real one here."""
    from rs_query_engine_spark.sources.pydatasource import (
        CsvLinesDataSource,
        ensure_customer_csv,
        register_source,
    )

    path = ensure_customer_csv(spark, sf_dir)
    register_source(spark, CsvLinesDataSource)
    df = (
        spark.read.format("rsqes_pycsv")
        .schema(CUSTOMER_DDL)
        .option("path", path)
        .load()
    )
    return df.filter(F.col("c_acctbal") > 1000.0)


# =====================================================================
# Distribution-shift testing: exact two-sample Kolmogorov-Smirnov —
# the nonparametric "did this metric's distribution change" gate that
# pairs with the mean-level drift/anomaly monitors.
# =====================================================================


@register(
    "sample_ks_two_sample",
    oracle="""
    WITH x AS (
        SELECT CAST(value AS DECIMAL(12,2)) AS v,
               user_id % 2 = 0 AS in_a
        FROM events WHERE value IS NOT NULL
    ),
    n AS (
        SELECT CAST(COUNT(CASE WHEN in_a THEN 1 END) AS DOUBLE) AS na,
               CAST(COUNT(CASE WHEN NOT in_a THEN 1 END) AS DOUBLE) AS nb
        FROM x
    ),
    steps AS (
        SELECT v,
               SUM(CASE WHEN in_a THEN 1 ELSE 0 END)
                   OVER (ORDER BY v) AS ca,
               SUM(CASE WHEN in_a THEN 0 ELSE 1 END)
                   OVER (ORDER BY v) AS cb
        FROM x
    ),
    ecdf AS (
        SELECT v, MAX(ca) AS ca, MAX(cb) AS cb FROM steps GROUP BY v
    )
    SELECT CAST(n.na AS BIGINT) AS n_a, CAST(n.nb AS BIGINT) AS n_b,
           MAX(ABS(CAST(ecdf.ca AS DOUBLE) / n.na
                   - CAST(ecdf.cb AS DOUBLE) / n.nb)) AS ks_stat
    FROM ecdf, n
    GROUP BY n.na, n.nb
    """,
)
def sample_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov statistic between the
    even/odd user_id strata of ``events.value`` — the nonparametric
    distribution-shift gate (a mean-level monitor like
    quality_anomaly_daily_volume misses a variance or shape change;
    KS = sup |ECDF_a - ECDF_b| catches any of them). One sort-based
    pass: cumulative per-side counts over the pooled ordered values
    (ties collapsed per distinct value, so the supremum is evaluated
    exactly at every step point), then the max absolute ECDF gap.

    Float determinism: counts are integers; each ECDF value is ONE
    double division (count/n), the gap is one subtraction, and MAX
    over exact doubles is order-insensitive — no accumulation
    anywhere. Grid values (decimal 2dp) make the sort key exact.

    Scale shape: the window's ORDER BY v is the one global sort
    (range-partitioned at scale — the honest cost of an exact ECDF);
    everything after collapses to distinct values then one row. For
    100-TB monitoring runs the standard move is this exact form on a
    content-hash sample plus sketch-based bounds on the full stream —
    the exact operator is what validates the sketch."""
    from pyspark.sql import Window

    x = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.col("value").cast("decimal(12,2)").alias("v"),
            (F.col("user_id") % 2 == 0).alias("in_a"),
        )
    )
    n = x.agg(
        F.count(F.when(F.col("in_a"), 1)).cast("double").alias("na"),
        F.count(F.when(~F.col("in_a"), 1)).cast("double").alias("nb"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    steps = x.select(
        "v",
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).over(w).alias("ca"),
        F.sum(F.when(F.col("in_a"), 0).otherwise(1)).over(w).alias("cb"),
    )
    ecdf = steps.groupBy("v").agg(
        F.max("ca").alias("ca"), F.max("cb").alias("cb")
    )
    return (
        ecdf.crossJoin(n)
        .groupBy("na", "nb")
        .agg(
            F.max(
                F.abs(
                    F.col("ca").cast("double") / F.col("na")
                    - F.col("cb").cast("double") / F.col("nb")
                )
            ).alias("ks_stat")
        )
        .select(
            F.col("na").cast("bigint").alias("n_a"),
            F.col("nb").cast("bigint").alias("n_b"),
            "ks_stat",
        )
    )


# =====================================================================
# Point-in-time feature assembly: the training-example join — one
# as-of join per feature source, every feature frozen at label time.
# =====================================================================


@register(
    "join_pit_feature_matrix",
    oracle="""
    WITH labels AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
        FROM events WHERE event_type = 'purchase'
    ),
    views AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS vts,
               ARG_MAX(value, event_id) AS view_value
        FROM events WHERE event_type = 'view' GROUP BY 1, 2
    ),
    clicks AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS cts,
               ARG_MAX(value, event_id) AS click_value
        FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ),
    ords AS (
        SELECT o_custkey, o_orderdate,
               ARG_MAX(o_totalprice, o_orderkey) AS order_total
        FROM orders GROUP BY 1, 2
    )
    SELECT l.event_id, l.user_id, l.ts, l.value AS label_value,
           v.vts AS view_ts, v.view_value,
           c.cts AS click_ts, c.click_value,
           CAST(o.o_orderdate AS TIMESTAMP) AS order_ts, o.order_total
    FROM labels l
    ASOF LEFT JOIN views v ON l.user_id = v.user_id AND l.ts >= v.vts
    ASOF LEFT JOIN clicks c ON l.user_id = c.user_id AND l.ts >= c.cts
    ASOF LEFT JOIN ords o
        ON l.user_id = o.o_custkey AND l.ts >= CAST(o.o_orderdate AS TIMESTAMP)
    """,
)
def join_pit_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME feature matrix — the training-example assembly
    join done correctly: every purchase event (the label) picks up,
    per feature source, the most recent value AT OR BEFORE label time
    — the user's last view, last click, and last order total — via
    one as-of join per source (``operators/joins.asof_join``). This
    is the leakage-free feature join a feature store exists to
    provide: an ordinary equi-join on user would leak FUTURE feature
    values into training examples, the classic offline/online skew
    bug.

    Each feature side is pre-deduped per (key, ts) with a
    deterministic max_by tie-break; each as-of join is the
    union+window form — one shuffle on the user key, no pair
    explosion, and Catalyst reuses the per-user partitioning across
    the chained joins. DuckDB's native chained ASOF LEFT JOINs are
    the oracle. At 100 TB the cost is one per-key ordering per
    feature source — the same shape a feature-store backfill runs,
    embarrassingly parallel in the user dimension."""
    from rs_query_engine_spark.operators.joins import asof_join

    e = _t(spark, sf_dir, "events")
    labels = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("label_value")
    )
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", F.col("ts").alias("vts"))
        .agg(F.max_by("value", "event_id").alias("view_value"))
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("cts"))
        .agg(F.max_by("value", "event_id").alias("click_value"))
    )
    ords = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("timestamp").alias("ots"),
        )
        .agg(F.max_by("o_totalprice", "o_orderkey").alias("order_total"))
    )
    out = asof_join(labels, views, by=["user_id"], left_ts="ts", right_ts="vts")
    out = asof_join(out, clicks, by=["user_id"], left_ts="ts", right_ts="cts")
    out = asof_join(out, ords, by=["user_id"], left_ts="ts", right_ts="ots")
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "label_value",
        F.col("vts").alias("view_ts"),
        "view_value",
        F.col("cts").alias("click_ts"),
        "click_value",
        F.col("ots").alias("order_ts"),
        "order_total",
    )


# =====================================================================
# Governance completion #2: the subject-access-report export — one
# row per data subject across every table that knows them.
# =====================================================================


@register(
    "governance_sar_export",
    oracle="""
    WITH subjects AS (
        SELECT DISTINCT user_id FROM events WHERE user_id % 25 = 3
    ),
    ev AS (
        SELECT user_id, COUNT(*) AS n_events,
               MIN(CAST(ts AS TIMESTAMP)) AS first_seen,
               MAX(CAST(ts AS TIMESTAMP)) AS last_seen,
               COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
                   AS n_purchases,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                   AS total_value
        FROM events GROUP BY user_id
    ),
    o AS (
        SELECT o_custkey AS user_id, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
                   AS total_spend
        FROM orders GROUP BY o_custkey
    )
    SELECT s.user_id,
           COALESCE(ev.n_events, 0) AS n_events,
           ev.first_seen, ev.last_seen,
           COALESCE(ev.n_purchases, 0) AS n_purchases,
           ev.total_value,
           COALESCE(o.n_orders, 0) AS n_orders,
           o.total_spend
    FROM subjects s
    LEFT JOIN ev USING (user_id)
    LEFT JOIN o USING (user_id)
    """,
)
def governance_sar_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subject-access-report EXPORT — the GDPR Art. 15 / CCPA question
    run as a batch: for a requested subject set (the deterministic
    ``user_id % 25 = 3`` slice), one row per subject aggregating what
    every table that knows them holds — event counts, first/last
    seen, purchase counts, decimal-exact value totals, and the orders
    side through the same custkey≙user_id linkage the as-of queries
    use. LEFT joins from the subject list so a subject with no data
    still gets a (zero-filled) row — a SAR must answer 'nothing held'
    explicitly, not by omission.

    Scale shape: both per-table aggregates reduce map-side BEFORE
    their key shuffle (subject-cardinality output, never row-level
    export of the fact tables), and the final joins are
    subject-list-sized — AQE broadcasts them. At 100 TB the same plan
    serves batched SAR processing: aggregate once per table, join the
    request list, nothing re-scans per subject."""
    e = _t(spark, sf_dir, "events")
    subjects = (
        e.filter(F.col("user_id") % 25 == 3).select("user_id").distinct()
    )
    ev = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
            "n_purchases"
        ),
        F.sum(F.col("value").cast("decimal(12,2)"))
        .cast("double")
        .alias("total_value"),
    )
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
            .cast("double")
            .alias("total_spend"),
        )
    )
    return (
        subjects.join(ev, "user_id", "left")
        .join(o, "user_id", "left")
        .select(
            "user_id",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            "first_seen",
            "last_seen",
            F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
            "total_value",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            "total_spend",
        )
    )


@register(
    "stream_state_inspection",
    oracle="""
    WITH e AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, user_id,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM events
    ),
    m AS (SELECT MAX(ts) AS mx FROM e),
    t0 AS (SELECT e.* FROM e, m
           WHERE ts > mx - INTERVAL 5 DAY AND ts <= mx - INTERVAL 3 DAY),
    w1 AS (SELECT date_trunc('milliseconds', MAX(ts))
                  - INTERVAL 84 HOUR AS w FROM t0),
    w4 AS (SELECT date_trunc('milliseconds', MAX(ts))
                  - INTERVAL 84 HOUR AS w FROM e),
    admitted AS (
        SELECT e.* FROM e, m, w1
        WHERE ts > m.mx - INTERVAL 5 DAY OR ts > w1.w
    ),
    keys AS (
        SELECT user_id,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               COUNT(*) AS n_events,
               CAST(SUM(cents) AS BIGINT) AS total_cents,
               MAX(ts) AS last_ts
        FROM admitted GROUP BY 1, 2
    )
    SELECT user_id, day, n_events, total_cents, last_ts
    FROM keys, w4
    WHERE NOT (last_ts + INTERVAL 12 HOUR < w4.w)
    """,
)
def stream_state_inspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATE-STORE INSPECTION — Spark 4's ``statestore`` data source
    reads a streaming checkpoint's live state back as a TABLE: the
    TTL-flush run is checkpointed once per corpus generation
    (``streaming/stateful.py:ensure_ttl_flush_checkpoint``), and this
    query returns every key still HELD at stream end — the exact
    complement of ``stream_ttl_flush_ledger``'s emitted set, which
    the oracle states by negating the ledger's flush rule over the
    same replay arithmetic (same admitted set, same accumulations,
    ``NOT (last_ts + TTL < W4)``).

    Together the pair closes the stateful operator's books: emitted ∪
    held = every admitted key, disjointly — nothing leaks, nothing is
    double-counted, and the stored micros-exact ``mx_us`` round-trips
    to the same MAX(ts) the SQL computes. Operationally this surface
    is how production debugs a stateful query (why is state growing?
    which keys never flush?) WITHOUT touching the running stream: the
    reader scans checkpoint files, partition-parallel, no state-store
    locks. The stored timer is deliberately NOT emitted: its value
    carries the below-watermark clamp (wm-at-last-input + 1ms), an
    arrival-schedule detail, while the held-key SET is pure event-time
    arithmetic."""
    from rs_query_engine_spark.streaming.events import (
        ensure_state_reader_ready,
    )
    from rs_query_engine_spark.streaming.stateful import (
        ensure_ttl_flush_checkpoint,
    )

    ck = ensure_ttl_flush_checkpoint(spark, sf_dir, TTL_FLUSH_MS)
    ensure_state_reader_ready(spark)
    ss = spark.read.format("statestore").load(ck)
    return ss.select(
        F.col("key.user_id").alias("user_id"),
        F.col("key.day").alias("day"),
        F.col("value.groupState.cnt").alias("n_events"),
        F.col("value.groupState.cents").alias("total_cents"),
        F.timestamp_micros(F.col("value.groupState.mx_us")).alias("last_ts"),
    )


@register(
    "udf_arrow_grouped_lang_stats",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_cp,
           CAST(MAX(length(text)) AS BIGINT) AS max_cp,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM documents
    GROUP BY lang
    """,
)
def udf_arrow_grouped_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED Arrow-native Python via ``applyInArrow`` — the
    per-group twin of the mapInArrow stage (udf_arrow_byte_stats):
    each language's documents arrive as one Arrow ``Table``,
    pyarrow.compute kernels reduce it (count, codepoint sum/max,
    distinct sources), one row out per group — no pandas conversion
    on either edge. This completes the four-tier Python-interop
    ladder the engine documents: row-Python (never), pandas_udf /
    applyInPandas (pandas semantics), mapInArrow (per-batch
    kernels), applyInArrow (per-GROUP kernels).

    All outputs are exact integers, so the oracle is plain SQL with
    no float discipline needed. Scale shape: the one shuffle is the
    groupBy's hash partitioning on lang; per-group reduction is a
    C++ kernel pass over that group's Arrow buffers. Grouped-Python
    caveat at 100 TB: a group must fit one task (fine for
    language-sized groups; a skewed group wants the salted two-stage
    form instead — operators/skew.py)."""

    def stats(table):
        import pyarrow as pa
        import pyarrow.compute as pc

        text = table.column("text")
        cp = pc.utf8_length(text)
        return pa.Table.from_arrays(
            [
                pa.array([table.column("lang")[0].as_py()], pa.string()),
                pa.array([table.num_rows], pa.int64()),
                pa.array([pc.sum(cp).as_py() or 0], pa.int64()),
                pa.array([pc.max(cp).as_py()], pa.int64()),
                pa.array(
                    [pc.count_distinct(table.column("source")).as_py()],
                    pa.int64(),
                ),
            ],
            names=["lang", "n_docs", "total_cp", "max_cp", "n_sources"],
        )

    d = _t(spark, sf_dir, "documents").select("lang", "text", "source")
    return d.groupBy("lang").applyInArrow(
        stats,
        "lang string, n_docs bigint, total_cp bigint, "
        "max_cp bigint, n_sources bigint",
    )


@register(
    "source_python_pushdown",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE c_nationkey = 7 AND c_acctbal > 5000.0
    """,
)
def source_python_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREDICATE PUSHDOWN through the pure-Python DataSource
    (``sources/pydatasource.py:CsvPushdownDataSource`` — 4.1's
    ``DataSourceReader.pushFilters``): the equality + range filters
    are negotiated INTO the Python reader and applied during the CSV
    parse, so non-qualifying rows never cross the Python→JVM Arrow
    boundary. Plan-verified (tests/unit/test_plan_properties.py):
    the BatchScan carries ``PushedFilters: [... EqualTo(c_nationkey,7),
    GreaterThan(c_acctbal,5000.0)]`` and NO Filter node remains above
    it — Spark treats accepted filters as exact, which makes the
    reader's predicate evaluation load-bearing and is precisely what
    this oracle hash-verifies.

    The pushdown format is a separate registration from the plain
    reader because implementing pushFilters is a contract: Spark
    refuses the scan when ``spark.sql.python.filterPushdown.enabled``
    is off (measured — hard AnalysisException), so the conf is
    ensured per query on the driver's own session. At 100 TB this
    boundary is the difference between shipping a full partition
    through Arrow to drop 99% of it JVM-side and dropping it where
    the bytes already are."""
    from rs_query_engine_spark.sources.pydatasource import (
        CsvPushdownDataSource,
        ensure_customer_csv,
        ensure_python_filter_pushdown,
        register_source,
    )

    path = ensure_customer_csv(spark, sf_dir)
    ensure_python_filter_pushdown(spark)
    register_source(spark, CsvPushdownDataSource)
    df = (
        spark.read.format("rsqes_pycsv_fp")
        .schema(CUSTOMER_DDL)
        .option("path", path)
        .load()
    )
    return df.filter(
        (F.col("c_nationkey") == 7) & (F.col("c_acctbal") > 5000.0)
    ).select("c_custkey", "c_name", "c_acctbal")


@register(
    "source_python_writer_roundtrip",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def source_python_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITER half of the pure-Python DataSource contract
    (``sources/pydatasource.py:CsvLinesWriter``): the filtered
    customer slice is written through the Python writer — one
    executor task per partition, each staging a uniquely-named file,
    with the standard two-phase commit (rename-to-final + overwrite
    cleanup + _SUCCESS happen only in driver-side ``commit``, so a
    concurrent reader never sees a torn write; ``abort`` reaps the
    staged files) — then read BACK through Spark's JVM CSV reader
    and compared against the parquet original. A hash-PASS proves
    the Python writer's serialization is value-exact (floats via
    shortest-repr str()) AND its commit protocol produced exactly
    the committed row set, nothing duplicated or dropped.

    The output directory is a per-session ``scratch_dir`` and
    rewritten per invocation — writing IS the surface under test, so
    caching it would defeat
    the query. At scale the identical protocol carries: tasks stage,
    the driver commits, speculative/failed attempts abort — the
    file-committer model, in Python."""
    import os

    from rs_query_engine_spark.sources.artifacts import scratch_dir
    from rs_query_engine_spark.sources.pydatasource import (
        CsvLinesDataSource,
        register_source,
    )

    register_source(spark, CsvLinesDataSource)
    src = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    out = os.path.join(scratch_dir(spark, "pywr", sf_dir, fresh=False), "out")
    src.write.format("rsqes_pycsv").option("path", out).mode(
        "overwrite"
    ).save()
    return spark.read.csv(out, schema=CUSTOMER_DDL, header=True)


@register(
    "stream_window_state_inspection",
    oracle="""
    WITH e AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
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
        SELECT ts, event_type FROM a1
        UNION ALL SELECT ts, event_type FROM a2
        UNION ALL SELECT ts, event_type FROM c
        UNION ALL SELECT b.ts, b.event_type FROM b, wa
        WHERE date_trunc('hour', b.ts) + INTERVAL 1 HOUR > wa.w
    ),
    agg AS (
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               COUNT(*) AS n_events
        FROM accepted GROUP BY 1, 2
    )
    SELECT g.window_start, g.event_type, g.n_events
    FROM agg g, wf
    WHERE g.window_start + INTERVAL 1 HOUR > wf.w
    """,
)
def stream_window_state_inspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store inspection of the BUILT-IN windowed aggregate —
    the second state layout the ``statestore`` reader exposes (the
    aPWS read in ``stream_state_inspection`` sees
    ``value.groupState``; a windowed agg's state is keyed by the
    window struct itself with the running aggregate as the value).
    The checkpointed operator is the SAME 1-hour count
    ``stream_late_data_drop`` replays (same feed, delay, aggregate —
    ``streaming/events.py:ensure_hourly_agg_checkpoint``), so its
    held windows are that query's exact complement under append-mode
    finalization: a window is in state iff its end is still above
    the final watermark (emission is ``window_end <= wm``,
    non-strict — measured in r10), with counts over the same
    window-end-rule admitted rows. The two oracles partition the
    admitted (window, type) space with nothing shared and nothing
    lost — emitted ∪ held books-closure for the BUILT-IN operator,
    matching the aPWS pair.

    Operationally: this is how you answer 'how much state is this
    windowed stream carrying and which windows refuse to close'
    without stopping the stream — the reader scans checkpoint files
    only (warm cost here is a bare file scan)."""
    from rs_query_engine_spark.streaming.events import (
        ensure_hourly_agg_checkpoint,
        ensure_state_reader_ready,
    )

    ck = ensure_hourly_agg_checkpoint(spark, sf_dir)
    ensure_state_reader_ready(spark)
    ss = spark.read.format("statestore").load(ck)
    return ss.select(
        F.col("key.window.start").alias("window_start"),
        F.col("key.event_type").alias("event_type"),
        # the state value struct carries the operator's INTERNAL
        # partial-aggregate slot name ("count"), not the query alias
        F.col("value.count").alias("n_events"),
    )


@register(
    "source_python_stream_reader",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE)
               AS sum_acctbal
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def source_python_stream_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING half of the pure-Python DataSource
    (``sources/pydatasource.py:CsvSimpleStreamReader`` — Spark 4's
    ``simpleStreamReader``): the customer CSV artifact's part files
    replay as micro-batches (offset = files consumed, in stable
    sorted order; ``readBetweenOffsets`` re-parses exactly a
    committed range on failure replay — exactly-once by offset
    arithmetic over immutable files), feeding a complete-mode
    per-segment count + decimal-exact balance sum. Complete-mode
    aggregation is invariant to batch slicing, so the final table
    must equal the one-shot batch aggregate — which is the oracle,
    making the custom source's exactly-once file accounting the
    thing the hash-pass actually proves (a skipped or re-read file
    shifts a count).

    With this, the Python-format contract is complete end to end:
    batch read, predicate pushdown, two-phase-commit write, and
    incremental streaming read. The 'simple' reader reads on the
    driver (prefetch-sized batches); the partitioned
    DataSourceStreamReader is the executor-parallel scale path with
    the same offset model."""
    from rs_query_engine_spark.sources.pydatasource import (
        CsvStreamDataSource,
        ensure_customer_csv,
        register_source,
    )
    from rs_query_engine_spark.streaming.events import run_stream_to_memory

    path = ensure_customer_csv(spark, sf_dir)
    register_source(spark, CsvStreamDataSource)
    stream = (
        spark.readStream.format("rsqes_pycsv_stream")
        .schema(CUSTOMER_DDL)
        .option("path", path)
        .load()
    )
    agg = stream.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("c_acctbal").cast("decimal(14,2)"))
        .cast("double")
        .alias("sum_acctbal"),
    )
    return run_stream_to_memory(
        agg, "source_python_stream_reader", output_mode="complete"
    )


@register(
    "source_python_stream_partitioned",
    oracle="""
    SELECT c_nationkey,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE)
               AS sum_acctbal
    FROM customer
    GROUP BY c_nationkey
    """,
)
def source_python_stream_partitioned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The EXECUTOR-PARALLEL Python streaming source
    (``sources/pydatasource.py:CsvPartitionedStreamReader`` —
    ``DataSourceStreamReader``, the scale path the simple reader's
    docstring promises): the driver only does offset arithmetic
    (files-consumed counter over the stable sorted listing) and each
    micro-batch plans one InputPartition per new file, parsed ON
    EXECUTORS — a batch of N files scans N-way parallel, exactly the
    planning/execution split the JVM file sources use, for a format
    Spark has no connector for. Complete-mode per-nation aggregation
    equals the one-shot batch aggregate (the oracle), so the
    hash-pass again proves exactly-once file accounting — this time
    through the partition-planning path (a partition planned twice
    or dropped shifts a count)."""
    from rs_query_engine_spark.sources.pydatasource import (
        CsvPartitionedStreamDataSource,
        ensure_customer_csv,
        register_source,
    )
    from rs_query_engine_spark.streaming.events import run_stream_to_memory

    path = ensure_customer_csv(spark, sf_dir)
    register_source(spark, CsvPartitionedStreamDataSource)
    stream = (
        spark.readStream.format("rsqes_pycsv_pstream")
        .schema(CUSTOMER_DDL)
        .option("path", path)
        .load()
    )
    agg = stream.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("c_acctbal").cast("decimal(14,2)"))
        .cast("double")
        .alias("sum_acctbal"),
    )
    # state_partitions=2 (r19) — the agg state is nation-cardinality;
    # see the stream_late_data_drop note; paired median 0.82
    return run_stream_to_memory(
        agg, "source_python_stream_partitioned", output_mode="complete",
        state_partitions=2,
    )
