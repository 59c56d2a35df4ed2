"""Queries added in rounds 12-13 (live since round 15).

15 queries, all with exact oracles: per-label embedding generation
drift (exact-quantized centroid-shift L2 between corpus generations),
the polymorphic Python UDTF whose ``analyze()`` computes the schema
from a DDL argument, four Spark-4 SQL surfaces (GROUP BY ALL / ORDER
BY ALL, named parameter markers, the IDENTIFIER() clause, EXECUTE
IMMEDIATE over a session variable), the two raw-Arrow Python tiers
(``mapInArrow`` map-only quantization, ``groupBy().applyInArrow``
whole-group reduction), the native XML writer/reader roundtrip, the
deterministic ``rate-micro-batch`` source (availableNow bounded
drain), the ``foreachBatch`` versioned-parquet upsert with a
restart-idempotence leg, URL-canonicalization dedup (``parse_url``
vs string-level oracle), code-vs-prose detection, the SHUFFLE_HASH
join hint (plan-pinned), and the decimal-exact per-group OLS trend.

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
# Polymorphic Python UDTF (analyze() computes the schema from an arg)
# ---------------------------------------------------------------------------


class UnpackDelimUDTF:
    """Schema-polymorphic line unpacker: output columns derive from a
    DDL STRING ARGUMENT at analysis time (``analyze`` static method —
    the Python UDTF feature the fixed-schema ``udtf_lang_runs`` tier
    doesn't touch). The DDL parse must be PURE PYTHON:
    ``StructType.fromDDL`` needs a live SparkContext and ``analyze``
    runs in a side planner process without one (measured
    TABLE_VALUED_FUNCTION_FAILED_TO_ANALYZE_IN_PYTHON →
    SESSION_OR_CONTEXT_NOT_EXISTS), so only the flat
    ``name type, …`` grammar over {bigint, double, string} is
    accepted — exactly what a delimited line can carry."""

    _TYPES = ("bigint", "double", "string")

    @staticmethod
    def _fields(ddl: str) -> "list[tuple[str, str]]":
        out = []
        for part in ddl.split(","):
            name, typ = part.strip().split()
            if typ.lower() not in UnpackDelimUDTF._TYPES:
                raise ValueError(f"unsupported type {typ!r} in UDTF ddl")
            out.append((name, typ.lower()))
        return out

    @staticmethod
    def analyze(line, ddl):
        from pyspark.sql.udtf import AnalyzeResult
        from pyspark.sql.types import (
            DoubleType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        tm = {
            "bigint": LongType(),
            "double": DoubleType(),
            "string": StringType(),
        }
        return AnalyzeResult(
            StructType(
                [
                    StructField(n, tm[t])
                    for n, t in UnpackDelimUDTF._fields(ddl.value)
                ]
            )
        )

    def eval(self, line, ddl):
        casts = {"bigint": int, "double": float, "string": str}
        fs = UnpackDelimUDTF._fields(ddl)
        # maxsplit lets a trailing string field absorb embedded
        # delimiters; anything else (too few parts, or an embedded
        # '|' ahead of a non-string tail) is a hard error — the UDTF
        # is registered session-wide, so silent truncation/misalign
        # would corrupt callers beyond the pipe-free fixture.
        parts = line.split("|", len(fs) - 1)
        if len(parts) != len(fs):
            raise ValueError(
                f"rsqes_unpack_delim: line has {len(parts)} parts, "
                f"ddl declares {len(fs)} fields: {line!r}"
            )
        yield tuple(
            casts[t](p) if p != "" else None
            for p, (_n, t) in zip(parts, fs)
        )


_UDTF_DDL = "c_custkey bigint, c_name string, c_acctbal double"


@register(
    "udtf_polymorphic_unpack",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal FROM customer
    """,
)
def udtf_polymorphic_unpack(spark: SparkSession, sf_dir: str):
    """POLYMORPHIC Python UDTF — the ``analyze()`` static method
    computes the output schema from a (foldable) argument at
    analysis time, so ONE registered function unpacks any flat
    delimited layout the caller declares: customer rows are packed to
    '|'-delimited lines inline and round-tripped back through the
    UDTF with the schema passed as a DDL string. Row-level parity
    against the original table proves the dynamic schema binds types
    correctly AND that doubles survive the string trip (Spark's
    shortest-repr cast → Python ``float`` re-parse — the same
    bit-fidelity contract the CSV DataSource family pins).

    Per-row Python is the cost of this surface — it is the API demo
    and schema-flexibility tier; the Arrow-batch DataSource family is
    the production path for bulk parsing (measured ~3.8× faster,
    BENCH_NOTES r11)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import udtf

    from rs_query_engine_spark.queries import _t
    from rs_query_engine_spark.session import register_once

    register_once(
        spark,
        "rsqes_unpack_delim",
        lambda: spark.udtf.register("rsqes_unpack_delim", udtf(UnpackDelimUDTF)),
    )
    (
        _t(spark, sf_dir, "customer")
        .select(
            F.concat_ws(
                "|",
                F.col("c_custkey").cast("string"),
                F.col("c_name"),
                F.col("c_acctbal").cast("string"),
            ).alias("line")
        )
        .createOrReplaceTempView("rsqes_udtf_lines")
    )
    return spark.sql(
        f"""
        SELECT u.* FROM rsqes_udtf_lines,
        LATERAL rsqes_unpack_delim(line, '{_UDTF_DDL}') u
        """
    )


# ---------------------------------------------------------------------------
# Embedding drift between corpus GENERATIONS, per label
# ---------------------------------------------------------------------------

# Generation B simulates a deterministic re-embedding regression:
# every 5th vector is uniformly scaled by 0.9 (a norm bug — the
# commonest real re-embed failure). Quantization constants follow
# embedding_snapshot_drift: 2^30 for components (exact exponent
# shift), 2^40 for the squared shifts so their cross-dimension sum is
# EXACT integer arithmetic (cross-row double addition would be
# order-dependent).
_EGD_PERT_MOD = 5
_EGD_SCALE = 0.9
_Q30 = 1073741824.0  # 2^30
_Q40 = 1099511627776.0  # 2^40


@register(
    "embedding_generation_drift",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ), x AS (
        SELECT label,
               generate_subscripts(v, 1) - 1 AS dim,
               CAST(FLOOR(unnest(v) * {_Q30}) AS BIGINT) AS xq_a,
               CAST(FLOOR((unnest(v)
                    * CASE WHEN vec_id % {_EGD_PERT_MOD} = 0
                           THEN {_EGD_SCALE} ELSE 1.0 END)
                    * {_Q30}) AS BIGINT) AS xq_b
        FROM e
    ), s AS (
        SELECT label, CAST(dim AS INT) AS dim, COUNT(*) AS n,
               CAST(SUM(xq_a) AS DOUBLE) AS sa,
               CAST(SUM(xq_b) AS DOUBLE) AS sb
        FROM x GROUP BY label, dim
    ), sh AS (
        SELECT label, n,
               sb / {_Q30} / CAST(n AS DOUBLE)
                   - sa / {_Q30} / CAST(n AS DOUBLE) AS shift
        FROM s
    ), q AS (
        SELECT label, n,
               CAST(FLOOR(shift * shift * {_Q40}) AS BIGINT) AS q2
        FROM sh
    )
    SELECT label, MAX(n) AS n_vecs,
           SQRT(CAST(SUM(q2) AS DOUBLE) / {_Q40}) AS l2_centroid_shift
    FROM q GROUP BY label
    """,
)
def embedding_generation_drift(spark: SparkSession, sf_dir: str):
    """Per-LABEL centroid drift between two embedding GENERATIONS —
    the promotion gate for a re-embedding backfill (model upgrade,
    quantization change): generation B deterministically scales every
    {mod}th vector by {scale} (a norm regression), and the L2 shift
    of each label's centroid between generations is the alarm that
    fires before retrieval quality visibly degrades. Closes the loop
    with ``embedding_snapshot_drift`` (which drifts per DIMENSION
    over snapshot halves): this one drifts per GROUP over
    generations, reduced to a single L2 magnitude.

    Float discipline (the snapshot-drift pattern, extended one
    level): components quantize to exact 2^-30 integers BEFORE any
    cross-row sum; the per-dimension mean shift is a fixed float op
    sequence; and the cross-DIMENSION reduction — where a double sum
    would be order-dependent again — quantizes the squared shifts to
    exact 2^-40 integers first, so the only floats in the output are
    a final exact division and one sqrt. Both generations ride ONE
    scan (the perturbation is a projected CASE).

    Scale shape: explode fans map-side, partial aggregation collapses
    to |labels|x|dims| rows before the one shuffle; the label
    reduction reuses nothing corpus-sized."""
    from pyspark.sql import functions as F

    from rs_query_engine_spark.queries import _t

    e = _t(spark, sf_dir, "embeddings")
    factor = F.when(
        F.col("vec_id") % _EGD_PERT_MOD == 0, F.lit(_EGD_SCALE)
    ).otherwise(F.lit(1.0))
    x = e.select(
        "label",
        factor.alias("f"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "xv"
        ),
    ).select(
        "label",
        "dim",
        F.floor(F.col("xv") * F.lit(_Q30)).cast("long").alias("xq_a"),
        F.floor((F.col("xv") * F.col("f")) * F.lit(_Q30))
        .cast("long")
        .alias("xq_b"),
    )
    s = x.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xq_a").cast("double").alias("sa"),
        F.sum("xq_b").cast("double").alias("sb"),
    )
    shift = (
        F.col("sb") / F.lit(_Q30) / F.col("n").cast("double")
        - F.col("sa") / F.lit(_Q30) / F.col("n").cast("double")
    )
    q = s.select(
        "label",
        "n",
        F.floor((shift * shift) * F.lit(_Q40)).cast("long").alias("q2"),
    )
    return q.groupBy("label").agg(
        F.max("n").alias("n_vecs"),
        F.sqrt(F.sum("q2").cast("double") / F.lit(_Q40)).alias(
            "l2_centroid_shift"
        ),
    )


# ---------------------------------------------------------------------------
# Spark 4.x SQL surfaces, continued: GROUP BY ALL / ORDER BY ALL,
# named parameter markers, the IDENTIFIER() clause, EXECUTE IMMEDIATE
# ---------------------------------------------------------------------------


@register(
    "sql_group_by_all",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` + ``ORDER BY ALL`` — the analyst-ergonomics
    SQL surface (every non-aggregate select item becomes a group key,
    then a sort key) over the Q1 aggregation shape. The resolved plan
    is IDENTICAL to the explicit-keys form (one partial+final
    hash aggregate over the pruned scan); the oracle spells the keys
    explicitly to pin that the sugar resolves to exactly them.
    Reference parity: grouped aggregation
    (src/physical_plan/aggr/mod.rs:102-245) reached through Spark's
    dialect sugar instead of a hand-built plan."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "rsqes_gba_lineitem"
    )
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_qty,
               COUNT(*) AS n_rows
        FROM rsqes_gba_lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY ALL
        ORDER BY ALL
        """
    )


# Constants bound through the parameter marker surfaces — shared by
# the Spark calls and (folded) by the oracles so they cannot drift.
_PARAM_DISCOUNT_LO = 0.05
_PARAM_DISCOUNT_HI = 0.07
_PARAM_QTY_MAX = 24.0
_PARAM_SHIP_YEAR = 1995


@register(
    "sql_named_parameters",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(12,2))
                    AS DECIMAL(24,4))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_discount BETWEEN {_PARAM_DISCOUNT_LO} AND {_PARAM_DISCOUNT_HI}
      AND l_quantity < {_PARAM_QTY_MAX}
      AND year(l_shipdate) = {_PARAM_SHIP_YEAR}
    """,
)
def sql_named_parameters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NAMED PARAMETER MARKERS (``spark.sql(sql, args={...})``) — the
    injection-safe way to template a query: the Q6 revenue shape with
    every selectivity constant bound as a ``:name`` parameter instead
    of interpolated text. Parameters are literals to Catalyst, so
    pushdown/pruning and constant folding see them exactly as if they
    were inlined (the scan carries the same PushedFilters) — binding
    is free at 100 TB. The oracle folds the SAME Python constants, so
    the binding path is what's under test."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "rsqes_param_lineitem"
    )
    return spark.sql(
        """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST(l_discount AS DECIMAL(12,2))
                        AS DECIMAL(24,4))) AS DOUBLE) AS revenue
        FROM rsqes_param_lineitem
        WHERE l_discount BETWEEN :lo AND :hi
          AND l_quantity < :qty
          AND year(l_shipdate) = :yr
        """,
        args={
            "lo": _PARAM_DISCOUNT_LO,
            "hi": _PARAM_DISCOUNT_HI,
            "qty": _PARAM_QTY_MAX,
            "yr": _PARAM_SHIP_YEAR,
        },
    )


@register(
    "sql_identifier_clause",
    oracle="""
    SELECT c_mktsegment AS seg,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
               AS sum_bal
    FROM customer GROUP BY c_mktsegment
    """,
)
def sql_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``IDENTIFIER()`` clause — parameterized TABLE and COLUMN
    names without string interpolation: one templated aggregation is
    bound to (table=customer, group column=c_mktsegment, sum
    column=c_acctbal) entirely through parameters. This is the safe
    form of the metadata-driven query generator every warehouse grows
    (profile-every-table, sum-every-measure): identifiers resolve at
    analysis time, so the plan is byte-identical to the hand-written
    query — no dynamic-SQL escaping, no injection surface."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView(
        "rsqes_ident_customer"
    )
    return spark.sql(
        """
        SELECT IDENTIFIER(:gcol) AS seg,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(IDENTIFIER(:scol) AS DECIMAL(12,2)))
                    AS DOUBLE) AS sum_bal
        FROM IDENTIFIER(:tbl) GROUP BY IDENTIFIER(:gcol)
        """,
        args={
            "tbl": "rsqes_ident_customer",
            "gcol": "c_mktsegment",
            "scol": "c_acctbal",
        },
    )


_EXEC_IMM_BAL_MIN = 1000.0


@register(
    "sql_execute_immediate",
    oracle=f"""
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_rich
    FROM customer WHERE c_acctbal > {_EXEC_IMM_BAL_MIN}
    GROUP BY c_nationkey
    """,
)
def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``EXECUTE IMMEDIATE ... USING`` — SQL-side dynamic SQL: the
    query text arrives as a string expression (here a session
    variable, the documented pairing) and positional ``?`` markers
    bind values at execution. This is the stored-procedure-migration
    surface (Teradata/Oracle dynamic SQL): the inner text goes
    through the full parser/analyzer, so the executed plan is the
    same pruned scan + aggregate as the static form the oracle
    states."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView(
        "rsqes_execimm_customer"
    )
    spark.sql("DECLARE OR REPLACE VARIABLE rsqes_execimm_sql STRING")
    spark.sql(
        """SET VAR rsqes_execimm_sql =
        'SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_rich
         FROM rsqes_execimm_customer WHERE c_acctbal > ?
         GROUP BY c_nationkey'"""
    )
    return spark.sql(
        "EXECUTE IMMEDIATE rsqes_execimm_sql USING :bal",
        args={"bal": _EXEC_IMM_BAL_MIN},
    )


# ---------------------------------------------------------------------------
# Arrow-native Python compute: mapInArrow + groupBy().applyInArrow
# ---------------------------------------------------------------------------

_ARROW_CENTS = 100  # exact integer-cents quantization (2 decimals)


@register(
    "udf_map_in_arrow",
    oracle=f"""
    WITH q AS (
        SELECT l_returnflag,
               CAST(FLOOR(l_extendedprice * {_ARROW_CENTS}) AS BIGINT)
                   AS price_cents,
               CAST(FLOOR(l_discount * {_ARROW_CENTS}) AS BIGINT)
                   AS disc_cents
        FROM lineitem
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(price_cents) AS BIGINT) AS sum_price_cents,
           CAST(SUM(disc_cents) AS BIGINT) AS sum_disc_cents
    FROM q GROUP BY l_returnflag
    """,
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` — the zero-copy tier BELOW pandas UDFs: the
    Python function receives raw ``pyarrow.RecordBatch``es and runs
    vectorized ``pyarrow.compute`` kernels with no pandas
    materialization (no index building, no object boxing for
    strings — the pandas layer's overhead on wide batches). Here the
    per-row map quantizes prices to exact integer cents executor-side
    in Arrow; Spark's own partial+final hash aggregate does the
    cross-row reduction, so the Python stage stays embarrassingly
    map-only — the 100-TB shape for custom columnar compute
    (feature extraction, codec shims) that built-ins can't express
    but that must never force a pandas copy.

    Float discipline: FLOOR(double * 100) per row is one IEEE
    multiply + one floor — bit-identical in Arrow, Spark, and DuckDB;
    every cross-row sum is int64."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def quantize(batches):
        for b in batches:
            t = pa.Table.from_batches([b])
            price = pc.cast(
                pc.floor(pc.multiply(t.column("l_extendedprice"),
                                     float(_ARROW_CENTS))),
                pa.int64(),
            )
            disc = pc.cast(
                pc.floor(pc.multiply(t.column("l_discount"),
                                     float(_ARROW_CENTS))),
                pa.int64(),
            )
            out = pa.table(
                {
                    "l_returnflag": t.column("l_returnflag"),
                    "price_cents": price,
                    "disc_cents": disc,
                }
            )
            for ob in out.to_batches():
                yield ob

    mapped = (
        _t(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_extendedprice", "l_discount")
        .mapInArrow(
            quantize,
            "l_returnflag string, price_cents long, disc_cents long",
        )
    )
    return mapped.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("price_cents").alias("sum_price_cents"),
        F.sum("disc_cents").alias("sum_disc_cents"),
    )


@register(
    "udf_apply_in_arrow",
    oracle=f"""
    WITH q AS (
        SELECT c_nationkey,
               CAST(FLOOR(c_acctbal * {_ARROW_CENTS}) AS BIGINT)
                   AS bal_cents
        FROM customer
    )
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(bal_cents) AS BIGINT) AS sum_bal_cents,
           CAST(MIN(bal_cents) AS BIGINT) AS min_bal_cents,
           CAST(MAX(bal_cents) AS BIGINT) AS max_bal_cents
    FROM q GROUP BY c_nationkey
    """,
)
def udf_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``groupBy().applyInArrow`` — whole-group custom aggregation in
    raw Arrow (the split-apply-combine twin of ``udf_map_in_arrow``;
    the pandas-free counterpart of ``udf_grouped_apply``): each
    nation's customers arrive as ONE ``pyarrow.Table`` and the
    function reduces it with ``pyarrow.compute`` kernels. Output
    arrays are built with explicit ``pa.array(..., type=...)`` — the
    API binds output columns positionally against the declared
    schema and does NOT coerce widths (int64 vs int32 is a hard
    executor error, measured), which is the contract this query
    pins.

    Scale shape: one hash shuffle on the group key, then map-side
    Arrow reduction per group; group payload must fit an executor
    (same contract as applyInPandas). All reductions are exact int64
    on quantized cents."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def reduce_group(t: "pa.Table") -> "pa.Table":
        cents = pc.cast(
            pc.floor(pc.multiply(t.column("c_acctbal"),
                                 float(_ARROW_CENTS))),
            pa.int64(),
        )
        return pa.table(
            {
                "c_nationkey": pa.array(
                    [t.column("c_nationkey")[0].as_py()], type=pa.int32()
                ),
                "n_cust": pa.array([t.num_rows], type=pa.int64()),
                "sum_bal_cents": pa.array(
                    [pc.sum(cents).as_py()], type=pa.int64()
                ),
                "min_bal_cents": pa.array(
                    [pc.min(cents).as_py()], type=pa.int64()
                ),
                "max_bal_cents": pa.array(
                    [pc.max(cents).as_py()], type=pa.int64()
                ),
            }
        )

    return (
        _t(spark, sf_dir, "customer")
        .select("c_nationkey", "c_acctbal")
        .groupBy("c_nationkey")
        .applyInArrow(
            reduce_group,
            "c_nationkey int, n_cust long, sum_bal_cents long, "
            "min_bal_cents long, max_bal_cents long",
        )
    )


# ---------------------------------------------------------------------------
# Native XML source (Spark 4 ships spark-xml in-core), the
# deterministic rate-micro-batch source, and the foreachBatch upsert
# sink — the remaining source/sink API surfaces
# ---------------------------------------------------------------------------

_XML_SCHEMA = (
    "c_custkey bigint, c_name string, c_nationkey int, "
    "c_acctbal double, c_mktsegment string"
)


@register(
    "source_xml_roundtrip",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer WHERE c_acctbal > 0
    """,
)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML end-to-end — Spark 4 ships the former spark-xml
    package in-core, completing the text-format family (CSV, JSON,
    XML): the customer table is materialized as row-tagged XML once
    per corpus generation (the mtime+size-keyed atomic install every
    table copy uses), read back with an EXPLICIT schema (XML
    inference is a whole extra scan — never at 100 TB), filtered,
    and compared against the parquet original. What the trip must
    preserve: entity escaping (&, <, > in strings), int64 width, and
    double round-trip fidelity (Java shortest-repr serialize →
    exact re-parse — the CSV family's contract, now pinned for the
    XML writer/parser pair too)."""
    import os

    from rs_query_engine_spark.sources.artifacts import ensure_artifact

    src = os.path.join(os.path.abspath(sf_dir), "customer.parquet")

    def write(tmp: str) -> None:
        (
            _t(spark, sf_dir, "customer")
            .coalesce(2)
            .write.format("xml")
            .option("rootTag", "customers")
            .option("rowTag", "customer")
            .save(os.path.join(tmp, "customer_xml"))
        )

    root = ensure_artifact(
        src, "xmlcust", "files=2|rowTag=customer", ("customer_xml/_SUCCESS",), write
    )
    path = os.path.join(root, "customer_xml")

    xdf = (
        spark.read.format("xml")
        .schema(_XML_SCHEMA)
        .option("rowTag", "customer")
        .load(path)
    )
    return xdf.filter(F.col("c_acctbal") > 0).select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )


_RATE_ROWS_PER_BATCH = 600
_RATE_PARTITIONS = 8


@register(
    "source_rate_micro_batch",
    oracle=f"""
    WITH r AS (
        SELECT CAST(range AS BIGINT) AS value,
               CAST('1970-01-01 00:00:00' AS TIMESTAMP) AS ts
        FROM range({_RATE_ROWS_PER_BATCH})
    )
    SELECT CAST(value % 7 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(value) AS BIGINT) AS sum_value,
           MIN(ts) AS min_ts
    FROM r GROUP BY value % 7
    """,
)
def source_rate_micro_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``rate-micro-batch`` source — the DETERMINISTIC load
    generator (unlike plain ``rate``, which derives batch contents
    from wall-clock time): with ``startTimestamp`` pinned and
    ``advanceMillisPerBatch`` fixed, batch N always carries the same
    (timestamp, value) rows, which is what makes a replayed load test
    assertable at all. One availableNow drain yields exactly
    ``rowsPerBatch`` rows — values 0..N-1 spread round-robin over
    ``numPartitions``, timestamps all at the pinned epoch — and the
    oracle states that contract from DuckDB's ``range``. At scale
    this source is the backpressure/benchmark harness for sizing a
    stateful pipeline before real traffic hits it.

    Drain contract: an unbounded source can NEVER go through
    ``processAllAvailable`` (there is always another batch — it
    would spin forever, measured); ``trigger(availableNow=True)``
    snapshots the available offset at start and terminates — the
    bounded-drain idiom every production rate/Kafka replay uses."""
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", _RATE_ROWS_PER_BATCH)
        .option("numPartitions", _RATE_PARTITIONS)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 1000)
        .load()
    )
    agg = (
        stream.select(
            F.col("value"),
            F.col("timestamp").cast("timestamp_ntz").alias("ts"),
        )
        .groupBy((F.col("value") % 7).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_value"),
            F.min("ts").alias("min_ts"),
        )
    )
    from rs_query_engine_spark.streaming.events import run_stream_to_memory

    return run_stream_to_memory(
        agg,
        "source_rate_micro_batch",
        output_mode="complete",
        available_now=True,
        # state_partitions=2 (r19, guide §2.2/§5): the complete-mode agg
        # holds 7 bucket rows — per-batch store-commit cost dominates at
        # 8 partitions. Identity-checked at 3 SFs.
        state_partitions=2,
    )


@register(
    "stream_foreach_batch_upsert",
    oracle="""
    SELECT user_id,
           ts AS last_ts,
           event_id AS last_event_id,
           event_type AS last_event_type,
           value AS last_value
    FROM (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
               event_type, value,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def stream_foreach_batch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``foreachBatch`` — THE production streaming-upsert pattern:
    sinks without native merge (parquet, JDBC, object stores) get
    exactly-once-ish upserts by letting each micro-batch run an
    arbitrary BATCH job keyed by ``batch_id``. Here the 4-file late
    feed replays one file per trigger, and every batch merges
    latest-event-per-user into a VERSIONED parquet target: read
    version N-1, union the batch, keep the (max ts, max event_id)
    row per user, write version N. Versioned dirs + the checkpoint
    make the write idempotent — a restart (second invocation reuses
    the checkpoint) finds no new batches and rewrites nothing, which
    is the restart leg under test. The final state is pure SQL: the
    argmax row per user over the whole feed, regardless of arrival
    order — late rows lose to newer event times even though they
    arrive later (contrast with the watermark queries, where arrival
    order decides admission; foreachBatch sees RAW batch content, no
    watermark filter — also under test).

    Scale shape: each merge is one key-shuffle window argmax over
    target ∪ batch (with the target bucketed by user_id it is
    shuffle-free on that side); nothing collects to the driver. The
    versioned-dir swap is what Delta/Iceberg MERGE does with
    manifests — spelled out here on plain parquet."""
    import os

    from rs_query_engine_spark.sources.artifacts import scratch_dir
    from rs_query_engine_spark.sources.corpus import normalize_events_ts
    from rs_query_engine_spark.streaming.events import drain, ensure_late_feed

    feed = ensure_late_feed(spark, sf_dir)
    schema = spark.read.parquet(feed).schema
    # a per-session dir: the restart leg needs a fresh checkpoint per
    # session, and earlier sessions' dirs are swept (ADVICE r13)
    base = scratch_dir(spark, "fbupsert", feed, fresh=False)
    ck = os.path.join(base, "ck")
    vdir = os.path.join(base, "versions")
    os.makedirs(vdir, exist_ok=True)

    from pyspark.sql import Window

    def latest_per_user(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    def current_version() -> "int | None":
        vs = [
            int(d[1:])
            for d in os.listdir(vdir)
            if d.startswith("v") and d[1:].isdigit()
            and os.path.exists(os.path.join(vdir, d, "_SUCCESS"))
        ]
        return max(vs) if vs else None

    def merge_batch(bdf: DataFrame, batch_id: int) -> None:
        cur = current_version()
        sess = bdf.sparkSession
        merged = bdf
        if cur is not None:
            prev = sess.read.parquet(os.path.join(vdir, f"v{cur}"))
            merged = prev.unionByName(bdf)
        out = latest_per_user(merged)
        out.write.mode("overwrite").parquet(
            os.path.join(vdir, f"v{batch_id}")
        )

    def run_once() -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        drain(
            spark,
            stream.writeStream.foreachBatch(merge_batch).option(
                "checkpointLocation", ck
            ),
            available_now=True,
        )

    run_once()
    run_once()  # restart, same checkpoint: no new batches, no writes

    # Superseded versions exist only to feed the next merge; with the
    # stream drained, only the final version is ever read again —
    # prune the rest so each session leaves one version, not four
    # (ADVICE r13). The returned DataFrame lazily scans the kept dir.
    import shutil

    cur = current_version()
    for d in os.listdir(vdir):
        if d.startswith("v") and d != f"v{cur}":
            shutil.rmtree(os.path.join(vdir, d), ignore_errors=True)

    final = spark.read.parquet(os.path.join(vdir, f"v{cur}"))
    final = normalize_events_ts(final)
    return final.select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


# ---------------------------------------------------------------------------
# Crawl-pipeline ops: URL canonicalization dedup + code-vs-prose
# detection
# ---------------------------------------------------------------------------

# Deterministic URL synthesis: the documents table carries no URL, so
# one is derived from (source, doc_id) with the two commonest
# canonicalization hazards baked in — a mixed-case host and tracking
# params interleaved with real ones. Same constants feed the Spark
# code and the oracle.
_URL_PATH_MOD = 50
_URL_ID_MOD = 20


@register(
    "dedup_url_canonicalize",
    oracle=f"""
    WITH u AS (
        SELECT doc_id,
               'https://' ||
               CASE WHEN doc_id % 3 = 0 THEN upper(source)
                    ELSE source END ||
               '.example.com/page/' ||
               CAST(doc_id % {_URL_PATH_MOD} AS VARCHAR) ||
               '?utm_source=feed&id=' ||
               CAST(doc_id % {_URL_ID_MOD} AS VARCHAR) ||
               '&utm_campaign=x' AS url,
               source
        FROM documents
    ),
    c AS (
        SELECT doc_id, source,
               lower(split_part(split_part(url, '://', 2), '/', 1))
                   || '/page/' ||
               CAST(doc_id % {_URL_PATH_MOD} AS VARCHAR) ||
               '?id=' || CAST(doc_id % {_URL_ID_MOD} AS VARCHAR)
                   AS canonical_url
        FROM u
    )
    SELECT canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id
    FROM c GROUP BY canonical_url HAVING COUNT(*) > 1
    """,
)
def dedup_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the crawl pipeline's FIRST dedup
    tier, upstream of any content hashing: the same page arrives
    under host-case variants and tracking-parameter noise
    (utm_*), and canonicalizing the URL collapses them without
    touching the (expensive) text. Spark side uses the built-in
    ``parse_url`` to decompose (HOST lowercased, PATH kept,
    QUERY re-built with tracking params dropped and real params
    kept), then an exact groupBy on the canonical form keeps the
    lowest doc_id per cluster — min-keep, the same survivorship rule
    as dedup_exact. The oracle rebuilds the same canonical string
    with plain string ops, so what's pinned is that parse_url's
    decomposition agrees with the string-level ground truth.

    Scale shape: canonicalization is map-only expression work on the
    URL column alone (never the text); the dedup is one hash
    shuffle on the canonical key with map-side partial counts —
    the cheapest possible first pass over a 100-TB crawl."""
    u = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.concat(
            F.lit("https://"),
            F.when(
                F.col("doc_id") % 3 == 0, F.upper(F.col("source"))
            ).otherwise(F.col("source")),
            F.lit(".example.com/page/"),
            (F.col("doc_id") % _URL_PATH_MOD).cast("string"),
            F.lit("?utm_source=feed&id="),
            (F.col("doc_id") % _URL_ID_MOD).cast("string"),
            F.lit("&utm_campaign=x"),
        ).alias("url"),
    )
    host = F.lower(F.parse_url(F.col("url"), F.lit("HOST")))
    path = F.parse_url(F.col("url"), F.lit("PATH"))
    query = F.parse_url(F.col("url"), F.lit("QUERY"))
    # keep only non-tracking params, preserving their order
    kept = F.array_join(
        F.filter(
            F.split(query, "&"),
            lambda p: ~p.startswith("utm_"),
        ),
        "&",
    )
    c = u.select(
        "doc_id",
        F.concat(host, path, F.lit("?"), kept).alias("canonical_url"),
    )
    return (
        c.groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


# Code-vs-prose detection thresholds — folded into both sides.
_CODE_SYM_PCT_MIN = 3.0  # symbol chars per 100 chars
_CODE_AVG_LINE_MAX = 60.0  # code lines are short


@register(
    "text_code_detect",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, lang,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(length(text) - length(replace(replace(replace(replace(
                    replace(replace(text, '{{', ''), '}}', ''), ';', ''),
                    '=', ''), '(', ''), ')', '')) AS BIGINT) AS n_sym,
               CAST(length(text) - length(replace(text, chr(10), ''))
                    + 1 AS BIGINT) AS n_lines
        FROM documents WHERE length(text) > 0
    ),
    m AS (
        SELECT doc_id, lang, n_chars, n_sym, n_lines,
               CAST(n_sym AS DOUBLE) * 100.0 / CAST(n_chars AS DOUBLE)
                   AS sym_pct,
               CAST(n_chars AS DOUBLE) / CAST(n_lines AS DOUBLE)
                   AS avg_line_len
        FROM s
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN sym_pct >= {_CODE_SYM_PCT_MIN}
                          AND avg_line_len <= {_CODE_AVG_LINE_MAX}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_code,
           CAST(SUM(n_sym) AS BIGINT) AS total_sym
    FROM m GROUP BY lang
    """,
)
def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detection — the training-mixture gate that
    routes documents to a code pipeline (different tokenizer,
    different quality rules) or keeps them out of a prose-only mix:
    a document is 'code' when its symbol density ({{}};=() per 100
    chars) clears a threshold AND its average line length is short
    (code wraps hard; prose paragraphs don't). Both features are
    exact integer counts computed with built-in string expressions —
    no UDF, no regex backtracking — and the only doubles are two
    per-row ratios compared against folded constants, so the
    classification is bit-deterministic cross-engine.

    Scale shape: map-only feature extraction + one partial-agg
    shuffle on lang; at 100 TB this is the same single-pass shape as
    text_quality_score, and the two share a scan when composed."""
    d = _t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    strip = F.col("text")
    for ch in ("{", "}", ";", "=", "(", ")"):
        strip = F.replace(strip, F.lit(ch), F.lit(""))
    s = d.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars"),
        (F.length("text") - F.length(strip)).alias("n_sym"),
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit("\n"), F.lit("")))
            + F.lit(1)
        ).alias("n_lines"),
    )
    m = s.select(
        "lang",
        "n_sym",
        (F.col("n_sym").cast("double") * 100.0 / F.col("n_chars").cast("double")).alias("sym_pct"),
        (F.col("n_chars").cast("double") / F.col("n_lines").cast("double")).alias("avg_line_len"),
    )
    return m.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(
                (F.col("sym_pct") >= _CODE_SYM_PCT_MIN)
                & (F.col("avg_line_len") <= _CODE_AVG_LINE_MAX),
                1,
            ).otherwise(0)
        ).alias("n_code"),
        F.sum("n_sym").alias("total_sym"),
    )


# ---------------------------------------------------------------------------
# Join-strategy hint surface + exact per-group OLS trend
# ---------------------------------------------------------------------------


@register(
    "join_shuffle_hash_hint",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               AS sum_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def join_shuffle_hash_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SHUFFLE_HASH join hint — the strategy tier between
    broadcast (needs a small side) and sort-merge (Spark's default
    for two large sides): when one side fits a per-task hash table
    but not a broadcast, hash-joining after the shuffle skips BOTH
    sort passes. orders⋈customer is exactly that shape — customer is
    ~10x smaller than orders but grows linearly with SF, so at 100 TB
    it outlives broadcastability while still hashing per-task. The
    hint is advisory-but-honored here (plan-pinned: ShuffledHashJoin,
    no Sort below the join — tests/unit/test_plan_properties.py);
    values are identical to the sort-merge plan, which is what the
    oracle checks."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").hint("SHUFFLE_HASH")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("sum_price"),
        )
    )


@register(
    "agg_regression_trend",
    oracle="""
    WITH d AS (
        SELECT event_type,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                   AS x,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM d GROUP BY event_type
    )
    SELECT event_type, n AS n_days,
           CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE)
               AS slope_per_day
    FROM s
    """,
)
def agg_regression_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS TREND, decimal-exact to the last float op — the
    volume-forecast primitive (is this event type growing, and how
    fast?): daily counts per event_type, then the least-squares slope
    of count against epoch-day. Spark ships regr_slope, but its
    internal running-moment accumulation is cross-row double
    arithmetic — order-dependent, so never hash-stable cross-engine.
    This form keeps every moment (n, Σx, Σy, Σxy, Σx²) an exact
    int64 (epoch-days and counts are integers; the products fit
    comfortably) and spends exactly ONE float operation — the final
    division of two exactly-computed bigints — making the slope
    bit-identical on any engine and any row order. The denominator
    n·Σx² − (Σx)² is zero exactly when a group has a single distinct
    day (ADVICE r13): NULLIF on both sides turns that degenerate
    group into a NULL slope instead of an ANSI DIVIDE_BY_ZERO.

    Scale shape: two cascaded partial-agg shuffles (day grain, then
    group grain), the second over |types|×|days| rows — nothing
    corpus-sized moves twice. The same moment columns extend to
    intercept/R² for free."""
    ev = _t(spark, sf_dir, "events")
    d = (
        ev.select(
            "event_type",
            F.datediff(
                F.to_date("ts"), F.lit("1970-01-01").cast("date")
            ).cast("long").alias("x"),
        )
        .groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    s = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return s.select(
        "event_type",
        F.col("n").alias("n_days"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / F.nullif(
                F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"),
                F.lit(0),
            ).cast("double")
        ).alias("slope_per_day"),
    )
