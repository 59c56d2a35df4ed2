"""Queries added in round 14 (live since round 16).

15 queries, all with exact oracles:

- 3 round-13 seeds: ``source_binary_files`` (whole-file binary
  ingestion, sort hardened per ADVICE r13),
  ``scalar_try_ansi_family``, ``quality_embedding_coverage``.
- Aggregate surfaces: ``agg_listagg_ordered`` (Spark 4 listagg
  WITHIN GROUP, plain + DISTINCT), ``agg_conditional_family``
  (FILTER clause / count_if / bool_and / bool_or / composite-key
  max_by-min_by), ``agg_bitwise_family`` (bit_and/or/xor +
  bit_count).
- String/SQL semantics: ``string_collation_groupby`` (Spark 4
  UTF8_LCASE collated grouping + comparison),
  ``string_url_parse_family`` (parse_url/url_decode vs a
  reconstruction oracle), ``join_not_in_null_semantics`` (NOT IN vs
  NOT EXISTS under a NULL probe — the three-valued-logic pin).
- Pipeline ops: ``quality_winsorize_clip`` (exact discrete-percentile
  clipping, integer rank positions), ``quality_simpson_index``
  (exact-rational diversity — the hash-stable alternative to
  entropy), ``text_collocation_pmi_rank`` (PMI-monotone exact odds
  ratio), ``events_cumdev_changepoint`` (scaled-CUSUM argmax in pure
  int64).
- Sources/sinks: ``source_csv_quoted_multiline`` (RFC4180 quoted
  newlines, multiLine parse), ``source_python_stream_writer``
  (DataSourceStreamWriter — the pure-Python format family's last
  surface).

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
# binaryFile source — whole-file ingestion with content fingerprints
# ---------------------------------------------------------------------------
# Avro probe (round 13, measured): `write.format("avro")` fails with
# "Failed to find data source: avro ... external data source module
# since Spark 2.4" — the pip pyspark image does not bundle
# spark-avro and the container has no package download, so the Avro
# surface is BLOCKED. Do not re-probe unless the jar appears.


@register(
    "source_binary_files",
    oracle="""
    WITH lines AS (
        SELECT lang,
               string_agg(CAST(doc_id AS VARCHAR) || ','
                          || CAST(n_chars AS VARCHAR),
                          chr(10) ORDER BY doc_id) || chr(10) AS body
        FROM documents GROUP BY lang
    )
    SELECT lang,
           CAST(octet_length(CAST(body AS BLOB)) AS BIGINT) AS n_bytes,
           md5(body) AS content_md5
    FROM lines
    """,
)
def source_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``binaryFile`` source — whole-file ingestion (the format
    multimodal lakes use for images/audio and ops tooling uses for
    manifest audits): one deterministic CSV file per language is
    materialized once per corpus generation (integer-only content,
    rows sorted by doc_id — byte-exact serialization both engines can
    state), then read back as OPAQUE BINARY and fingerprinted
    (length + md5 over raw bytes, lang recovered from the
    partitioned path). The oracle reconstructs each file's exact
    bytes with string_agg and fingerprints them in SQL — pinning
    that Spark's whole-file read is byte-faithful end-to-end.

    Determinism note (why this layout): a per-FILE result is only
    oracle-able if file contents are content-deterministic, so the
    fixture repartitions by lang (each lang's rows land in ONE task)
    and sorts within partitions — partitionBy then emits exactly one
    sorted file per lang regardless of cluster size. modificationTime
    is never selected (wall-clock). 100-TB shape: binaryFile scans
    parallelize per file; the projection carries (path, length,
    content) only as far as the map-side fingerprint — nothing
    byte-sized crosses a shuffle."""
    import os

    from rs_query_engine_spark.sources.artifacts import ensure_artifact

    src = os.path.join(os.path.abspath(sf_dir), "documents.parquet")

    def write(tmp: str) -> None:
        # The sort is the LAST node before the write and orders by
        # (lang, doc_id-recomputed-from-value), so the writer's
        # required ordering on the partition column is satisfied
        # by the sort itself — no reliance on outputOrdering
        # propagating through a later projection (ADVICE r13: that
        # propagation is an implementation detail a Spark upgrade
        # could drop, silently letting FileFormatWriter insert its
        # own non-stable sort and scramble the file bytes).
        (
            _t(spark, sf_dir, "documents")
            .select(
                "lang",
                F.concat_ws(
                    ",",
                    F.col("doc_id").cast("string"),
                    F.col("n_chars").cast("string"),
                ).alias("value"),
            )
            .repartition(F.col("lang"))
            .sortWithinPartitions(
                F.col("lang"),
                F.split(F.col("value"), ",").getItem(0).cast("long"),
            )
            .write.partitionBy("lang")
            .text(os.path.join(tmp, "byte_files"))
        )
        # Byte-exactness also needs each lang's rows in ONE file
        # (repartition-by-lang guarantees one task per lang, hence
        # one file) — assert it so a layout drift fails the
        # install loudly instead of hash-mismatching downstream.
        out = os.path.join(tmp, "byte_files")
        for d in os.listdir(out):
            if not d.startswith("lang="):
                continue
            n = len([
                f for f in os.listdir(os.path.join(out, d))
                if f.endswith(".txt")
            ])
            if n != 1:
                raise AssertionError(
                    f"binaryFile fixture: {d} has {n} data files,"
                    " expected exactly 1"
                )

    # v2: sort moved after the projection (ADVICE r13) — same bytes,
    # re-keyed so cached v1 fixtures rebuild through the hardened path.
    root = ensure_artifact(
        src,
        "binfiles",
        "layout=lang_csv_sorted_v2",
        ("byte_files/_SUCCESS",),
        write,
    )
    path = os.path.join(root, "byte_files")

    b = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(path)
    )
    return b.select(
        F.regexp_extract(F.col("path"), r"lang=([^/]+)/", 1).alias("lang"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


# ---------------------------------------------------------------------------
# ANSI-mode error-safe expression family (try_divide / try_cast /
# try_add) — Spark 4 ships with spark.sql.ansi.enabled=true, so the
# try_* forms ARE the production spelling of fallible arithmetic
# ---------------------------------------------------------------------------

_TRY_DIV_MOD = 7  # every 7th order gets a zero denominator
_TRY_POISON_MOD = 101  # every 101st order carries the poisoned cell


@register(
    "scalar_try_ansi_family",
    oracle=f"""
    WITH t AS (
        SELECT o_orderstatus,
               CASE WHEN o_orderkey % {_TRY_DIV_MOD} = 0 THEN NULL
                    ELSE CAST(FLOOR(o_totalprice
                         / CAST(o_orderkey % {_TRY_DIV_MOD} AS DOUBLE)
                         * 100) AS BIGINT) END AS q_cents,
               CASE WHEN o_orderkey % {_TRY_POISON_MOD} = 0 THEN NULL
                    ELSE CAST(substring(o_orderpriority, 1, 1)
                              AS INTEGER) END AS prio_raw,
               TRY_CAST(substring(o_orderpriority, 1, 1) AS INTEGER)
                   AS prio_num,
               CASE WHEN o_orderkey % {_TRY_POISON_MOD} = 0
                         AND o_orderkey > 0
                    THEN NULL
                    ELSE 9223372036854775807
                         + (CASE WHEN o_orderkey % {_TRY_POISON_MOD} = 0
                                 THEN o_orderkey
                                 ELSE -o_orderkey END) END AS overflowed
        FROM orders
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(q_cents) AS BIGINT) AS n_div_ok,
           CAST(SUM(q_cents) AS BIGINT) AS sum_q_cents,
           CAST(COUNT(prio_raw) AS BIGINT) AS n_prio_raw_ok,
           CAST(SUM(prio_num) AS BIGINT) AS sum_prio,
           CAST(COUNT(overflowed) AS BIGINT) AS n_overflow_ok
    FROM t GROUP BY o_orderstatus
    """,
)
def scalar_try_ansi_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The error-safe ``try_*`` expression family under ANSI mode —
    Spark 4 enables ``spark.sql.ansi.enabled`` by default (this
    session runs with it on), so plain division by zero, an invalid
    cast, or bigint overflow now RAISES mid-job; ``try_divide`` /
    ``try_cast`` / ``try_add`` are the row-level quarantine that
    keeps one poisoned row from killing a 100-TB pass. Three
    measured semantics pinned against ground truth the oracle states
    independently: division by a zero denominator → NULL (every
    {mod}th order), a non-numeric string cast → NULL while the
    digit-prefix cast succeeds (the full priority string is fed to
    try_cast only on every {poison}th order), and ``try_add`` at
    int64 max → NULL on overflow (only the positive poisoned-row
    orderkeys overflow; the corpus's one ZERO orderkey lands on the
    poisoned branch with addend 0 and does NOT — the oracle states
    that boundary, which is exactly the off-by-one an overflow guard
    must get right).

    Poison is deliberately RARE (~1%, the quarantine scenario this
    family exists for): Spark implements every try_* miss as a
    caught JVM exception, so a column where EVERY row fails pays
    exception-unwind per row — measured round 16 at sf0.1, the
    all-rows-poisoned spelling of this query cost 4.3 s in try_add
    + 1.8 s in try_cast alone (~6 s total vs ~0.5 s now, BENCH_NOTES
    r16). At 100 TB an all-poisoned column is an upstream design
    bug, not a quarantine case; the rare-poison spelling is the
    scale-correct one and the pins are unchanged.

    Float discipline: the only double op chain is
    price / k * 100 → FLOOR, written in the same order on both
    sides; every aggregate is an exact int64 count/sum."""
    o = _t(spark, sf_dir, "orders")
    t = o.select(
        "o_orderstatus",
        F.floor(
            F.try_divide(
                F.col("o_totalprice"),
                (F.col("o_orderkey") % _TRY_DIV_MOD).cast("double"),
            )
            * 100
        )
        .cast("bigint")
        .alias("q_cents"),
        F.when(
            F.col("o_orderkey") % _TRY_POISON_MOD == 0,
            F.col("o_orderpriority"),
        )
        .otherwise(F.col("o_orderpriority").substr(1, 1))
        .try_cast("int")
        .alias("prio_raw"),
        F.col("o_orderpriority")
        .substr(1, 1)
        .try_cast("int")
        .alias("prio_num"),
        F.try_add(
            F.lit(9223372036854775807).cast("bigint"),
            F.when(
                F.col("o_orderkey") % _TRY_POISON_MOD == 0,
                F.col("o_orderkey"),
            ).otherwise(-F.col("o_orderkey")),
        ).alias("overflowed"),
    )
    return t.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("q_cents").alias("n_div_ok"),
        F.sum("q_cents").alias("sum_q_cents"),
        F.count("prio_raw").alias("n_prio_raw_ok"),
        F.sum("prio_num").alias("sum_prio"),
        F.count("overflowed").alias("n_overflow_ok"),
    )


# ---------------------------------------------------------------------------
# Embedding-store referential coverage (backfill planning / orphan GC)
# ---------------------------------------------------------------------------

# Deterministic desync between the corpus and its embedding store —
# the two failure directions a real pipeline accumulates: every 11th
# embedding is MISSING (a re-embed backlog), and every 13th document
# is DELETED from the corpus (takedowns) leaving its embedding
# orphaned. One modulus per direction; both fold into the oracle.
_COV_MISS_MOD = 11  # embeddings absent for doc_id % 11 == 0
_COV_DEL_MOD = 13  # corpus rows absent for doc_id % 13 == 0


@register(
    "quality_embedding_coverage",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, source FROM documents
        WHERE doc_id % {_COV_DEL_MOD} <> 0
    ),
    emb AS (
        SELECT vec_id FROM embeddings
        WHERE vec_id % {_COV_MISS_MOD} <> 0
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(e.vec_id) AS BIGINT) AS n_embedded,
           CAST(COUNT(*) - COUNT(e.vec_id) AS BIGINT) AS n_backfill,
           CAST(SUM(CASE WHEN e.vec_id IS NULL THEN d.doc_id
                         ELSE 0 END) AS BIGINT) AS backfill_key_sum,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM emb
            LEFT JOIN docs dd ON emb.vec_id = dd.doc_id
            WHERE dd.doc_id IS NULL) AS n_orphans_total
    FROM docs d LEFT JOIN emb e ON d.doc_id = e.vec_id
    GROUP BY d.source
    """,
)
def quality_embedding_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-store REFERENTIAL COVERAGE — the sync audit every
    retrieval pipeline runs before trusting its index: which corpus
    documents have no embedding (the re-embed BACKFILL, with the
    exact key-sum so the backfill job is verifiable), and how many
    embeddings point at documents that no longer exist (ORPHANS —
    storage the takedown sweep must GC, and retrieval results that
    would surface deleted content). Desync is simulated
    deterministically in both directions (one modulus each) so the
    oracle states the expected audit independently.

    Scale shape: two anti-join-shaped passes expressed as ONE left
    join per direction on the key — at 100 TB each is a single key
    shuffle (shuffle-free with both tables bucketed by key), and
    only (key, source) columns move — never text, never vectors.
    The orphan total rides the same plan as a scalar subquery."""
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % _COV_DEL_MOD != 0)
        .select("doc_id", "source")
    )
    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % _COV_MISS_MOD != 0)
        .select("vec_id")
    )
    cov = (
        docs.join(emb, docs.doc_id == emb.vec_id, "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("vec_id").alias("n_embedded"),
            (F.count(F.lit(1)) - F.count("vec_id")).alias("n_backfill"),
            F.sum(
                F.when(F.col("vec_id").isNull(), F.col("doc_id")).otherwise(
                    F.lit(0)
                )
            ).alias("backfill_key_sum"),
        )
    )
    orphans = (
        emb.join(docs, emb.vec_id == docs.doc_id, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_orphans_total"))
    )
    return cov.crossJoin(F.broadcast(orphans))


# ---------------------------------------------------------------------------
# Ordered string aggregation — listagg / string_agg parity
# ---------------------------------------------------------------------------


@register(
    "agg_listagg_ordered",
    oracle="""
    WITH nat AS (
        SELECT r.r_name,
               string_agg(n.n_name, '|' ORDER BY n.n_name) AS nations,
               CAST(COUNT(*) AS BIGINT) AS n_nations
        FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
    ),
    seg AS (
        SELECT r.r_name,
               string_agg(DISTINCT c.c_mktsegment, ','
                          ORDER BY c.c_mktsegment) AS segments
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
    )
    SELECT nat.r_name, nat.nations, nat.n_nations, seg.segments
    FROM nat JOIN seg ON nat.r_name = seg.r_name
    """,
)
def agg_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation — Spark 4's ``listagg(...) WITHIN
    GROUP (ORDER BY ...)`` (the ANSI form; DuckDB spells it
    ``string_agg(... ORDER BY ...)``), in both its plain and DISTINCT
    shapes. The explicit in-aggregate ORDER BY is what makes a
    concatenated string deterministic cross-engine — collect_list +
    array_join (``agg_array_collect``) needs a separate sort; listagg
    states the order in the aggregate itself.

    Scale shape: the nations leg aggregates a 25-row dim after a
    broadcast join; the segments leg shuffles only (region, segment)
    pairs after partial-DISTINCT collapse — concatenation happens on
    grouped, bounded-cardinality data, never on an unbounded column
    (the 100-TB rule for string aggs: group first, concatenate
    small)."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    c = _t(spark, sf_dir, "customer")
    nat = (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.expr(
                "listagg(n_name, '|') WITHIN GROUP (ORDER BY n_name)"
            ).alias("nations"),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )
    seg = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.expr(
                "listagg(DISTINCT c_mktsegment, ',')"
                " WITHIN GROUP (ORDER BY c_mktsegment)"
            ).alias("segments")
        )
    )
    return nat.join(seg, "r_name")


# ---------------------------------------------------------------------------
# Conditional-aggregate family — FILTER clause, count_if, bool_and/or,
# max_by/min_by
# ---------------------------------------------------------------------------


@register(
    "agg_conditional_family",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(count_if(l_quantity > 25) AS BIGINT) AS n_bulk,
           CAST(COUNT(*) FILTER (WHERE l_tax = 0) AS BIGINT)
               AS n_tax_free,
           bool_and(l_extendedprice > 0) AS all_price_pos,
           bool_or(l_discount = 0) AS any_zero_disc,
           arg_max(l_partkey,
                   (l_orderkey * 10 + l_linenumber) * 1048576
                       + l_partkey) AS last_part,
           arg_min(l_partkey,
                   (l_orderkey * 10 + l_linenumber) * 1048576
                       + l_partkey) AS first_part
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_conditional_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The conditional-aggregate family every migration hits:
    ``count_if``, the ANSI ``FILTER (WHERE ...)`` clause, boolean
    reducers ``bool_and``/``bool_or``, and argmax/argmin via
    ``max_by``/``min_by`` (DuckDB: ``arg_max``/``arg_min``).
    Determinism note worth pinning: max_by on a TIED ordering key is
    engine-arbitrary — and this corpus DOES tie on
    (l_orderkey, l_linenumber) — so the ordering key folds the
    selected value itself into the low bits
    (``(l_orderkey*10+l_linenumber)*2^20 + l_partkey``; partkey stays
    under 2^20 at every tested SF): any remaining tie is between rows
    whose selected value is identical, which is the composite-argmax
    trick that makes per-group "latest row" queries hash-stable
    anywhere.

    Scale shape: every leg is a partial-aggregable single pass — one
    map-side combine + one 4-group shuffle; the FILTER/CASE forms
    fuse into the same hash-agg operator, never a second scan."""
    li = _t(spark, sf_dir, "lineitem")
    key = (
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")) * 1048576
        + F.col("l_partkey")
    )
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("l_quantity") > 25).alias("n_bulk"),
        F.expr("COUNT(*) FILTER (WHERE l_tax = 0)").alias("n_tax_free"),
        F.bool_and(F.col("l_extendedprice") > 0).alias("all_price_pos"),
        F.bool_or(F.col("l_discount") == 0).alias("any_zero_disc"),
        F.max_by(F.col("l_partkey"), key).alias("last_part"),
        F.min_by(F.col("l_partkey"), key).alias("first_part"),
    )


# ---------------------------------------------------------------------------
# Bitwise aggregate family — bit_and / bit_or / bit_xor / bit_count
# ---------------------------------------------------------------------------


@register(
    "agg_bitwise_family",
    oracle="""
    SELECT o_orderpriority,
           CAST(bit_and(o_orderkey) AS BIGINT) AS key_and,
           CAST(bit_or(o_orderkey)  AS BIGINT) AS key_or,
           CAST(bit_xor(o_orderkey) AS BIGINT) AS key_xor,
           CAST(SUM(bit_count(o_orderkey)) AS BIGINT) AS total_bits,
           CAST(bit_or(xor(o_custkey, o_orderkey)) AS BIGINT)
               AS mixed_or
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_bitwise_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregates — ``bit_and``/``bit_or``/``bit_xor`` plus
    ``bit_count`` and scalar XOR: the primitive layer under bitmap
    indexes, bloom/simhash sketches, and permission-mask rollups
    (the live simhash/bitmap queries USE these ops; this pins the
    raw aggregate family itself against an independent engine).
    Everything is exact int64 bit arithmetic — the one aggregate
    family with zero float risk by construction.

    Scale shape: all four are commutative/associative reducers —
    perfect partial aggregation, constant-size state per group,
    shuffle volume = |groups|."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.bit_and(F.col("o_orderkey")).alias("key_and"),
        F.bit_or(F.col("o_orderkey")).alias("key_or"),
        F.bit_xor(F.col("o_orderkey")).alias("key_xor"),
        F.sum(F.bit_count(F.col("o_orderkey")).cast("bigint")).alias(
            "total_bits"
        ),
        F.bit_or(
            F.col("o_custkey").bitwiseXOR(F.col("o_orderkey"))
        ).alias("mixed_or"),
    )


# ---------------------------------------------------------------------------
# Simpson diversity index — exact-rational source concentration audit
# ---------------------------------------------------------------------------


@register(
    "quality_simpson_index",
    oracle="""
    WITH per_lang AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_l
        FROM documents GROUP BY source, lang
    )
    SELECT source,
           CAST(SUM(n_l) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_langs,
           CAST(SUM(n_l * (n_l - 1)) AS DOUBLE)
               / CAST(NULLIF(SUM(n_l) * (SUM(n_l) - 1), 0) AS DOUBLE)
               AS simpson
    FROM per_lang GROUP BY source
    """,
)
def quality_simpson_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson concentration index per source — the mixture-monitoring
    scalar for "is this source all one language?": the probability two
    docs drawn without replacement share a lang, Σ n_l(n_l−1) /
    (N(N−1)). Unlike Shannon entropy (a log per group — transcendental,
    not hash-stable cross-engine), Simpson is an exact integer rational
    with ONE final float division, so it oracle-verifies bit-exactly —
    the float-determinism discipline picking the right diversity
    statistic, not just the right cast order. NULLIF guards the
    single-doc-source degenerate case on both sides.

    Scale shape: two cascaded partial-agg shuffles (source×lang grain,
    then source grain — the second over ≤ |sources|×|langs| rows)."""
    d = _t(spark, sf_dir, "documents")
    per_lang = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_l")
    )
    n_docs = F.sum("n_l")
    return per_lang.groupBy("source").agg(
        n_docs.alias("n_docs"),
        F.count(F.lit(1)).alias("n_langs"),
        (
            F.sum(F.col("n_l") * (F.col("n_l") - 1)).cast("double")
            / F.nullif(
                n_docs * (n_docs - F.lit(1)), F.lit(0)
            ).cast("double")
        ).alias("simpson"),
    )


# ---------------------------------------------------------------------------
# Collation-aware grouping — Spark 4 COLLATE (UTF8_LCASE)
# ---------------------------------------------------------------------------

# Deterministic case-mixing: every even doc_id presents its lang code
# upper-cased — the mixed-case key mess (EN vs en) collations exist to
# absorb. Shared constant so the oracle states the same corruption.
_COLL_CASE_MOD = 2


@register(
    "string_collation_groupby",
    oracle=f"""
    WITH m AS (
        SELECT CASE WHEN doc_id % {_COLL_CASE_MOD} = 0
                    THEN upper(lang) ELSE lang END AS lang_mixed,
               n_chars
        FROM documents
    )
    SELECT min(lang_mixed) AS rep,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT lang_mixed) AS BIGINT) AS n_spellings,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(count_if(lower(lang_mixed) = 'en') AS BIGINT)
               AS n_match_en
    FROM m GROUP BY lower(lang_mixed)
    """,
)
def string_collation_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 COLLATIONS — grouping and comparing under
    ``UTF8_LCASE`` so 'EN' and 'en' are ONE group without rewriting
    every expression through lower() (the oracle states the lower()
    equivalent, which coincides with UTF8_LCASE on this ASCII
    domain). Two semantics pinned: a collated GROUP BY key merges
    case-variant spellings (n_spellings counts the raw variants that
    fused), and a collated equality comparison matches
    case-insensitively. The group's output key is min(raw) under
    BINARY collation — the collated key column itself carries an
    engine-arbitrary representative, the one non-determinism trap in
    collated grouping (same reason ``any_value`` is banned in
    oracled queries).

    Scale shape: identical to any hash aggregate — collation support
    lives in the comparator/hasher, adding no shuffle or pass."""
    d = _t(spark, sf_dir, "documents")
    mixed = F.when(
        F.col("doc_id") % _COLL_CASE_MOD == 0, F.upper(F.col("lang"))
    ).otherwise(F.col("lang"))
    m = d.select(mixed.alias("lang_mixed"), "n_chars")
    return (
        m.groupBy(
            F.collate(F.col("lang_mixed"), "UTF8_LCASE").alias("k")
        )
        .agg(
            F.min(F.collate(F.col("lang_mixed"), "UTF8_BINARY")).alias(
                "rep"
            ),
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct(
                F.collate(F.col("lang_mixed"), "UTF8_BINARY")
            ).alias("n_spellings"),
            F.sum("n_chars").alias("sum_chars"),
            F.count_if(
                F.collate(F.col("lang_mixed"), "UTF8_LCASE") == F.lit("en")
            ).alias("n_match_en"),
        )
        .drop("k")
    )


# ---------------------------------------------------------------------------
# URL parsing family — parse_url + url_decode
# ---------------------------------------------------------------------------

# Deterministic URL synthesis (distinct constants from the r14 pen's
# canonicalization query — this one pins the PARSER builtins, that one
# pins dedup semantics): mixed-case host every 3rd doc, two query
# params, one percent-encoded value.
_URLP_Q_MOD = 5
_URLP_X_MOD = 7


@register(
    "string_url_parse_family",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END
               || '.example.org' AS host,
           '/' || lang || '/doc-' || CAST(doc_id AS VARCHAR) AS path,
           'v ' || CAST(doc_id % {_URLP_Q_MOD} AS VARCHAR) AS q_decoded,
           CAST(doc_id % {_URLP_X_MOD} AS VARCHAR) AS x_param
    FROM documents
    """,
)
def string_url_parse_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The URL builtin family — ``parse_url`` (HOST / PATH / QUERY
    with a key) and ``url_decode`` — over deterministically
    synthesized URLs, verified against an oracle that reconstructs
    each component from the synthesis constants instead of parsing
    (DuckDB has no parse_url; independent reconstruction is the
    stronger check anyway). Pins that host extraction preserves case,
    path extraction drops the query, keyed QUERY extraction isolates
    one parameter among several, and percent-decoding round-trips
    ``%20``.

    Scale shape: pure map-side scalar projection — whole-stage
    codegen, no shuffle, no UDF."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 3 == 0, F.upper(F.col("source"))).otherwise(
            F.col("source")
        ),
        F.lit(".example.org/"),
        F.col("lang"),
        F.lit("/doc-"),
        F.col("doc_id").cast("string"),
        F.lit("?q=v%20"),
        (F.col("doc_id") % _URLP_Q_MOD).cast("string"),
        F.lit("&x="),
        (F.col("doc_id") % _URLP_X_MOD).cast("string"),
    )
    u = d.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        F.parse_url(F.col("url"), F.lit("PATH")).alias("path"),
        F.url_decode(
            F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("q"))
        ).alias("q_decoded"),
        F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("x")).alias(
            "x_param"
        ),
    )


# ---------------------------------------------------------------------------
# NOT IN vs NOT EXISTS under NULL — the three-valued-logic trap
# ---------------------------------------------------------------------------


@register(
    "join_not_in_null_semantics",
    oracle="""
    WITH probe_clean AS (
        SELECT c_custkey AS k FROM customer
        WHERE c_mktsegment = 'BUILDING' AND c_custkey <= 200
    ),
    probe_null AS (
        SELECT k FROM probe_clean
        UNION ALL SELECT CAST(NULL AS BIGINT)
    )
    SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
         WHERE o_custkey IN (SELECT k FROM probe_null)) AS n_in,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
         WHERE o_custkey NOT IN (SELECT k FROM probe_null))
            AS n_not_in_null,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
         WHERE o_custkey NOT IN (SELECT k FROM probe_clean))
            AS n_not_in_clean,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM probe_null p
                           WHERE p.k = o.o_custkey))
            AS n_not_exists
    """,
)
def join_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``NOT IN`` vs ``NOT EXISTS`` under a NULL in the subquery — the
    classic three-valued-logic trap, pinned as data: with one NULL in
    the probe set, ``x NOT IN (...)`` can never be TRUE (x <> NULL is
    UNKNOWN), so n_not_in_null is 0 BY THE STANDARD, while NOT EXISTS
    on the same set is a real anti-join (n_not_exists > 0) and NOT IN
    against the NULL-free set agrees with it. Both engines implement
    the standard; an engine that "fixed" NOT IN would fail this hash.
    Positive IN is unaffected by the NULL (n_in).

    Scale shape: NOT IN's null-aware anti join is BROADCAST-ONLY in
    Spark by design (a shuffled NAAJ cannot decide the
    any-null-matches-everything case locally), so the probe set is a
    FIXED key range (c_custkey <= 200 — constant cardinality at every
    SF); the production spelling for an unbounded probe side is the
    NOT EXISTS leg this query pins alongside. Counts aggregate
    map-side."""
    from rs_query_engine_spark.sources.corpus import register_corpus

    register_corpus(spark, sf_dir)
    return spark.sql(
        """
        WITH probe_clean AS (
            SELECT c_custkey AS k FROM customer
            WHERE c_mktsegment = 'BUILDING' AND c_custkey <= 200
        ),
        probe_null AS (
            SELECT k FROM probe_clean
            UNION ALL SELECT CAST(NULL AS BIGINT)
        )
        SELECT
            (SELECT COUNT(*) FROM orders
             WHERE o_custkey IN (SELECT k FROM probe_null)) AS n_in,
            (SELECT COUNT(*) FROM orders
             WHERE o_custkey NOT IN (SELECT k FROM probe_null))
                AS n_not_in_null,
            (SELECT COUNT(*) FROM orders
             WHERE o_custkey NOT IN (SELECT k FROM probe_clean))
                AS n_not_in_clean,
            (SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM probe_null p
                               WHERE p.k = o.o_custkey))
                AS n_not_exists
        """
    )


# ---------------------------------------------------------------------------
# Winsorized clipping — exact discrete percentiles via rank positions
# ---------------------------------------------------------------------------


@register(
    "quality_winsorize_clip",
    oracle="""
    WITH ranked AS (
        SELECT source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS n
        FROM documents
    ),
    cuts AS (
        SELECT source,
               CAST(MAX(n) AS BIGINT) AS n_docs,
               CAST(MAX(CASE WHEN rn = (n + 19) // 20
                             THEN n_chars END) AS BIGINT) AS p05,
               CAST(MAX(CASE WHEN rn = (19 * n + 19) // 20
                             THEN n_chars END) AS BIGINT) AS p95
        FROM ranked GROUP BY source
    )
    SELECT d.source, c.n_docs, c.p05, c.p95,
           CAST(SUM(LEAST(GREATEST(d.n_chars, c.p05), c.p95))
                AS BIGINT) AS sum_clipped,
           CAST(count_if(d.n_chars < c.p05) AS BIGINT) AS n_clip_low,
           CAST(count_if(d.n_chars > c.p95) AS BIGINT) AS n_clip_high
    FROM documents d JOIN cuts c ON d.source = c.source
    GROUP BY d.source, c.n_docs, c.p05, c.p95
    """,
)
def quality_winsorize_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized clipping per source — the outlier-taming step before
    any length/score statistic feeds a mixture weight: clip n_chars to
    its per-source exact discrete p05/p95. The percentile positions
    are INTEGER arithmetic (``ceil(q·n)`` spelled ``(q·n+19)//20`` —
    no float, no interpolation, no percentile_disc convention
    roulette between engines), the cut VALUES are picked by rank, and
    the clipped sum is exact int64 — a percentile query with zero
    float ops, against the grain of approx-percentile (which is
    rows-only for a reason).

    Scale shape: one window pass per source partition (rank +
    partition count in a single Window spec, same shuffle), a
    source-grain reduce to the two cuts, then the cuts broadcast back
    onto the corpus scan for a map-side clip + partial agg. Nothing
    corpus-sized shuffles twice; at 100 TB the ranked pass is the
    one sort, and it's per-source parallel."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("source")
    ranked = d.select(
        "source",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    p05_pos = (F.col("n") + 19) / 20
    p95_pos = (19 * F.col("n") + 19) / 20
    cuts = ranked.groupBy("source").agg(
        F.max("n").alias("n_docs"),
        F.max(
            F.when(
                F.col("rn") == p05_pos.cast("bigint"), F.col("n_chars")
            )
        ).alias("p05"),
        F.max(
            F.when(
                F.col("rn") == p95_pos.cast("bigint"), F.col("n_chars")
            )
        ).alias("p95"),
    )
    return (
        d.join(F.broadcast(cuts), "source")
        .groupBy("source", "n_docs", "p05", "p95")
        .agg(
            F.sum(
                F.least(
                    F.greatest(F.col("n_chars"), F.col("p05")),
                    F.col("p95"),
                )
            ).alias("sum_clipped"),
            F.count_if(F.col("n_chars") < F.col("p05")).alias(
                "n_clip_low"
            ),
            F.count_if(F.col("n_chars") > F.col("p95")).alias(
                "n_clip_high"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Collocation mining — PMI-monotone exact-rational ranking
# ---------------------------------------------------------------------------

_COLLOC_MIN_COUNT = 5  # bigram support floor (shared with the oracle)
_COLLOC_TOP_K = 10


@register(
    "text_collocation_pmi_rank",
    oracle=rf"""
    WITH toks AS (
        SELECT lang, regexp_split_to_array(lower(text), '\s+') AS t
        FROM documents
    ),
    big AS (
        SELECT lang, array_to_string(t[i:i+1], ' ') AS bg
        FROM toks,
             LATERAL unnest(generate_series(1, len(t) - 1)) AS g(i)
    ),
    cab AS (
        SELECT lang, bg, CAST(COUNT(*) AS BIGINT) AS cnt_ab
        FROM big GROUP BY lang, bg
    ),
    uni AS (SELECT lang, unnest(t) AS w FROM toks),
    cw AS (
        SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS cnt_w
        FROM uni GROUP BY lang, w
    ),
    sc AS (
        SELECT c.lang, c.bg, c.cnt_ab,
               a.cnt_w AS cnt_a, b.cnt_w AS cnt_b,
               CAST(c.cnt_ab AS DOUBLE)
                   / CAST(a.cnt_w * b.cnt_w AS DOUBLE) AS score
        FROM cab c
        JOIN cw a ON c.lang = a.lang
                 AND string_split(c.bg, ' ')[1] = a.w
        JOIN cw b ON c.lang = b.lang
                 AND string_split(c.bg, ' ')[2] = b.w
        WHERE c.cnt_ab >= {_COLLOC_MIN_COUNT}
    )
    SELECT lang, bg AS bigram, cnt_ab, cnt_a, cnt_b, score
    FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY lang ORDER BY score DESC, bg) AS rn
          FROM sc)
    WHERE rn <= {_COLLOC_TOP_K}
    """,
)
def text_collocation_pmi_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining — top-k bigrams per language ranked by PMI,
    the vocabulary-building primitive (multi-word expressions worth a
    single token). The float-determinism trick worth stating: PMI is
    log(p(ab)/(p(a)p(b))) — a transcendental, never hash-stable — but
    log is MONOTONE, so ranking by the raw odds ratio
    cnt_ab/(cnt_a·cnt_b) (constants cancel within a language) yields
    the EXACT PMI ordering with the numerator/denominator as exact
    int64 and one final IEEE division. Ties break on the bigram
    string.

    Scale shape: bigram explode feeds a partial-agg count (shuffle =
    distinct-bigram volume, not token volume); the unigram-count
    pipeline is derived ONCE and enriched through a single
    vocabulary-keyed equi-join against the support-filtered bigrams
    unpivoted to (bigram, position, word) rows — the r18 rewrite:
    the original two-join spelling re-derived the full corpus
    tokenize+aggregate per join side (verified: no runtime exchange
    reuse, two broadcast builds), where one join on the doubled-but-
    tiny candidate side costs one re-aggregation of it. The top-k is
    one window pass over support-filtered rows. No all-pairs
    anything."""
    from pyspark.sql import Window

    from rs_query_engine_spark.functions.text import shingles, tokens

    d = _t(spark, sf_dir, "documents")
    cab = (
        d.select(
            "lang", F.explode(shingles(F.col("text"), 2)).alias("bg")
        )
        .groupBy("lang", "bg")
        .agg(F.count(F.lit(1)).alias("cnt_ab"))
        .filter(F.col("cnt_ab") >= _COLLOC_MIN_COUNT)
    )
    cw = (
        d.select("lang", F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("cnt_w"))
    )
    up = cab.select(
        "lang",
        "bg",
        "cnt_ab",
        F.posexplode(F.split(F.col("bg"), " ")).alias("pos", "w"),
    )
    sc = (
        up.join(cw, ["lang", "w"])
        .groupBy("lang", "bg", "cnt_ab")
        .agg(
            F.min(F.when(F.col("pos") == 0, F.col("cnt_w"))).alias("cnt_a"),
            F.min(F.when(F.col("pos") == 1, F.col("cnt_w"))).alias("cnt_b"),
        )
        # inner-join semantics of the original two-join spelling: a
        # bigram whose word is absent from the unigram vocabulary is
        # dropped, not null-enriched (cannot happen when both explode
        # from the same token stream, but pin the semantics anyway)
        .filter(F.col("cnt_a").isNotNull() & F.col("cnt_b").isNotNull())
        .withColumn(
            "score",
            F.col("cnt_ab").cast("double")
            / (F.col("cnt_a") * F.col("cnt_b")).cast("double"),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("score").desc(), F.col("bg")
    )
    return (
        sc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _COLLOC_TOP_K)
        .select(
            "lang", F.col("bg").alias("bigram"),
            "cnt_ab", "cnt_a", "cnt_b", "score",
        )
    )


# ---------------------------------------------------------------------------
# Changepoint detection — exact integer cumulative-deviation argmax
# ---------------------------------------------------------------------------


@register(
    "events_cumdev_changepoint",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    curve AS (
        SELECT event_type, day, y,
               SUM(y) OVER (PARTITION BY event_type ORDER BY day
                            ROWS UNBOUNDED PRECEDING) AS cum,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY day) AS k,
               SUM(y) OVER (PARTITION BY event_type) AS tot,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM daily
    ),
    dev AS (
        SELECT event_type, day,
               CAST(n AS BIGINT) AS n_days,
               CAST(tot AS BIGINT) AS total_events,
               CAST(abs(n * cum - k * tot) AS BIGINT) AS dev
        FROM curve
    )
    SELECT event_type, n_days, total_events,
           day AS cp_day, dev AS max_dev
    FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY event_type
              ORDER BY dev DESC, day) AS rn
          FROM dev)
    WHERE rn = 1
    """,
)
def events_cumdev_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changepoint detection on daily event volume — the drift alarm
    for "when did this event type's rate shift?": the day maximizing
    the cumulative deviation from a uniform rate. The statistic is
    kept EXACT by scaling instead of dividing — D_k = n·cum_k − k·T
    (the cumulative-sum test statistic times n·T, a positive
    constant per group) — so detection is pure int64 arithmetic, no
    float mean, no variance estimate, and the argmax day is
    hash-stable cross-engine (ties break earliest). The classic CUSUM
    recursion max(0, S+x) needs sequential state; this offline form
    is its standard batch equivalent and stays one window pass.

    Scale shape: daily pre-aggregation collapses the corpus to
    |types|×|days| rows before the single per-type window sort;
    everything after the first partial-agg shuffle is dim-sized."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))
    wo = Window.partitionBy("event_type").orderBy("day")
    wp = Window.partitionBy("event_type")
    curve = daily.select(
        "event_type",
        "day",
        F.sum("y").over(
            wo.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum"),
        F.row_number().over(wo).alias("k"),
        F.sum("y").over(wp).alias("tot"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    dev = curve.select(
        "event_type",
        "day",
        F.col("n").alias("n_days"),
        F.col("tot").alias("total_events"),
        F.abs(
            F.col("n") * F.col("cum") - F.col("k") * F.col("tot")
        ).alias("dev"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.col("dev").desc(), F.col("day")
    )
    return (
        dev.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "event_type", "n_days", "total_events",
            F.col("day").alias("cp_day"),
            F.col("dev").alias("max_dev"),
        )
    )


# ---------------------------------------------------------------------------
# CSV robustness — quoted fields with embedded newlines/commas/quotes
# ---------------------------------------------------------------------------


@register(
    "source_csv_quoted_multiline",
    oracle="""
    SELECT doc_id,
           CAST(length('x,' || lang || chr(10) || '"q'
                       || CAST(doc_id % 7 AS VARCHAR) || '" end')
                AS BIGINT) AS n_chars_roundtrip,
           md5('x,' || lang || chr(10) || '"q'
               || CAST(doc_id % 7 AS VARCHAR) || '" end')
               AS content_md5
    FROM documents
    """,
)
def source_csv_quoted_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ROBUSTNESS roundtrip — fields containing embedded commas,
    double quotes, AND newlines, written RFC4180-style (escape = the
    quote char itself, so quotes double) and read back with
    ``multiLine=true``: the parsing mode web-scraped corpora force on
    every ingestion pipeline, and the one naive line-splitting readers
    corrupt silently (a quoted newline looks like a record boundary).
    The fixture derives each tricky value deterministically from
    (lang, doc_id); the oracle reconstructs the exact string and
    fingerprints it, so one flipped byte anywhere in
    write→quote→escape→parse fails the hash.

    Scale caveat stated honestly: multiLine=true makes each CSV file
    a single split (record boundaries are no longer line boundaries),
    so parallelism = file count — at 100 TB the layout answer is many
    modest files, which the fixture's default multi-part write
    already is."""
    import os

    from rs_query_engine_spark.sources.artifacts import ensure_artifact

    src = os.path.join(os.path.abspath(sf_dir), "documents.parquet")

    def write(tmp: str) -> None:
        tricky = F.concat(
            F.lit("x,"),
            F.col("lang"),
            F.lit("\n\"q"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("\" end"),
        )
        (
            _t(spark, sf_dir, "documents")
            .select("doc_id", tricky.alias("tricky"))
            .write.option("quote", '"')
            .option("escape", '"')
            .option("quoteAll", True)
            .csv(os.path.join(tmp, "tricky_csv"))
        )

    root = ensure_artifact(
        src, "mlcsv", "layout=tricky_v1", ("tricky_csv/_SUCCESS",), write
    )
    path = os.path.join(root, "tricky_csv")

    back = (
        spark.read.schema("doc_id LONG, tricky STRING")
        .option("multiLine", True)
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )
    return back.select(
        "doc_id",
        F.length("tricky").cast("bigint").alias("n_chars_roundtrip"),
        F.md5(F.col("tricky").cast("binary")).alias("content_md5"),
    )


# ---------------------------------------------------------------------------
# Python DataSource STREAMING WRITER — the family's last surface
# ---------------------------------------------------------------------------


@register(
    "source_python_stream_writer",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
           CAST(SUM(user_id) AS BIGINT) AS sum_user_id,
           CAST(MIN(event_id) AS BIGINT) AS min_event_id,
           CAST(MAX(event_id) AS BIGINT) AS max_event_id
    FROM events GROUP BY event_type
    """,
)
def source_python_stream_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python DataSource STREAMING WRITER
    (``DataSourceStreamWriter`` — write/commit/abort per micro-batch),
    closing the pure-Python format family: batch reader (+pushdown,
    +Arrow), batch writer, simple + partitioned + Arrow stream
    readers, and now the stream SINK. The 4-file late feed replays one
    file per trigger into ``rsqes_pycsv_stream_sink``; each batch's
    partitions stage CSV parts executor-side and the driver commit
    publishes them under batch-keyed names (replay-idempotent by
    construction — a re-committed batch clears its own finals first).
    The verification is end-to-end: read the published CSVs back and
    aggregate — every feed row must appear EXACTLY once, regardless
    of how rows landed in batches and partitions, which is precisely
    the exactly-once sink contract. Integer columns only, so the text
    roundtrip is bit-exact by construction.

    Scale shape: writes are executor-parallel per partition; the
    driver does rename arithmetic only (the JVM file sink's manifest
    contract, spelled out in Python)."""
    import os

    from rs_query_engine_spark.sources.artifacts import scratch_dir
    from rs_query_engine_spark.sources.pydatasource import (
        CsvStreamSinkDataSource,
        register_source,
    )
    from rs_query_engine_spark.streaming.events import drain, ensure_late_feed

    feed = ensure_late_feed(spark, sf_dir)
    schema = spark.read.parquet(feed).schema
    base = scratch_dir(spark, "pysink", feed, fresh=False)
    target = os.path.join(base, "out")
    ck = os.path.join(base, "ck")
    register_source(spark, CsvStreamSinkDataSource)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
        .select("event_id", "user_id", "event_type")
    )
    drain(
        spark,
        stream.writeStream.format("rsqes_pycsv_stream_sink")
        .option("path", target)
        .option("checkpointLocation", ck),
        available_now=True,
    )

    back = spark.read.schema(
        "event_id LONG, user_id LONG, event_type STRING"
    ).option("header", True).csv(target)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("event_id").alias("sum_event_id"),
        F.sum("user_id").alias("sum_user_id"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )
