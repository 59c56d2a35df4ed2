"""Dormant queries written in round 18: registered with
``register_dormant``, so ``dormant_queries()`` serves them and
``tests/oracle/test_staged_r18_parity.py`` checks them
against their oracles, but ``queries()`` does not.

Seeded with 3 queries hash-verified at sf0.001 + sf0.01:
PERCENT-OF-PARENT hierarchy shares (exact DECIMAL window sums over
the leaf frame, the drill-down companion to agg_rollup_returnflag),
the HIGHER-ORDER map-operator pipeline (map_filter →
transform_values → map_entries-explode pinned against the
relational GROUP BY/HAVING spelling — the transformation tier of
the MAP surface whose build/lookup tier is map_functions), and the
ANTI-ENTROPY checksum DIFF (per-bucket SUM+BIT_XOR digests of two
deterministically-derived table generations, differing buckets
only — the repair-scoping companion to maintenance_table_checksum,
computed in one conditional-aggregate pass).

ROUND-16 wave (8 queries, every one hash-verified at sf0.001 +
sf0.01 from first commit, plan-pinned in
``tests/unit/test_plan_properties.py``):

- ``array_higher_order_pipeline`` — the ARRAY lambda tier
  (transform/filter/exists/forall/aggregate/zip_with) against
  DuckDB's list-lambda algebra; order-sensitive dot-with-reversed
  pinned through a (linenumber, qty) sort on both engines.
- ``string_str_to_map_parse`` — str_to_map parse pinned by
  reconstruction (the url-parse-family discipline).
- ``scalar_from_csv_parse`` — to_csv → from_csv expression-level
  roundtrip with RFC4180 quoting and bit-exact double re-parse.
- ``events_ab_rank_sum`` — exact Mann-Whitney U / probability of
  superiority via ×2-scaled tie-averaged ranks (asc+desc rank
  trick), one exchange for the whole statistic.
- ``events_funnel_conversion_decay`` — the 4-step first-touch
  chain with per-step decay ratios (the header's funnel lead).
- ``string_binary_codec_family`` — unhex/hex/base64/octet_length/
  encode over real digests; bytes-vs-codepoints split pinned on
  the zh documents.
- ``agg_moments_skew_kurtosis`` — exact population skewness +
  excess kurtosis from decimal power sums (the variance_exact
  extension; x⁴ via (x²)·(x²) stays under precision 38).
- ``text_sentence_segmentation`` — sentence-boundary stats on the
  explicit ``[.!?]+`` class, arrays never exploded.

ROUND-16 closing wave — the pen CLOSED at 15 the same round:
``string_format_family`` (lpad/format_string/translate/repeat/
reverse, restricted to the printf subset identical across Java and
C dialects), ``scalar_epoch_conversions`` (unix_micros/millis,
timestamp_micros and unix_date/date_from_unix_date roundtrips —
the event-time-bound surface), ``array_posexplode_outer``
(outer-generate keeps empty-array parents, pinned against the
LEFT-JOIN relational spelling), and ``sample_neyman_allocation``
(variance-weighted stratified budget with exact sufficient
statistics + largest-remainder integer top-up, Σ alloc = K).

Round-16 Spark 4.1.2 surface scan (the once-per-round directive):
walked ``pyspark.sql.functions`` for time/sketch/random/variant/
collation/make_*/try_* families. Nothing seeded — the pen closed at
15 and nothing new demands a slot: KLL quantile sketches and theta
set sketches remain REJECTED (approx-only, would grow the rows-only
set held at three by design — same verdict as r15's hll/theta
scan); TIME-type functions (``make_time``/``time_trunc``/
``time_diff``) are covered by ``events_time_of_day_profile``'s
surface; ``convert_timezone`` by ``events_timezone_bucketing``;
the bitmap family by ``agg_bitmap_distinct``; ``monthname``/
``dayname`` evaluated and not taken (locale-independent but
semantically inside ``date_functions``' weekday pin).
``make_valid_utf8``/``try_validate_utf8`` noted as a POSSIBLE r19
lead (UTF8-validation audit over binary-ish text — would need a
corrupt-bytes fixture); Avro and transformWithStateInPandas remain
BLOCKED (image unchanged).

Flip cadence for context: round 16 flipped the r15 pen, round 17
flips the r16 pen, round 18 flips the r17 pen (closed at 15 in
round 15), round 19 flips this one.

Float-determinism discipline matches ``queries.py`` (see its module
docstring): row-level doubles raw, no round(), SUM/AVG through exact
decimals, every aggregate/computed column aliased identically in the
Spark code and the DuckDB oracle; DuckDB decimal→double casts go
through the VARCHAR hop.

Candidate leads (round-15 loose ends — evaluate, don't assume):

- **SQL + Python-compute surfaces remain CLOSED** (r13-r17 pens):
  recursive CTE, SQL UDF/table function/scripting, pipe syntax,
  LATERAL, Observation, GROUP BY ALL, named params, IDENTIFIER(),
  EXECUTE IMMEDIATE, listagg, collations, try_*, positional regexp,
  multi-distinct Expand, ``_metadata``, GROUPING SETS + ROLLUP +
  CUBE + PIVOT, the Spark-4.1 TIME type, VARIANT, every Python tier
  incl. the full DataSource family with filter pushdown. Scan the
  installed 4.1.x surface once per round before assuming anything
  new (the round-15 scan note lives in the r17 pen header).
- **Avro still BLOCKED** (no spark-avro in pip pyspark);
  ``transformWithStateInPandas`` still BLOCKED (hard google.protobuf
  import). Do not re-probe unless the image changes.
- **Probed and REJECTED at round 15** (don't re-evaluate without new
  facts): theta/hll sketch aggs (approx-only — would grow the
  rows-only set held at three by design), uniform/randstr
  (partition-order-dependent), pairwise source vocabulary-Jaccard
  (trivial pin on this corpus), phonetic joins (DuckDB 1.0 has no
  soundex), moving median over row frames (interpolation roulette).
- The rows-only trio (``similarity_ivf_kmeans``,
  ``agg_approx_percentile``, ``text_unigram_logprob``) stays
  rows-only by design with invariant companions — re-evaluate only
  if one becomes exactly oracle-able.
- Unexplored-but-plausible families for seeds: MAP-typed column
  operators (map_from_entries / map_filter / transform_values with
  an explode-to-rows boundary — MAP cells can't reach the driver
  hash), sequence()-generated calendar/grid frames beyond gap_fill,
  sessionized funnel steps with per-step conversion decay, exact
  reservoir-free stratified minima (min_by per stratum matrix),
  anti-entropy checksum DIFF of two table generations (pairs with
  maintenance_table_checksum), percent-of-parent ratios down a
  rollup hierarchy (pairs with agg_rollup_returnflag).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rs_query_engine_spark.queries import D_PRICE, _t, register_dormant

# ---------------------------------------------------------------------------
# Round-15 seeds (r13-r17 precedent: the pen is created at round end
# and seeded the same round with verified queries)
# ---------------------------------------------------------------------------


@register_dormant(
    "agg_pct_of_parent_hierarchy",
    oracle="""
    WITH leaf AS (
        SELECT l_returnflag, l_linestatus,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qsum
        FROM lineitem GROUP BY 1, 2
    )
    SELECT l_returnflag, l_linestatus, n,
           CAST(CAST(qsum AS VARCHAR) AS DOUBLE) AS sum_qty,
           CAST(CAST(qsum AS VARCHAR) AS DOUBLE)
               / CAST(CAST(SUM(qsum) OVER (PARTITION BY l_returnflag)
                           AS VARCHAR) AS DOUBLE) AS pct_of_parent,
           CAST(CAST(qsum AS VARCHAR) AS DOUBLE)
               / CAST(CAST(SUM(qsum) OVER () AS VARCHAR) AS DOUBLE)
               AS pct_of_total
    FROM leaf
    """,
)
def agg_pct_of_parent_hierarchy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PERCENT-OF-PARENT down a grouping hierarchy — each
    (flag, status) leaf's share of its flag subtotal and of the
    grand total: the drill-down ratio every BI hierarchy renders
    next to agg_rollup_returnflag's absolute subtotals (the round-15
    leads-ledger pairing). The parent masses are DECIMAL window sums
    over the LEAF frame — exact, so each share is one
    double ÷ double with both operands leaving exactness at the
    documented boundary (VARCHAR hop on the DuckDB side); no float
    ever re-aggregates. The unpartitioned total window runs on the
    ≤|flags|·|statuses|-row aggregated frame, never the corpus (the
    quality_pareto_frontier discipline).

    Scale shape: ONE partial+final corpus aggregate; both hierarchy
    windows share the tiny leaf frame (the flag-keyed one and the
    global one are O(leaf-count)); no join, no Expand, one corpus
    scan."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast(D_PRICE).alias("q"),
    )
    leaf = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), F.sum("q").alias("qsum")
    )
    wf = Window.partitionBy("l_returnflag")
    wall = Window.partitionBy()
    leaf_d = F.col("qsum").cast("double")
    return leaf.select(
        "l_returnflag",
        "l_linestatus",
        "n",
        leaf_d.alias("sum_qty"),
        (leaf_d / F.sum("qsum").over(wf).cast("double")).alias(
            "pct_of_parent"
        ),
        (leaf_d / F.sum("qsum").over(wall).cast("double")).alias(
            "pct_of_total"
        ),
    )


@register_dormant(
    "text_token_map_pipeline",
    oracle=r"""
    WITH tok AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(text),
                                            '[ \t\n\r\f]+')) AS token
        FROM documents
    ),
    per AS (
        SELECT doc_id, token, COUNT(*) AS c
        FROM tok WHERE token <> '' GROUP BY 1, 2
    )
    SELECT doc_id, token, CAST(c * c AS BIGINT) AS boost
    FROM per WHERE c >= 2
    """,
)
def text_token_map_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIGHER-ORDER map operators — the transformation tier of the
    MAP column surface (building + lookup landed as
    ``map_functions``; this pins ``map_filter`` →
    ``transform_values`` → ``map_entries``-explode against the
    relational spelling): per-document token→count feature bags
    filtered to repeated tokens (count ≥ 2) and re-weighted (count²,
    the classic tf² boost), then exploded back to rows. The map is
    deterministic despite collect_list's nondeterministic order
    because keys are unique by construction (pre-grouped on
    (doc, token) — the map_functions precedent), and the lambda
    pipeline must produce exactly the GROUP BY ... HAVING multiset
    the oracle computes. Tokenization uses the explicit class
    ``[ \\t\\n\\r\\f]+`` in BOTH engines (ADVICE r15: Java's ``\\s``
    includes U+000B vertical tab, RE2's does not — the explicit
    class makes the tokenizers provably identical instead of
    relying on the corpus containing no unusual whitespace); empty
    edge tokens dropped on both engines.

    Scale shape: one (doc, token)-keyed partial+final aggregate,
    one (doc)-keyed map rollup, then map-cell lambdas (JVM-side,
    whole-stage-codegen — no Python) and a map-only explode; no
    join; map cells never reach the driver (exploded to scalar rows
    at the boundary)."""
    tok = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(
                F.split(F.lower("text"), r"[ \t\n\r\f]+")
            ).alias("t"),
        )
        .filter(F.col("t") != "")
    )
    per = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    m = per.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("t", "c"))).alias("m")
    )
    m2 = m.select(
        "doc_id",
        F.transform_values(
            F.map_filter("m", lambda k, v: v >= 2), lambda k, v: v * v
        ).alias("m2"),
    )
    return (
        m2.select("doc_id", F.explode(F.map_entries("m2")).alias("e"))
        .select(
            "doc_id",
            F.col("e.key").alias("token"),
            F.col("e.value").cast("bigint").alias("boost"),
        )
    )


@register_dormant(
    "maintenance_checksum_diff",
    oracle="""
    WITH h AS (
        SELECT o_orderkey % 64 AS bucket,
               ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '|'
                                   || CAST(o_custkey AS VARCHAR) || '|'
                                   || o_orderstatus), 1, 8))::BIGINT
                   AS rh1,
               CASE WHEN o_orderkey % 97 = 0 THEN NULL
                    ELSE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)
                              || '|' || CAST(o_custkey AS VARCHAR) || '|'
                              || CASE WHEN o_orderkey % 101 = 0 THEN 'X'
                                      ELSE o_orderstatus END
                          ), 1, 8))::BIGINT
               END AS rh2
        FROM orders
    ),
    b AS (
        SELECT bucket,
               CAST(COUNT(rh1) AS BIGINT) AS n_v1,
               CAST(COUNT(rh2) AS BIGINT) AS n_v2,
               CAST(SUM(rh1) AS BIGINT) AS s1,
               CAST(COALESCE(SUM(rh2), 0) AS BIGINT) AS s2,
               CAST(bit_xor(rh1) AS BIGINT) AS x1,
               CAST(COALESCE(bit_xor(rh2), 0) AS BIGINT) AS x2
        FROM h GROUP BY bucket
    )
    SELECT bucket, n_v1, n_v2,
           (s1 = s2) AS sum_match, (x1 = x2) AS xor_match
    FROM b
    WHERE NOT (n_v1 = n_v2 AND s1 = s2 AND x1 = x2)
    """,
)
def maintenance_checksum_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANTI-ENTROPY checksum DIFF of two table generations — WHICH
    buckets of a replica diverged, the repair-scoping step that
    follows maintenance_table_checksum's whole-table verdict (the
    Merkle-less Cassandra/Dynamo repair primitive: compare per-bucket
    digests, re-sync only differing buckets). Generation v2 is v1
    under a deterministic key-driven mutation (keys ≡0 mod 97
    deleted, keys ≡0 mod 101 status-rewritten), so both engines
    derive identical generations with no fixture write. Per bucket
    (key mod 64): exact row counts and the order-independent
    SUM + BIT_XOR digests of each generation (the
    maintenance_table_checksum fold — int64-exact, never a double),
    emitting ONLY the buckets where any digest disagrees. Both
    generations' digests come from ONE conditional-aggregate pass
    (rh2 is NULL for deleted rows — both engines' SUM/BIT_XOR skip
    NULLs, probed by the parity gate); against two PHYSICAL replicas
    the same plan is two map-side folds + a |buckets|-row equi-join
    — never a row-level join.

    Scale shape: map-side md5 + fold, ONE partial+final aggregate
    onto the 64-bucket domain, a tiny post-filter; no join, no sort,
    one corpus scan."""
    o = _t(spark, sf_dir, "orders")

    def rh(status_col):
        return F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("o_orderkey").cast("string"),
                        F.col("o_custkey").cast("string"),
                        status_col,
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")

    h = o.select(
        (F.col("o_orderkey") % 64).alias("bucket"),
        rh(F.col("o_orderstatus")).alias("rh1"),
        F.when(F.col("o_orderkey") % 97 == 0, F.lit(None)).otherwise(
            rh(
                F.when(F.col("o_orderkey") % 101 == 0, F.lit("X")).otherwise(
                    F.col("o_orderstatus")
                )
            )
        ).alias("rh2"),
    )
    b = h.groupBy("bucket").agg(
        F.count("rh1").alias("n_v1"),
        F.count("rh2").alias("n_v2"),
        F.sum("rh1").alias("s1"),
        F.coalesce(F.sum("rh2"), F.lit(0)).alias("s2"),
        F.expr("bit_xor(rh1)").alias("x1"),
        F.coalesce(F.expr("bit_xor(rh2)"), F.lit(0)).alias("x2"),
    )
    return b.filter(
        ~(
            (F.col("n_v1") == F.col("n_v2"))
            & (F.col("s1") == F.col("s2"))
            & (F.col("x1") == F.col("x2"))
        )
    ).select(
        "bucket",
        "n_v1",
        "n_v2",
        (F.col("s1") == F.col("s2")).alias("sum_match"),
        (F.col("x1") == F.col("x2")).alias("xor_match"),
    )


# ---------------------------------------------------------------------------
# Round-16 wave (header leads: array higher-order tier, parse
# surfaces, exact nonparametric A/B readout, K-step funnel decay,
# binary codec family, exact higher moments, sentence segmentation)
# ---------------------------------------------------------------------------


@register_dormant(
    "array_higher_order_pipeline",
    oracle="""
    WITH a AS (
        SELECT l_orderkey,
               list(CAST(l_quantity AS BIGINT)
                    ORDER BY l_linenumber, CAST(l_quantity AS BIGINT))
                   AS arr
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           CAST(len(arr) AS BIGINT) AS n_items,
           CAST(COALESCE(list_sum(list_transform(
                    list_filter(arr, x -> x > 25), x -> x * x)), 0)
                AS BIGINT) AS sum_sq_heavy,
           list_contains(arr, 50) AS has_max_qty,
           list_aggregate(list_transform(arr, x -> x >= 1), 'bool_and')
               AS all_positive,
           CAST(list_sum(list_transform(range(1, len(arr) + 1),
                    i -> arr[i] * arr[len(arr) + 1 - i])) AS BIGINT)
               AS dot_reversed
    FROM a
    """,
)
def array_higher_order_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ARRAY higher-order lambda tier — ``transform`` / ``filter`` /
    ``exists`` / ``forall`` / ``aggregate`` / ``zip_with`` driven as
    one pipeline over per-order quantity arrays and pinned against
    DuckDB's list-lambda spelling of the same algebra (the ARRAY
    counterpart of the MAP tier in ``text_token_map_pipeline``; the
    build/explode tier lives in ``array_explode_semantics``). The
    array is deterministic despite ``collect_list``'s arbitrary
    order: collected as (linenumber, qty) structs and
    ``array_sort``-ed — and because this corpus carries DUPLICATE
    line numbers per order, the sort key is the full (linenumber,
    qty) pair on BOTH engines; any remaining tie is between equal
    values, which cannot change ``dot_reversed`` (swapping equal
    cells leaves every product identical). ``dot_reversed`` pairs
    position i with n+1-i, so order is semantics-bearing. ``aggregate`` starts from a bigint
    0 so an empty filtered array folds to 0, mirrored by COALESCE in
    the oracle.

    Scale shape: one partial+final collect per order key (the only
    shuffle), then every lambda runs JVM-side inside whole-stage
    codegen over array cells — no Python, no explode-regroup
    round-trip, no join; arrays are per-order (≤7 lines in TPC-H
    shape), so cells never amplify the shuffle."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("bigint").alias("q"),
    )
    a = li.groupBy("l_orderkey").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("l_linenumber", "q"))),
            lambda s: s["q"],
        ).alias("arr")
    )
    arr = F.col("arr")
    zero = F.lit(0).cast("bigint")
    return a.select(
        "l_orderkey",
        F.size(arr).cast("bigint").alias("n_items"),
        F.aggregate(
            F.transform(F.filter(arr, lambda x: x > 25), lambda x: x * x),
            zero,
            lambda acc, x: acc + x,
        ).alias("sum_sq_heavy"),
        F.exists(arr, lambda x: x == 50).alias("has_max_qty"),
        F.forall(arr, lambda x: x >= 1).alias("all_positive"),
        F.aggregate(
            F.zip_with(arr, F.reverse(arr), lambda x, y: x * y),
            zero,
            lambda acc, x: acc + x,
        ).alias("dot_reversed"),
    )


@register_dormant(
    "string_str_to_map_parse",
    oracle="""
    SELECT doc_id,
           CAST(4 AS BIGINT) AS n_keys,
           lang AS lang_v,
           CAST(doc_id % 8 AS VARCHAR) AS shard_v,
           TRUE AS has_lang,
           'lang,n,shard,source' AS keys_csv
    FROM documents
    """,
)
def string_str_to_map_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``str_to_map`` config-string parsing pinned by RECONSTRUCTION
    (the ``string_url_parse_family`` precedent: the oracle never
    parses — it re-derives every field from the source columns, so
    the Spark parse must exactly invert the deterministic
    ``k=v;...`` construction). Exercises ``str_to_map`` (both
    delimiters are regexes — ``;`` and ``=`` are literal-safe),
    map-key extraction via ``element_at``, ``map_contains_key``, and
    ``map_keys`` + ``array_sort`` serialized through ``concat_ws``
    (MAP cells can't reach the driver hash — the
    ``map_functions`` boundary convention).

    Scale shape: pure map-side scalar work, no shuffle at all; the
    parse runs JVM-side inside codegen."""
    d = _t(spark, sf_dir, "documents")
    cfg = F.concat(
        F.lit("lang="),
        F.col("lang"),
        F.lit(";n="),
        F.col("n_chars").cast("string"),
        F.lit(";shard="),
        (F.col("doc_id") % 8).cast("string"),
        F.lit(";source="),
        F.col("source"),
    )
    parsed = d.select(
        "doc_id", F.str_to_map(cfg, F.lit(";"), F.lit("=")).alias("m")
    )
    return parsed.select(
        "doc_id",
        F.size("m").cast("bigint").alias("n_keys"),
        F.element_at(F.col("m"), F.lit("lang")).alias("lang_v"),
        F.element_at(F.col("m"), F.lit("shard")).alias("shard_v"),
        F.map_contains_key(F.col("m"), F.lit("lang")).alias("has_lang"),
        F.concat_ws(",", F.array_sort(F.map_keys("m"))).alias("keys_csv"),
    )


@register_dormant(
    "scalar_from_csv_parse",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus || ',' || o_orderpriority AS combo,
           o_totalprice AS price,
           TRUE AS roundtrip_ok
    FROM orders WHERE o_orderkey % 20 = 0
    """,
)
def scalar_from_csv_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``to_csv`` → ``from_csv`` expression-level roundtrip with an
    embedded-comma field (the combo column forces RFC4180 quoting on
    serialize and unquoting on parse — the same class
    ``source_csv_quoted_multiline`` pins at file level, here at the
    scalar-expression tier). The double column proves numeric
    fidelity end-to-end: Java's shortest-roundtrip double formatting
    re-parses to the bit-identical double, asserted row-wise by
    ``roundtrip_ok`` (any drift flips the boolean against the
    oracle's constant TRUE) and value-wise by ``price`` hashing
    against the raw source column.

    Scale shape: map-side scalar codegen only, no shuffle."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 20 == 0)
    line = F.to_csv(
        F.struct(
            F.col("o_orderkey").alias("k"),
            F.concat_ws(",", "o_orderstatus", "o_orderpriority").alias(
                "combo"
            ),
            F.col("o_totalprice").alias("price"),
        )
    )
    parsed = o.select(
        "o_orderkey",
        "o_totalprice",
        F.from_csv(line, "k BIGINT, combo STRING, price DOUBLE").alias("p"),
    )
    return parsed.select(
        "o_orderkey",
        F.col("p.combo").alias("combo"),
        F.col("p.price").alias("price"),
        (
            (F.col("p.k") == F.col("o_orderkey"))
            & (F.col("p.price") == F.col("o_totalprice"))
        ).alias("roundtrip_ok"),
    )


@register_dormant(
    "events_ab_rank_sum",
    oracle="""
    WITH r AS (
        SELECT event_type, (user_id % 2 = 0) AS is_a,
               RANK() OVER (PARTITION BY event_type ORDER BY value)
                   AS ra,
               RANK() OVER (PARTITION BY event_type ORDER BY value DESC)
                   AS rd,
               COUNT(*) OVER (PARTITION BY event_type) AS nt
        FROM events WHERE value IS NOT NULL
    ),
    g AS (
        SELECT event_type,
               CAST(COUNT(*) FILTER (WHERE is_a) AS BIGINT) AS n_a,
               CAST(COUNT(*) FILTER (WHERE NOT is_a) AS BIGINT) AS n_b,
               CAST(SUM(ra + nt + 1 - rd) FILTER (WHERE is_a) AS BIGINT)
                   AS r2_a
        FROM r GROUP BY event_type
    )
    SELECT event_type, n_a, n_b,
           r2_a - n_a * (n_a + 1) AS u2_a,
           2 * n_a * n_b - (r2_a - n_a * (n_a + 1)) AS u2_b,
           CAST(r2_a - n_a * (n_a + 1) AS DOUBLE)
               / CAST(2 * n_a * n_b AS DOUBLE) AS auc_a
    FROM g
    """,
)
def events_ab_rank_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Mann-Whitney rank-sum readout per event type — the
    nonparametric companion to ``events_ab_lift`` (that one compares
    arm MEANS; this compares whole DISTRIBUTIONS, the robust choice
    when value is skewed). Everything stays integer until the final
    division: the tie-averaged rank is kept ×2-scaled — for a tied
    group, min_rank + max_rank = RANK() ascending + (n_t + 1 −
    RANK() descending), both integers — so the doubled rank sum
    R2_a, the doubled U statistic u2_a = R2_a − n_a(n_a+1), and the
    complementary u2_b = 2·n_a·n_b − u2_a are exact bigints on both
    engines; ``auc_a`` (= P[A > B] + ½P[tie], the probability of
    superiority) is one raw double division at the end.

    Scale shape: the two rank passes and the count share ONE
    partitioning (event_type) — a single exchange feeds two in-
    partition sorts (asc/desc) and the frame-less count; the final
    aggregate is partial+final on (type, arm). No join, no
    per-pair work — the U statistic via ranks is O(n log n) where
    the naive definition is an O(n²) all-pairs comparison."""
    from pyspark.sql import Window

    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            (F.col("user_id") % 2 == 0).alias("is_a"),
            "value",
        )
    )
    wp = Window.partitionBy("event_type")
    r = e.select(
        "event_type",
        "is_a",
        F.rank().over(wp.orderBy("value")).alias("ra"),
        F.rank().over(wp.orderBy(F.col("value").desc())).alias("rd"),
        F.count(F.lit(1)).over(wp).alias("nt"),
    )
    g = r.groupBy("event_type").agg(
        F.count(F.when(F.col("is_a"), 1)).alias("n_a"),
        F.count(F.when(~F.col("is_a"), 1)).alias("n_b"),
        F.sum(
            F.when(
                F.col("is_a"),
                F.col("ra") + F.col("nt") + 1 - F.col("rd"),
            )
        ).alias("r2_a"),
    )
    u2_a = F.col("r2_a") - F.col("n_a") * (F.col("n_a") + 1)
    return g.select(
        "event_type",
        "n_a",
        "n_b",
        u2_a.alias("u2_a"),
        (F.lit(2) * F.col("n_a") * F.col("n_b") - u2_a).alias("u2_b"),
        (
            u2_a.cast("double")
            / (F.lit(2) * F.col("n_a") * F.col("n_b")).cast("double")
        ).alias("auc_a"),
    )


@register_dormant(
    "events_funnel_conversion_decay",
    oracle="""
    WITH f AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1,
               MIN(CASE WHEN event_type = 'click' THEN ts END) AS t2,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t3
        FROM events GROUP BY user_id
    ),
    s AS (
        SELECT CAST(COUNT(t0) AS BIGINT) AS n_signup,
               CAST(COUNT(CASE WHEN t1 > t0 THEN 1 END) AS BIGINT)
                   AS n_view,
               CAST(COUNT(CASE WHEN t2 > t1 AND t1 > t0 THEN 1 END)
                    AS BIGINT) AS n_click,
               CAST(COUNT(CASE WHEN t3 > t2 AND t2 > t1 AND t1 > t0
                          THEN 1 END) AS BIGINT) AS n_purchase
        FROM f
    )
    SELECT n_signup, n_view, n_click, n_purchase,
           CAST(n_view AS DOUBLE) / NULLIF(CAST(n_signup AS DOUBLE), 0.0)
               AS decay_1,
           CAST(n_click AS DOUBLE) / NULLIF(CAST(n_view AS DOUBLE), 0.0)
               AS decay_2,
           CAST(n_purchase AS DOUBLE)
               / NULLIF(CAST(n_click AS DOUBLE), 0.0) AS decay_3
    FROM s
    """,
)
def events_funnel_conversion_decay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """K-STEP funnel with per-step conversion decay (the header's
    "sessionized funnel steps with per-step conversion decay" lead):
    the 4-step signup → view → click → purchase chain on FIRST-touch
    timestamps, a user counted at step k only if every earlier step
    happened strictly before (the chained-inequality spelling —
    ``events_funnel`` is the 2-step global version; this is the
    full-chain readout with the step-over-step ratios every growth
    dashboard plots). Counts are exact bigints; the three decay
    ratios are raw double divisions, NULL on an empty upstream step
    via try_divide / NULLIF on both engines.

    Scale shape: ONE shuffle (the per-user conditional-MIN
    aggregate), then a global partial+final reduce — the scale-
    correct funnel idiom; the naive K-way self-join is quadratic-
    plus in events-per-user and never appears (plan-pinned:
    no Join in the plan)."""
    e = _t(spark, sf_dir, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    f = e.groupBy("user_id").agg(
        first_ts("signup").alias("t0"),
        first_ts("view").alias("t1"),
        first_ts("click").alias("t2"),
        first_ts("purchase").alias("t3"),
    )
    chain1 = F.col("t1") > F.col("t0")
    chain2 = chain1 & (F.col("t2") > F.col("t1"))
    chain3 = chain2 & (F.col("t3") > F.col("t2"))
    s = f.agg(
        F.count("t0").alias("n_signup"),
        F.count(F.when(chain1, 1)).alias("n_view"),
        F.count(F.when(chain2, 1)).alias("n_click"),
        F.count(F.when(chain3, 1)).alias("n_purchase"),
    )
    return s.select(
        "n_signup",
        "n_view",
        "n_click",
        "n_purchase",
        F.try_divide(
            F.col("n_view").cast("double"), F.col("n_signup").cast("double")
        ).alias("decay_1"),
        F.try_divide(
            F.col("n_click").cast("double"), F.col("n_view").cast("double")
        ).alias("decay_2"),
        F.try_divide(
            F.col("n_purchase").cast("double"),
            F.col("n_click").cast("double"),
        ).alias("decay_3"),
    )


@register_dormant(
    "string_binary_codec_family",
    oracle="""
    SELECT doc_id,
           md5(text) AS md5_hex,
           hex(unhex(md5(text))) AS hex_upper,
           base64(unhex(md5(text))) AS b64,
           CAST(octet_length(unhex(md5(text))) AS BIGINT) AS digest_bytes,
           CAST(octet_length(encode(text)) AS BIGINT) AS utf8_bytes,
           CAST(length(text) AS BIGINT) AS n_codepoints
    FROM documents
    """,
)
def string_binary_codec_family(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BINARY codec scalar family — ``unhex`` / ``hex`` / ``base64``
    / ``octet_length`` / ``encode`` driven through a real binary
    value (the md5 digest of each document) and pinned cross-engine:
    lowercase md5 text, uppercase hex re-encode, RFC4648 base64, and
    the bytes-vs-codepoints split (``utf8_bytes`` ≠ ``n_codepoints``
    on the zh documents — the classic tokenizer-budget bug where
    char counts silently stand in for byte sizes). The digest is the
    only binary that ever leaves the expression tree, and it leaves
    SERIALIZED (hex/base64 strings) per the driver-hash boundary
    convention.

    Scale shape: map-side scalar codegen only, no shuffle, binary
    cells never reach the driver raw."""
    d = _t(spark, sf_dir, "documents")
    b = F.unhex(F.md5("text"))
    return d.select(
        "doc_id",
        F.md5("text").alias("md5_hex"),
        F.hex(b).alias("hex_upper"),
        F.base64(b).alias("b64"),
        F.octet_length(b).cast("bigint").alias("digest_bytes"),
        F.octet_length("text").cast("bigint").alias("utf8_bytes"),
        F.length("text").cast("bigint").alias("n_codepoints"),
    )


@register_dormant(
    "agg_moments_skew_kurtosis",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(CAST(SUM(q) AS VARCHAR) AS DOUBLE) AS sx,
               CAST(CAST(SUM(q * q) AS VARCHAR) AS DOUBLE) AS sx2,
               CAST(CAST(SUM(q * q * q) AS VARCHAR) AS DOUBLE) AS sx3,
               CAST(CAST(SUM((q * q) * (q * q)) AS VARCHAR) AS DOUBLE)
                   AS sx4
        FROM (SELECT l_returnflag,
                     CAST(l_quantity AS DECIMAL(4,2)) AS q
              FROM lineitem)
        GROUP BY l_returnflag
    ),
    m AS (
        SELECT l_returnflag, n, sx / n AS m1,
               sx2 / n - (sx / n) * (sx / n) AS m2,
               sx2, sx3, sx4
        FROM s
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           m2 AS var_pop,
           (sx3 / n - 3.0 * m1 * (sx2 / n) + 2.0 * m1 * m1 * m1)
               / NULLIF(m2 * sqrt(m2), 0.0) AS skewness_pop,
           (sx4 / n - 4.0 * m1 * (sx3 / n) + 6.0 * m1 * m1 * (sx2 / n)
                - 3.0 * m1 * m1 * m1 * m1)
               / NULLIF(m2 * m2, 0.0) - 3.0 AS excess_kurtosis_pop
    FROM m
    """,
)
def agg_moments_skew_kurtosis(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT higher moments — population skewness and excess
    kurtosis from decimal-exact power sums, the 3rd/4th-moment
    extension of ``agg_variance_exact``: Σx, Σx², Σx³, Σx⁴ are exact
    decimals (quantity fits DECIMAL(4,2); x⁴ lands on DECIMAL(19,8)
    with no precision-38 rounding — x⁴ is computed as (x²)·(x²) so
    no intermediate exceeds the cap), so the only float ops are the
    identical closed-form combination on both engines. The built-in
    ``skewness``/``kurtosis`` aggregates use engine-specific
    streaming update orders and can never hash-match — sufficient
    statistics are also the mergeable map-side form a distributed
    engine wants. DuckDB's decimal→double cast is 1 ULP off beyond
    2^53 (Σx⁴ crosses it by sf0.1), hence the VARCHAR hop.

    Scale shape: one partial+final aggregate; four extra decimal
    multiplies per row, all codegen."""
    q = F.col("l_quantity").cast("decimal(4,2)")
    q2 = q * q
    s = (
        _t(spark, sf_dir, "lineitem")
        .select("l_returnflag", q.alias("q"), q2.alias("q2"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("q").cast("double").alias("sx"),
            F.sum(F.col("q2")).cast("double").alias("sx2"),
            F.sum(F.col("q2") * F.col("q")).cast("double").alias("sx3"),
            F.sum(F.col("q2") * F.col("q2")).cast("double").alias("sx4"),
        )
    )
    n, sx, sx2, sx3, sx4 = (
        F.col("n"),
        F.col("sx"),
        F.col("sx2"),
        F.col("sx3"),
        F.col("sx4"),
    )
    m1 = sx / n
    m2 = sx2 / n - (sx / n) * (sx / n)
    skew = F.try_divide(
        sx3 / n - F.lit(3.0) * m1 * (sx2 / n) + F.lit(2.0) * m1 * m1 * m1,
        m2 * F.sqrt(m2),
    )
    kurt = (
        F.try_divide(
            sx4 / n
            - F.lit(4.0) * m1 * (sx3 / n)
            + F.lit(6.0) * m1 * m1 * (sx2 / n)
            - F.lit(3.0) * m1 * m1 * m1 * m1,
            m2 * m2,
        )
        - F.lit(3.0)
    )
    return s.select(
        "l_returnflag",
        n.cast("bigint").alias("n_rows"),
        m2.alias("var_pop"),
        skew.alias("skewness_pop"),
        kurt.alias("excess_kurtosis_pop"),
    )


@register_dormant(
    "text_sentence_segmentation",
    oracle="""
    WITH s AS (
        SELECT doc_id,
               list_filter(list_transform(
                   regexp_split_to_array(text, '[.!?]+'), p -> trim(p)),
                   p -> p <> '') AS sents
        FROM documents
    )
    SELECT doc_id,
           CAST(len(sents) AS BIGINT) AS n_sentences,
           CAST(COALESCE(list_sum(list_transform(sents,
                    p -> length(p))), 0) AS BIGINT) AS total_chars,
           CAST(list_aggregate(list_transform(sents, p -> length(p)),
                    'max') AS BIGINT) AS max_chars,
           CAST(COALESCE(list_sum(list_transform(sents,
                    p -> length(p))), 0) AS DOUBLE)
               / NULLIF(CAST(len(sents) AS DOUBLE), 0.0) AS avg_chars
    FROM s
    """,
)
def text_sentence_segmentation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SENTENCE segmentation stats — the sentence-level quality
    signal (avg/max sentence length drives boilerplate and
    run-on-text filters; ``text_chunking`` cuts fixed windows,
    ``text_token_stats`` counts words — neither sees sentence
    boundaries). Split on the EXPLICIT terminator class ``[.!?]+``
    (identical semantics in Java regex and RE2 — the same
    provably-identical-class discipline as
    ``text_token_map_pipeline`` after ADVICE r15), trim each piece,
    drop empties, then length stats per document; ``max_chars`` is
    NULL and ``avg_chars`` NULL for sentence-less documents on both
    engines (array_max/list_aggregate-max of empty, try_divide /
    NULLIF).

    Scale shape: map-side array lambdas in codegen, no explode, no
    shuffle; sentence cells never leave the expression tree."""
    d = _t(spark, sf_dir, "documents")
    sents = F.filter(
        F.transform(F.split("text", r"[.!?]+"), lambda p: F.trim(p)),
        lambda p: p != "",
    )
    lens = F.transform(sents, lambda p: F.length(p))
    zero = F.lit(0).cast("bigint")
    total = F.aggregate(
        lens, zero, lambda acc, x: acc + x.cast("bigint")
    )
    nsent = F.size(sents).cast("bigint")
    return d.select(
        "doc_id",
        nsent.alias("n_sentences"),
        total.alias("total_chars"),
        F.array_max(lens).cast("bigint").alias("max_chars"),
        F.try_divide(total.cast("double"), nsent.cast("double")).alias(
            "avg_chars"
        ),
    )


# ---------------------------------------------------------------------------
# Round-16 closing wave — the pen CLOSES at 15 with the remaining
# uncovered scalar surfaces (format/codec-style string builders,
# epoch conversions, outer-generate semantics) and the
# variance-weighted sampling design.
# ---------------------------------------------------------------------------


@register_dormant(
    "string_format_family",
    oracle="""
    SELECT p_partkey,
           lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS padded_key,
           printf('%05d|%s', p_partkey % 1000, p_brand) AS fmt_label,
           translate(p_type, 'AEIOU', 'aeiou') AS devoweled,
           repeat('ab', p_size % 4) AS repeated,
           reverse(p_name) AS reversed_name
    FROM part WHERE p_partkey % 5 = 0
    """,
)
def string_format_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRING formatting/building scalar family — ``lpad`` /
    ``format_string`` / ``translate`` / ``repeat`` / ``reverse``
    pinned against DuckDB's lpad/printf/translate/repeat/reverse.
    ``format_string`` is Java ``String.format`` vs C-style printf —
    deliberately restricted to the ``%05d``/``%s`` subset where the
    two dialects are identical (locale-dependent conversions like
    %f or %,d are NOT cross-engine-stable and stay out). The
    zero-repeat edge (p_size % 4 = 0 → empty string) rides on both
    engines.

    Scale shape: map-side scalar codegen, no shuffle; the modulus
    filter is pushed to the scan."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 5 == 0)
    return p.select(
        "p_partkey",
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias(
            "padded_key"
        ),
        F.format_string(
            "%05d|%s", (F.col("p_partkey") % 1000).cast("int"), "p_brand"
        ).alias("fmt_label"),
        F.translate("p_type", "AEIOU", "aeiou").alias("devoweled"),
        F.repeat(F.lit("ab"), (F.col("p_size") % 4).cast("int")).alias(
            "repeated"
        ),
        F.reverse("p_name").alias("reversed_name"),
    )


@register_dormant(
    "scalar_epoch_conversions",
    oracle="""
    SELECT event_id,
           epoch_us(CAST(ts AS TIMESTAMP)) AS us,
           epoch_ms(CAST(ts AS TIMESTAMP)) AS ms,
           epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS secs,
           make_timestamp(epoch_us(CAST(ts AS TIMESTAMP)))
               = CAST(ts AS TIMESTAMP) AS ts_roundtrip_ok,
           CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS epoch_days,
           (DATE '1970-01-01' + INTERVAL (1) DAY
                * (CAST(ts AS DATE) - DATE '1970-01-01'))
               = CAST(ts AS DATE) AS date_roundtrip_ok
    FROM events WHERE event_id % 20 = 0
    """,
)
def scalar_epoch_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPOCH integer conversion family — ``unix_micros`` /
    ``unix_millis`` / micro→second integer division /
    ``timestamp_micros`` roundtrip / ``unix_date`` /
    ``date_from_unix_date`` roundtrip, pinned against DuckDB's
    epoch_us/epoch_ms/make_timestamp and raw date arithmetic. This
    is the surface every event-time bound in the engine rides on
    (the CLAUDE.md ``unix_micros``-not-``unix_timestamp`` invariant
    — ``unix_timestamp`` truncates sub-second precision and is
    exactly the bug this query would catch); everything stays in
    exact int64, the roundtrip booleans prove the conversions
    invert losslessly at microsecond and day grain. The oracle hops
    through ``CAST(ts AS TIMESTAMP)`` before every epoch_* and the
    roundtrip compare so DuckDB sees the same micro-grain value Spark
    reads from the TIMESTAMP(NANOS) parquet column — without it a
    sub-microsecond component in the corpus would diverge the
    roundtrip boolean (r16 ADVICE).

    Scale shape: map-side scalar codegen; the modulus filter is
    pushed to the scan; no shuffle."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") % 20 == 0)
    ts = F.col("ts").cast("timestamp")
    us = F.unix_micros(ts)
    d = ts.cast("date")
    days = F.unix_date(d)
    return e.select(
        "event_id",
        us.alias("us"),
        F.unix_millis(ts).alias("ms"),
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000").alias(
            "secs"
        ),
        (F.timestamp_micros(us) == ts).alias("ts_roundtrip_ok"),
        days.cast("bigint").alias("epoch_days"),
        (F.date_from_unix_date(days) == d).alias("date_roundtrip_ok"),
    )


@register_dormant(
    "array_posexplode_outer",
    oracle="""
    WITH heavy AS (
        SELECT l_orderkey,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY l_orderkey
                   ORDER BY l_linenumber, CAST(l_quantity AS BIGINT)
               ) - 1 AS INTEGER) AS pos,
               CAST(l_linenumber AS INTEGER) AS ln,
               CAST(l_quantity AS BIGINT) AS q
        FROM lineitem WHERE l_quantity > 45
    ),
    orders_all AS (SELECT DISTINCT l_orderkey FROM lineitem)
    SELECT o.l_orderkey, h.pos, h.ln, h.q
    FROM orders_all o LEFT JOIN heavy h USING (l_orderkey)
    """,
)
def array_posexplode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUTER-generate semantics — ``posexplode_outer`` over a
    possibly-EMPTY per-order array (heavy lines only, qty > 45;
    most orders have none) keeps the parent row with NULL
    position/fields, pinned against the relational LEFT JOIN
    spelling. The plain/outer explode split is a classic migration
    bug (inner explode silently DROPS parents with empty arrays —
    ``array_explode_semantics`` pins the inner side; this pins the
    outer). Array order is semantics-bearing through ``pos``, so
    the struct sort uses the same (linenumber, qty) key as the
    oracle's ROW_NUMBER (ties beyond it are identical rows, which
    swap invisibly).

    Scale shape: ONE per-order collect shuffle + a map-side
    Generate — the outer-generate REPLACES the oracle's
    distinct + left-join (two shuffles and a join) with one
    aggregate, which is the point at 100 TB."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_linenumber").cast("int").alias("ln"),
        F.col("l_quantity").cast("bigint").alias("q"),
    )
    a = li.groupBy("l_orderkey").agg(
        F.filter(
            F.array_sort(F.collect_list(F.struct("ln", "q"))),
            lambda s: s["q"] > 45,
        ).alias("arr")
    )
    return a.select(
        "l_orderkey", F.posexplode_outer("arr").alias("pos", "item")
    ).select(
        "l_orderkey",
        "pos",
        F.col("item.ln").alias("ln"),
        F.col("item.q").alias("q"),
    )


@register_dormant(
    "sample_neyman_allocation",
    oracle="""
    WITH s AS (
        SELECT l_returnflag, l_linestatus,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(CAST(SUM(q) AS VARCHAR) AS DOUBLE) AS sx,
               CAST(CAST(SUM(q * q) AS VARCHAR) AS DOUBLE) AS sx2
        FROM (SELECT l_returnflag, l_linestatus,
                     CAST(l_quantity AS DECIMAL(12,2)) AS q
              FROM lineitem)
        GROUP BY 1, 2
    ),
    w AS (
        SELECT l_returnflag, l_linestatus, n,
               n * sqrt((n * sx2 - sx * sx) / (n * (n - 1.0))) AS wgt
        FROM s
    ),
    q AS (
        SELECT l_returnflag, l_linestatus, n, wgt,
               1000.0 * wgt / SUM(wgt) OVER () AS quota
        FROM w
    ),
    fl AS (
        SELECT l_returnflag, l_linestatus, n, quota,
               CAST(floor(quota) AS BIGINT) AS base,
               quota - floor(quota) AS rem
        FROM q
    ),
    rk AS (
        SELECT *,
               ROW_NUMBER() OVER (ORDER BY rem DESC, l_returnflag,
                                  l_linestatus) AS rr,
               1000 - SUM(base) OVER () AS leftover
        FROM fl
    )
    SELECT l_returnflag, l_linestatus,
           CAST(n AS BIGINT) AS n_rows,
           base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS alloc
    FROM rk
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEYMAN (variance-weighted) stratified allocation — the
    optimal sample-size split n_h ∝ N_h·S_h for a fixed budget
    K=1000, the statistical upgrade of the proportional (Hamilton)
    allocation in ``sample_proportional_allocation``: strata with
    higher within-stratum spread get more of the budget. S_h comes
    from exact decimal sufficient statistics (the
    ``agg_variance_exact`` discipline), so the double quota is the
    same IEEE expression on both engines; integer floors +
    largest-remainder top-up make Σ alloc = K exactly (ranking ties
    broken by the stratum key, so the apportionment is
    deterministic).

    Scale shape: one partial+final corpus aggregate onto the
    |strata| frame; every window below runs on that tiny frame —
    the corpus is scanned once and never re-shuffled."""
    from pyspark.sql import Window

    q = F.col("l_quantity").cast(D_PRICE)
    s = (
        _t(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus", q.alias("q"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("q").cast("double").alias("sx"),
            F.sum(F.col("q") * F.col("q")).cast("double").alias("sx2"),
        )
    )
    n, sx, sx2 = F.col("n"), F.col("sx"), F.col("sx2")
    wgt = n * F.sqrt((n * sx2 - sx * sx) / (n * (n - F.lit(1.0))))
    w = s.select("l_returnflag", "l_linestatus", n.alias("n"), wgt.alias("wgt"))
    wall = Window.partitionBy()
    quota = F.lit(1000.0) * F.col("wgt") / F.sum("wgt").over(wall)
    fl = w.select(
        "l_returnflag",
        "l_linestatus",
        "n",
        quota.alias("quota"),
        F.floor(quota).cast("bigint").alias("base"),
        (quota - F.floor(quota)).alias("rem"),
    )
    rk = fl.select(
        "*",
        F.row_number()
        .over(
            wall.orderBy(
                F.col("rem").desc(), "l_returnflag", "l_linestatus"
            )
        )
        .alias("rr"),
        (F.lit(1000) - F.sum("base").over(wall)).alias("leftover"),
    )
    return rk.select(
        "l_returnflag",
        "l_linestatus",
        F.col("n").cast("bigint").alias("n_rows"),
        (
            F.col("base")
            + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
        ).alias("alloc"),
    )
