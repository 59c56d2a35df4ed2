"""Deduplication operators for LLM-data pipelines (north-star ops):
exact, MinHash+LSH, SimHash, n-gram Jaccard — over a text corpus like
the ``documents`` table.

Design for 100 TB:
- **Exact**: md5-fingerprint groupBy — one shuffle on the fingerprint;
  map-side partial aggregation collapses per-partition duplicates
  first.
- **MinHash+LSH**: per-doc signatures are computed in a single
  projection (no shuffle, no UDF — md5/array built-ins only); the LSH
  band join shuffles on (band_idx, band_key), so candidate generation
  is O(duplicate clusters), never the O(n²) all-pairs join.
  Candidates are then verified with exact Jaccard — only on the tiny
  candidate set.
- **SimHash**: one projection producing a compact integer signature;
  near-dup candidates come from an equi-join on signature bit-blocks
  (pigeonhole guarantees recall at hamming ≤ blocks-1), verified with
  exact ``bit_count(xor)`` — see :func:`simhash_pairs`.
- **n-gram Jaccard**: exact pairwise similarity, made scalable by a
  *blocking key* equi-join (same token prefix) instead of a cross
  join.

Determinism: all hashes derive from md5 hex (engine-independent), so
every operator here is oracle-checkable in DuckDB with the same
construction. Hash value = first 8 md5 hex chars as a bigint
(unsigned 32-bit range — no sign issues).

Fault tolerance of lineage cuts: several operators here (and their
callers) truncate lineage between iterative stages via
``session.truncate_lineage`` (used as ``df.transform(...)``). The
default is ``localCheckpoint`` (executor block storage — fast, but an
executor loss makes the blocks unrecoverable and fails the job);
setting ``RSQES_CHECKPOINT_DIR`` to a reliable-FS path switches EVERY
call site in the engine to ``setCheckpointDir`` + ``df.checkpoint``,
which survives executor loss at the cost of a distributed-FS write —
the right trade for multi-hour 100 TB runs on preemptible fleets.
Rationale and the flip test: ``session.truncate_lineage`` docstring,
``tests/unit/test_checkpoint_switch.py``, SURVEY.md §8.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from rs_query_engine_spark.session import truncate_lineage

from rs_query_engine_spark.functions.text import normalize_text, shingles, tokens
from rs_query_engine_spark.sources.corpus import spread


def _hash_hex8(expr: Column) -> Column:
    """First 8 md5 hex chars → bigint in [0, 2^32). Identical in
    DuckDB: ``('0x' || substr(md5(x),1,8))::BIGINT``. (Alias of the
    engine-wide primitive in ``functions.hashing``.)"""
    from rs_query_engine_spark.functions.hashing import md5_hex8

    return md5_hex8(expr)


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on normalized text: keep the smallest id per
    fingerprint, report cluster size."""
    df = spread(df)
    return (
        df.select(F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


# smallest prime above 2^32 — modulus of the affine MinHash family
MINHASH_PRIME = 4294967311

# word n-gram width of every shingle-set operator in this module
SHINGLE_N = 3


def minhash_signature(text: Column) -> Column:
    """MinHash signature (array<bigint>, length ``MINHASH_NUM_HASHES``)
    over word ``SHINGLE_N``-gram shingles.

    Hash family: ONE md5 base hash per shingle (first 8 hex chars →
    bigint < 2^32), then ``MINHASH_NUM_HASHES`` affine perturbations
    ``h_i(x) = ((2i+1)·x + (7919i+17)) mod MINHASH_PRIME`` — the
    textbook universal family, deterministic and oracle-expressible.

    Built as a SINGLE array pass: ``F.aggregate`` folds the base-hash
    array into a ``num_hashes``-wide running-min accumulator
    (``zip_with(acc, affines(x), least)``), so the shingle/md5
    subexpression appears exactly once in the plan. The naive form —
    ``array(*[array_min(transform(sh, hash_i)) ...])`` — embeds the
    shingle expression ``num_hashes`` times and re-evaluates it per
    hash (measured 8× slower at sf0.1); nesting the base-hash array
    inside an outer ``transform`` lambda is equally bad because HOF
    lambda bodies re-evaluate their captured subtrees per element.

    Empty shingle sets keep the init accumulator [2^33]*num (never
    collides with real hashes < 2^32)."""

    return _minhash_from_shingles(
        F.array_distinct(shingles(text, SHINGLE_N)), MINHASH_NUM_HASHES
    )


def _minhash_from_shingles(sh: Column, num_hashes: int) -> Column:
    """Signature from an already-computed (distinct) shingle array —
    lets callers that also need the shingle set stage it in a prior
    projection so it is computed once (see :func:`minhash_signature`
    for the hash family and the single-pass rationale)."""

    def affines(x: Column) -> Column:
        return F.array(
            *[
                (F.lit(2 * i + 1) * x + F.lit(7919 * i + 17)) % F.lit(MINHASH_PRIME)
                for i in range(num_hashes)
            ]
        )

    hs = F.transform(sh, lambda s: _hash_hex8(s))
    return F.aggregate(
        hs,
        F.array_repeat(F.lit(2**33).cast("bigint"), num_hashes),
        lambda acc, x: F.zip_with(acc, affines(x), lambda m, h: F.least(m, h)),
    )


def _pairs_within(docs: Column) -> Column:
    """All unordered pairs from a bucket's ``array<struct<_id,_sh>>``,
    as ``array<struct<id_a,id_b,sh_a,sh_b>>`` with id_a < id_b.

    Positional (i, j>i) expansion via a two-arg (element, index)
    transform + slice; each struct is emitted id-ordered so downstream
    dedup/compare is canonical. Pair count is quadratic in bucket size
    — callers bucket by an LSH band key or blocking key precisely so
    buckets stay near-dup-cluster-sized."""
    return F.flatten(
        F.transform(
            docs,
            lambda d1, i: F.transform(
                F.slice(docs, i + 2, F.greatest(F.size(docs) - i - 1, F.lit(0))),
                lambda d2: F.when(
                    d1["_id"] < d2["_id"],
                    F.struct(
                        d1["_id"].alias("id_a"),
                        d2["_id"].alias("id_b"),
                        d1["_sh"].alias("sh_a"),
                        d2["_sh"].alias("sh_b"),
                    ),
                ).otherwise(
                    F.struct(
                        d2["_id"].alias("id_a"),
                        d1["_id"].alias("id_b"),
                        d2["_sh"].alias("sh_a"),
                        d1["_sh"].alias("sh_b"),
                    )
                ),
            ),
        )
    )


def pairs_within_ids(
    ids: Column, a_name: str = "id_a", b_name: str = "id_b"
) -> Column:
    """All unordered (i, j>i) pairs from a bucket's id array, as
    ``array<struct<a_name, b_name>>`` with the SMALLER id first
    (least/greatest — a no-op when the array is already sorted).

    The id-only sibling of :func:`_pairs_within` (which also carries
    shingle payloads): positional expansion via a two-arg (element,
    index) transform + slice. Shared by every bucket-pairing candidate
    generator (MinHash LSH, the MinHash estimate audit, market-basket
    pairs) so the slice-bound arithmetic lives in exactly one place."""
    return F.flatten(
        F.transform(
            ids,
            lambda d1, i: F.transform(
                F.slice(ids, i + 2, F.greatest(F.size(ids) - i - 1, F.lit(0))),
                lambda d2: F.struct(
                    F.least(d1, d2).alias(a_name),
                    F.greatest(d1, d2).alias(b_name),
                ),
            ),
        )
    )


# The production MinHash-LSH configuration. Auditing queries (e.g.
# dedup_minhash_estimate) derive their candidate sets from these SAME
# constants + helpers, so a tuning change here is automatically what
# gets audited — never a stale inline copy.
MINHASH_NUM_HASHES = 16
MINHASH_BANDS = 4
MINHASH_MAX_BUCKET = 1000


def minhash_band_keys(sig: Column) -> Column:
    """Explodable array of (band, key) structs from a MinHash
    signature array: band b's key concatenates its ``MINHASH_NUM_HASHES
    // MINHASH_BANDS`` signature components with '-'."""
    rows = MINHASH_NUM_HASHES // MINHASH_BANDS
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "-", *[sig[b * rows + r] for r in range(rows)]
                ).alias("key"),
            )
            for b in range(MINHASH_BANDS)
        ]
    )


def banded_candidate_pairs(
    banded: DataFrame, max_bucket: int = MINHASH_MAX_BUCKET
) -> DataFrame:
    """Distinct candidate pairs from a banded (_id, band, key) frame:
    bucket by (band, key), cap degenerate buckets at ``max_bucket``
    (oversized buckets are skipped — true near-dups in them still meet
    via their other bands, the standard recall/size trade), and pair
    WITHIN each bucket's id array. Only (id, band, key) rides the
    shuffle — payloads join back on the (tiny) candidate set."""
    buckets = (
        banded.groupBy("band", "key")
        .agg(F.collect_list("_id").alias("ids"))
        .filter(F.size("ids").between(2, max_bucket))
    )
    return (
        buckets.select(F.explode(pairs_within_ids(F.col("ids"))).alias("p"))
        .select("p.*")
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_bucket: int = MINHASH_MAX_BUCKET,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH + exact-Jaccard
    verification.

    Pipeline: signature projection → explode into ``MINHASH_BANDS``
    band keys → self-equi-join on (band, key) → distinct candidate
    pairs → exact Jaccard on shingle sets → Jaccard ≥ 0.5 filter.
    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    # stage shingles in their own projection so the expensive shingle
    # construction runs once per row (CollapseProject keeps expensive
    # multi-referenced producer expressions un-inlined), then
    # localCheckpoint: sh_df is consumed three times (signature + the
    # two verification joins) and the checkpoint stores the raw rows
    # via the block manager (memory-and-disk, no columnar re-encode —
    # unlike persist(), whose columnar cache build of array<string>
    # measured 4× the whole query; the checkpoint measured ~1.7×
    # faster end-to-end than recomputing the projection three times)
    sh_df = (
        spread(df)
        .select(
            F.col(id_col).alias("_id"),
            F.array_distinct(shingles(F.col(text_col), SHINGLE_N)).alias("_sh"),
        )
        .transform(truncate_lineage)
    )
    # docs with no complete shingle share the sentinel signature and
    # would all collide into one degenerate bucket (and 0/0 Jaccard);
    # they can never clear a positive threshold, so drop them here
    sig = sh_df.filter(F.size("_sh") > 0).select(
        "_id", _minhash_from_shingles(F.col("_sh"), MINHASH_NUM_HASHES).alias("_sig")
    )
    banded = sig.select(
        "_id",
        F.explode(minhash_band_keys(F.col("_sig"))).alias("bk"),
    ).select("_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

    # candidate generation: bucket by (band, key) and pair WITHIN each
    # bucket, instead of a banded self-join (banded_candidate_pairs —
    # bucket sizes track true near-dup cluster sizes, so the per-bucket
    # pair expansion stays tiny; shingle sets would multiply shuffle
    # bytes by the document size if carried here)
    pairs = banded_candidate_pairs(banded, max_bucket)
    # verification: fetch shingle sets for the (tiny) candidate set —
    # exact Jaccard runs only on candidates; AQE turns both joins into
    # broadcasts once it sees the candidate-set size at runtime
    a = sh_df.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    b = sh_df.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    cand = b.join(a.join(pairs, "id_a"), "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    # try_divide: defensive against 0/0 should empty sets ever reach
    # verification
    jac = F.try_divide(inter.cast("double"), union)
    return (
        cand.select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


# SimHash signature width; the DuckDB oracles' signature SQL
# (queries._simhash_sql) reads it too
SIMHASH_BITS = 32


def simhash(text: Column) -> Column:
    """SimHash signature (bigint, ``SIMHASH_BITS`` wide) over word tokens.

    Per token: 32-bit md5-derived hash; signature bit j is set when
    the sum over tokens of (bit_j ? 1 : -1) is positive — computed as
    2 * (#tokens with bit j) > #tokens, all with array built-ins.

    The token-hash array is bound as a lambda variable of a transform
    over a ONE-ELEMENT array: every term references the lambda
    variable, so the md5 pass over the tokens runs exactly once per
    row — a directly captured subtree would be re-evaluated per term
    (HOF lambda bodies and sibling expressions are not CSE'd; measured
    30× the md5 work at 32 bits).

    The per-bit counts fold in ONE aggregate pass building an array of
    ``bits`` counters (zip_with add per token) instead of ``bits``
    separate filter() scans — same integers, one pass, and ~20 py4j
    calls to construct instead of ~300 (a measured ~1 s of driver time
    per query construction at 32 bits). Bit j is extracted as
    ``floor(x / 2^j) % 2`` because shiftright needs a literal shift,
    and j is a lambda variable here; 2^j is double-exact for j < 53."""
    bits = SIMHASH_BITS
    toks = tokens(text)

    def bits_of(x: Column) -> Column:
        # int bit j of x, for lambda-variable j
        return F.transform(
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda j: (
                F.floor(x / F.pow(F.lit(2.0), j.cast("double"))).cast("bigint")
                % 2
            ).cast("int"),
        )

    def sig(h: Column) -> Column:
        n = F.size(h)
        counts = F.aggregate(
            h,
            F.array_repeat(F.lit(0), bits),
            lambda acc, x: F.zip_with(acc, bits_of(x), lambda a, b: a + b),
        )
        weighted = F.zip_with(
            counts,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda c, j: F.when(
                F.lit(2) * c > n,
                F.pow(F.lit(2.0), j.cast("double")).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint")),
        )
        return F.aggregate(
            weighted, F.lit(0).cast("bigint"), lambda acc, x: acc + x
        )

    hashed = F.transform(toks, lambda t: _hash_hex8(t))
    return F.element_at(F.transform(F.array(hashed), sig), 1)


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs via SimHash + hamming-block LSH.

    Pigeonhole: two signatures within hamming distance 3 must agree on
    at least one of 4 equal-width bit blocks, so an equi-join on
    (block_idx, block_value) retrieves every pair with hamming ≤ 3
    (blocks-1, the guaranteed radius) without an all-pairs join.
    Verification is exact: ``bit_count(sig_a XOR sig_b) <= 3``.

    Scale notes: the signature is ONE bigint, so unlike the MinHash
    pipeline (where shingle sets must stay out of the shuffle) the
    full (id, sig) rides the bucket shuffle at 16 bytes/row. With
    32-bit signatures a block is 8 bits = 256 distinct bucket values
    per block — fine for corpus-sized tests, but a petabyte corpus
    needs 64-bit signatures with 6-8 blocks so bucket count scales;
    the block arithmetic below follows the two widths. ``max_bucket``
    caps the quadratic within-bucket pair expansion against degenerate
    buckets (e.g. empty docs all hashing to 0): oversized buckets are
    skipped — their members can still pair via their other blocks.
    """
    blocks, max_hamming = 4, 3
    block_bits = SIMHASH_BITS // blocks
    mask = (1 << block_bits) - 1
    sig_df = spread(df).select(
        F.col(id_col).alias("_id"), simhash(F.col(text_col)).alias("_sig")
    )
    banded = sig_df.select(
        "_id",
        "_sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("blk"),
                        F.shiftright(F.col("_sig"), block_bits * j)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for j in range(blocks)
                ]
            )
        ).alias("b"),
    ).select("_id", "_sig", F.col("b.blk").alias("blk"), F.col("b.val").alias("val"))
    # SimHash bits are CORRELATED on template-heavy corpora, so block
    # buckets skew hard (measured: one 8-bit block value captured 27%
    # of sf0.1 docs). Candidate generation is therefore a self-JOIN on
    # the block key — not a collect_list + per-bucket expansion, which
    # runs each hot bucket's quadratic blowup in ONE task; the join
    # spreads pair production across partitions and AQE's skew-join
    # splits the hot keys. The payload is one bigint, so carrying the
    # signature through the join costs nothing (contrast MinHash,
    # where shingle sets must stay out of the shuffle).
    banded = banded.transform(truncate_lineage)  # consumed 3×; signature stage runs once
    sizes = banded.groupBy("blk", "val").count()
    ok = banded.join(
        F.broadcast(sizes.filter(F.col("count").between(2, max_bucket))),
        ["blk", "val"],
    )
    a = ok.select("blk", "val", F.col("_id").alias("id_a"), F.col("_sig").alias("sig_a"))
    b = ok.select("blk", "val", F.col("_id").alias("id_b"), F.col("_sig").alias("sig_b"))
    pairs = (
        a.join(
            b,
            (a["blk"] == b["blk"]) & (a["val"] == b["val"]) & (a["id_a"] < b["id_b"]),
        )
        .select("id_a", "id_b", "sig_a", "sig_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("int")
    return pairs.select("id_a", "id_b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def hyperplane_signs(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 random-hyperplane components: plane i, dim d →
    +1 iff the low bit of md5(f"{i}-{d}")'s first 8 hex chars is set.
    Python's hashlib.md5 is the same md5 as DuckDB's, so the oracle SQL
    embeds the *identical* literals (generated by this function)."""
    return [
        [
            1.0
            if int(hashlib.md5(f"{i}-{d}".encode()).hexdigest()[:8], 16) & 1
            else -1.0
            for d in range(dim)
        ]
        for i in range(num_planes)
    ]


# Hyperplane-LSH shape: HLSH_NUM_PLANES sign bits over HLSH_DIM-wide
# embeddings, split into HLSH_BANDS band keys; the DuckDB oracle's
# band keys (queries._hlsh_band_values) read the same constants
HLSH_NUM_PLANES = 32
HLSH_BANDS = 8
HLSH_DIM = 64


def embedding_lsh_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int = HLSH_DIM,
    max_bucket: int = 1000,
) -> DataFrame:
    """Embedding near-dup pairs via random-hyperplane (sign) LSH:
    candidates from a banded equi-join on sign-bit block keys, verified
    with exact cosine ≥ 0.4 — never an all-pairs self-join.

    Sign bit i = (v · r_i ≥ 0) for deterministic ±1 hyperplanes r_i
    (:func:`hyperplane_signs`); ``HLSH_NUM_PLANES`` bits split into
    ``HLSH_BANDS`` keys. P[bit match] = 1 − θ/π, so recall per pair is
    1 − (1 − p^(planes/bands))^bands — band width trades recall
    against bucket selectivity.

    Scale notes: candidate generation shuffles only (id, band, key);
    vectors are joined back for the (small) verify set, which AQE
    broadcasts. Bucket count per band is 2^(planes/bands) — it must
    grow with corpus size (more planes / wider bands, multi-probe) or
    buckets outgrow ``max_bucket`` and get skipped; at this corpus the
    default 8×4-bit bands keep buckets far under the cap. The verify
    cosine stages each side's norm in its pre-join projection (norm
    folds per VECTOR, not per pair)."""
    from rs_query_engine_spark.operators.similarity import dot, norm_sq

    num_planes, bands = HLSH_NUM_PLANES, HLSH_BANDS
    planes = hyperplane_signs(num_planes, dim)
    rows = num_planes // bands
    v = F.col(vec_col).cast("array<double>")
    base = spread(df).select(
        F.col(id_col).alias("_id"), v.alias("_v"), F.sqrt(norm_sq(v)).alias("_n")
    )

    # ALL plane dots come from ONE nested plane-matrix literal + a
    # transform lambda (the PQ codebook pattern) instead of one
    # generated fold per plane: 32× fewer expression nodes, so the
    # per-run analysis/optimization/codegen cost — the dominant cost
    # of a literal-heavy plan — stays flat as planes grow. (And one
    # SQL parse, not 2000 py4j literal round trips.) Per-plane float
    # semantics are unchanged: same zip_with/aggregate sequential
    # fold, same 0.0D seed, plane order == literal order.
    plane_lits = ",".join(
        "array(" + ",".join("1.0D" if x > 0 else "-1.0D" for x in planes[i]) + ")"
        for i in range(num_planes)
    )
    dots = F.expr(
        f"transform(array({plane_lits}), p -> "
        "aggregate(zip_with(_v, p, (x, y) -> x * y), "
        "0.0D, (acc, x) -> acc + x))"
    )
    # _d is staged in its own projection: it is referenced by every
    # band key, and CollapseProject keeps expensive multi-referenced
    # producer expressions un-inlined (the minhash staging rationale)
    band_keys = [
        F.expr(
            " + ".join(
                f"(CASE WHEN element_at(_d, {b * rows + r + 1}) >= 0.0D "
                f"THEN {1 << r} ELSE 0 END)"
                for r in range(rows)
            )
        ).alias(f"_k{b}")
        for b in range(bands)
    ]
    # localCheckpoint: banded is consumed three times (bucket sizing +
    # both join sides); checkpointing the tiny (id, band, key) frame
    # runs the 32-plane-dot projection ONCE instead of per consumer
    # (same staging rationale as minhash_lsh_pairs' shingle frame)
    banded = (
        base.select("_id", dots.alias("_d"))
        .select("_id", *band_keys)
        .select(
            "_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"), F.col(f"_k{b}").alias("key")
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bk"),
        )
        .select("_id", "bk.band", "bk.key")
        .transform(truncate_lineage)
    )
    # self-join candidate generation (ids only ride the shuffle): LSH
    # band buckets are coarse by construction (2^(planes/bands) keys
    # per band), so per-bucket array expansion would run each bucket's
    # quadratic pair blowup in a single task; the join parallelizes it
    # and AQE splits skewed keys — see simhash_pairs for the measured
    # rationale
    sizes = banded.groupBy("band", "key").count()
    ok = banded.join(
        F.broadcast(sizes.filter(F.col("count").between(2, max_bucket))),
        ["band", "key"],
    )
    pa = ok.select("band", "key", F.col("_id").alias("id_a"))
    pb = ok.select("band", "key", F.col("_id").alias("id_b"))
    pairs = (
        pa.join(
            pb,
            (pa["band"] == pb["band"])
            & (pa["key"] == pb["key"])
            & (pa["id_a"] < pb["id_b"]),
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    a = base.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("_va"), F.col("_n").alias("_na")
    )
    b = base.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb")
    )
    # verification joins vectors back for the candidate set only; AQE
    # broadcasts whichever side is small at runtime (candidates here;
    # never force-broadcast the corpus side — it is the 100-TB side)
    cand = b.join(a.join(pairs, "id_a"), "id_b")
    cos = F.try_divide(dot(F.col("_va"), F.col("_vb")), F.col("_na") * F.col("_nb"))
    return cand.select("id_a", "id_b", cos.alias("cos")).filter(F.col("cos") >= 0.4)


# The blocked n-gram Jaccard edge threshold: ngram_jaccard_pairs'
# filter and the neighbour rule of graph.block_label_propagation.
NGRAM_JACCARD_THRESHOLD = 0.3


def blocked_shingles(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The ``(_id, _blk, _sh)`` projection every blocked n-gram Jaccard
    consumer reads, cut once: ``_blk`` is the first 8 tokens (the
    blocking key), ``_sh`` the distinct ``SHINGLE_N``-gram shingles.
    Documents with no shingles are kept (``_sh`` empty); each consumer
    decides what they mean."""
    # stage the projection BEFORE any size-filter (r19, guide §2.4):
    # Catalyst pushes filter(size(_sh) > 0) below this projection, so
    # the un-staged spelling ran the shingle chain twice per doc (once
    # in the pushed Filter, once in the Project). With the checkpoint
    # the chain runs once and the filter reads the stored column.
    return spread(df).select(
        F.col(id_col).alias("_id"),
        F.array_join(F.slice(tokens(F.col(text_col)), 1, 8), " ").alias("_blk"),
        F.array_distinct(shingles(F.col(text_col), SHINGLE_N)).alias("_sh"),
    ).transform(truncate_lineage)


def shingle_jaccard(sh_a: str, sh_b: str) -> str:
    """SQL for the exact Jaccard of two distinct-shingle arrays as a
    double: ``try_divide(|a ∩ b|, |a ∪ b|)`` (NULL when both are
    empty). SQL text, so lambda bodies can use it too."""
    inter = f"size(array_intersect({sh_a}, {sh_b}))"
    return f"try_divide(CAST({inter} AS DOUBLE), size({sh_a}) + size({sh_b}) - {inter})"


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (Jaccard ≥
    ``NGRAM_JACCARD_THRESHOLD``) with prefix *blocking*: only doc pairs
    sharing their first 8 tokens (:func:`blocked_shingles`) are
    compared — an equi-join on the blocking key instead of a cross
    join (the blocking key can be swapped for any cheap canopy)."""
    # empty docs all share block "" → degenerate bucket + 0/0 Jaccard
    t = blocked_shingles(df, id_col, text_col).filter(F.size("_sh") > 0)
    # bucket by blocking key and pair within buckets (same shape as
    # minhash_lsh_pairs): one shingle pass + one shuffle instead of a
    # self-join that recomputes and reshuffles the shingle projection
    # per side
    buckets = (
        t.groupBy("_blk")
        .agg(F.collect_list(F.struct("_id", "_sh")).alias("docs"))
        .filter(F.size("docs") > 1)
    )
    pairs = buckets.select(F.explode(_pairs_within(F.col("docs"))).alias("p")).select(
        "p.*"
    )
    return (
        pairs.select(
            "id_a", "id_b", F.expr(shingle_jaccard("sh_a", "sh_b")).alias("jaccard")
        )
        .filter(F.col("jaccard") >= NGRAM_JACCARD_THRESHOLD)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    probe_frac: float = 0.2,
    max_df: int = 1000,
) -> DataFrame:
    """ASYMMETRIC containment pairs: (id_a, id_b, containment) where
    containment = |sh(A) ∩ sh(B)| / |sh(A)| ≥ ``threshold`` — A is
    (mostly) contained in B. Jaccard misses these: a paragraph quoted
    inside a 100× longer doc has tiny Jaccard but containment ≈ 1;
    this is the quote/subset/boilerplate-envelope detector a training
    corpus needs alongside symmetric near-dup.

    Candidate generation is PREFIX FILTERING (the PPJoin family,
    Xiao et al., WWW'08): order each doc's shingles by ascending
    document frequency (ties by shingle — any fixed global order
    works) and probe with only the first ⌊(1−t)·|A|⌋+1 — if B contains A at
    ≥ t, it must share at least one probe shingle (pigeonhole), so
    candidates come from an equi-join of A-probes against a (shingle,
    doc) inverted index, never an all-pairs join. Shingles appearing
    in more than ``max_df`` docs are dropped from the index (the
    stop-shingle cap that bounds the worst posting list; candidates
    whose only shared probe is that common survive via their other
    probes or are legitimately skipped — disclosed recall trade, same
    class as the LSH bucket cap).

    Scale notes: probes shuffle O(0.2 · Σ|sh|) rows, the index join is
    a plain shuffle join on the shingle (posting-list sizes come from
    a pre-aggregated frame, NOT broadcast — shingle cardinality grows
    with the corpus), and verification joins the shingle arrays back
    for the deduped candidate set only. Probes are selected in
    ASCENDING document-frequency order (ties by shingle) — the
    canonical prefix-filtering order: any fixed global order preserves
    the pigeonhole guarantee, and rarest-first minimizes the candidate
    set (1.7× fewer even on this synthetic flat-vocabulary corpus;
    orders of magnitude on Zipfian real text). The df frame doubles as
    the ``max_df`` stop-shingle cap."""
    from rs_query_engine_spark.functions.text import shingles
    from rs_query_engine_spark.sources.corpus import spread

    if probe_frac < 1.0 - threshold - 1e-9:
        # pigeonhole exactness needs ⌊probe_frac·|A|⌋+1 probes to cover
        # the ⌊(1−t)·|A|⌋ shingles B may miss — fail loudly instead of
        # silently losing recall (1e-9 slack absorbs the double
        # representation of 1-t, e.g. 1.0-0.7 = 0.30000000000000004)
        raise ValueError(
            f"probe_frac={probe_frac} < 1 - threshold={1.0 - threshold}: "
            "prefix-filtering would miss qualifying pairs"
        )
    sh = (
        spread(df)
        .select(
            F.col(id_col).alias("_id"),
            F.array_distinct(shingles(F.col(text_col), SHINGLE_N)).alias("_sh"),
        )
        .filter(F.size("_sh") > 0)
        .transform(truncate_lineage)  # consumed 3× (probes, index, verify)
    )
    inv = sh.select(F.col("_id").alias("id_b"), F.explode("_sh").alias("shingle"))
    # document frequency as count(1) OVER (PARTITION BY shingle) in
    # the one pass that already shuffles the postings (r19, guide
    # §2.4 — the spans/novelty window-instead-of-join-back pattern):
    # the former groupBy+join-back spelling shuffled the postings
    # (≈ Σ|sh| rows, the pipeline's largest frame) TWICE — once into
    # the count aggregate, once into the join. Identical (shingle,
    # id_b, df) rows by construction; the staged frame still feeds
    # BOTH the probe ranking and the df-capped index.
    inv_df = inv.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    ).transform(truncate_lineage)
    # rank each doc's shingles by (df, shingle): struct array_sort gives
    # the identical order in both engines (BIGINT then ASCII VARCHAR).
    # probe_frac is a SEPARATE literal (not 1.0 - threshold): both
    # engines must floor the same double product, and 1.0 - 0.8 is not
    # the double 0.2.
    ranked = (
        inv_df.withColumnRenamed("id_b", "id_a")
        .groupBy("id_a")
        .agg(F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias("_r"))
    )
    k = F.floor(F.lit(probe_frac) * F.size("_r")).cast("int") + F.lit(1)
    probes = ranked.select(
        "id_a", F.explode(F.slice(F.col("_r"), F.lit(1), k)).alias("_p")
    ).select("id_a", F.col("_p.shingle").alias("shingle"))
    inv_ok = inv_df.filter(F.col("df") <= max_df).select("id_b", "shingle")
    cand = (
        probes.join(inv_ok, "shingle")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    a = sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sha"))
    b = sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_shb"))
    cont = F.size(F.array_intersect("_sha", "_shb")).cast("double") / F.size("_sha")
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", cont.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def semantic_dedup(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023):
    cluster the embedding space, then drop within-cluster near-
    duplicates by pairwise cosine — the dedup family that catches
    *paraphrases* (same meaning, different tokens), which every
    lexical method in this module (exact/MinHash/SimHash/containment)
    structurally misses.

    ``centroids`` is a ``(centroid_id, centroid_vec)`` frame. Returns
    (id, centroid_id, kept): ``kept`` is false iff a SMALLER id
    in the SAME cluster has cosine ≥ ``threshold`` — the greedy
    keep-smallest-id policy, matching the paper's one-representative-
    per-duplicate-group semantics pairwise (transitive chains are the
    job of :func:`...graph.connected_components` when cluster-wide
    grouping is wanted).

    Scale shape: the pair space is an EQUI-JOIN on the cluster id —
    never an all-pairs join; clustering is what makes SemDeDup linear-
    ish (k grows ~√n so cluster sizes stay bounded, and a skewed
    cluster is re-clustered one level down in practice). Centroids are
    broadcast for assignment; the pair join shuffles on the cluster
    id. With DETERMINISTIC centroids (caller-supplied, e.g. fixed
    corpus rows) the whole decision is oracle-expressible; production
    swaps in ``similarity.kmeans_centroids`` unchanged."""
    from rs_query_engine_spark.operators.similarity import assign_centroids, dot

    # localCheckpoint: the assignment (corpus × centroids broadcast
    # expansion + per-vector top-1 rank) is consumed THREE times — both
    # sides of the within-cluster pair join and the final kept-flag
    # join — and alias-renamed projections defeat ReuseExchange, so
    # without the cut the expansion runs three times per action (r18:
    # measured in the plan — the BroadcastNestedLoopJoin + rank subtree
    # appeared 3× before, 1× after; same rationale as the minhash
    # shingle staging)
    a = assign_centroids(corpus, centroids, id_col, vec_col).transform(truncate_lineage)
    x = a.select(
        F.col(id_col).alias("_xid"),
        F.col("_v").alias("_xv"),
        F.col("_n").alias("_xn"),
        F.col("centroid_id"),
    )
    y = a.select(
        F.col(id_col).alias("_yid"),
        F.col("_v").alias("_yv"),
        F.col("_n").alias("_yn"),
        F.col("centroid_id"),
    )
    cos = F.try_divide(dot(F.col("_xv"), F.col("_yv")), F.col("_xn") * F.col("_yn"))
    dropped = (
        x.join(y, ["centroid_id"])
        .filter(F.col("_yid") < F.col("_xid"))
        .filter(cos >= F.lit(threshold))
        .select(F.col("_xid").alias("_did"))
        .dropDuplicates(["_did"])
    )
    return (
        a.join(dropped, a[id_col] == dropped["_did"], "left")
        .select(
            F.col(id_col),
            F.col("centroid_id"),
            F.col("_did").isNull().alias("kept"),
        )
    )


def exact_substring_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 25,
) -> DataFrame:
    """EXACT duplicated-substring spans at the character-sequence
    level — the exact counterpart of the fingerprint approximation in
    :func:`span_fingerprints`-based dedup, completing the dedup
    family's exactness spectrum (Lee et al., "Deduplicating Training
    Data Makes Language Models Better": ExactSubstr removes every
    span whose substring of length ≥ L occurs elsewhere in the
    corpus).

    Returns one row per MAXIMAL duplicated region: (id, span_start,
    span_end, span_len) over the NORMALIZED text (0-based, half-open
    [start, end)) — each region is the union of length-``min_len``
    windows whose substring occurs at some OTHER (doc, offset) in the
    corpus (self-repeats within a doc count, as in ExactSubstr).

    Equivalence to the suffix-array formulation (property-tested
    against a pure-Python suffix-array + LCP reference): a position
    starts a duplicated ``min_len``-gram iff its suffix shares an
    LCP ≥ ``min_len`` with a neighbor in suffix order, and a
    duplicated substring of length M ≥ L contains exactly M−L+1
    duplicated L-grams at consecutive offsets — so the union of
    duplicated L-gram windows IS the set of characters covered by
    some duplicated substring of length ≥ L, and merging overlapping
    or adjacent windows yields the maximal regions.

    Scale shape: explode every character offset into its L-gram — the
    shuffle key is the gram STRING itself (exact, no hash collisions)
    with O(total_chars × L) shuffle volume, the honest cost of
    exactness (Lee et al. pay the same via sharded suffix arrays);
    the duplicate test is ONE window count over the gram partition
    (each (id, off) row learns its gram's corpus frequency in the
    same pass that shuffles it — r18: this replaced a groupBy+equi-
    join-back spelling that exploded the corpus twice and shuffled
    the gram volume twice), and the island merge is one window
    partitioned by doc — every stage hash-distributes, nothing is
    pairwise in the corpus. The window's sort-based spelling also
    bounds a hot gram (one phrase repeated across the corpus) by
    spillable sort, where a collect-based join-avoidance would buffer
    the hot gram's postings in one aggregation buffer. Use the
    MinHash/SimHash operators when approximate spans are acceptable
    at 1/L the shuffle volume.
    """
    L = min_len
    t = spread(df).select(
        F.col(id_col).alias("_id"),
        normalize_text(F.col(text_col)).alias("_txt"),
    )
    # substring with a per-row start offset (expr form: F.substring
    # takes only literal pos)
    g = (
        t.filter(F.length("_txt") >= L)
        .select(
            "_id",
            F.explode(F.sequence(F.lit(0), F.length("_txt") - L)).alias("off"),
            "_txt",
        )
        .select("_id", "off", F.expr(f"substring(_txt, off + 1, {L})").alias("gram"))
    )
    # corpus frequency of each gram via an unordered window over the
    # gram partition: exactly the groupBy-count + join-back result,
    # in one exchange of the exploded volume instead of two (plus one
    # explode instead of two) — identical rows survive the >= 2 test.
    w_gram = Window.partitionBy("gram")
    p = (
        g.withColumn("_n", F.count(F.lit(1)).over(w_gram))
        .filter(F.col("_n") >= 2)
        .select("_id", "off")
    )
    w_prev = (
        Window.partitionBy("_id")
        .orderBy("off")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("_id")
        .orderBy("off")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_end = F.max(F.col("off") + L).over(w_prev)
    newi = (F.col("off") > F.coalesce(prev_end, F.lit(-1))).cast("int")
    spans = (
        p.withColumn("_new", newi)
        .withColumn("_island", F.sum("_new").over(w_run))
        .groupBy("_id", "_island")
        .agg(
            F.min("off").alias("_s"),
            (F.max("off") + F.lit(L)).alias("_e"),
        )
    )
    return spans.select(
        F.col("_id").alias(id_col),
        F.col("_s").cast("bigint").alias("span_start"),
        F.col("_e").cast("bigint").alias("span_end"),
        (F.col("_e") - F.col("_s")).cast("bigint").alias("span_len"),
    )
