"""Text-analysis functions for LLM-data-pipeline workloads
(beyond-reference north-star ops: language ID, quality scoring, token
counting, document fingerprinting — over the ``documents`` table).

Everything here is built from JVM-side ``pyspark.sql.functions``
(split/array/regexp/hash) — no Python UDFs — so the hot path stays in
whole-stage codegen and scales linearly with executors. Each builder
returns a ``Column`` usable in any query.

Determinism: token splitting uses an explicit regex shared with the
DuckDB oracle; fingerprints use md5 (identical hex in every engine)
rather than engine-specific hash functions (Spark xxhash64 and DuckDB
hash() differ by design).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# whitespace tokenizer pattern shared with oracle SQL
TOKEN_SPLIT = r"\s+"

# small deterministic stopword set (quality scoring)
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

# marker vocabularies for the n-gram/marker language-ID heuristic.
# Deterministic and SQL-expressible; tie-break = first in LANGS order.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "zu"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "por"),
    "fr": ("le", "la", "et", "les", "des", "une", "est", "que"),
    "zh": ("的", "是", "在", "了", "和", "有", "我", "不"),
}
LANGS = tuple(LANG_MARKERS)


def _c(expr: Column | str) -> Column:
    return F.col(expr) if isinstance(expr, str) else expr


def tokens(text: Column | str) -> Column:
    """Lower-cased whitespace tokens (array<string>)."""
    return F.split(F.lower(_c(text)), TOKEN_SPLIT)


def token_count(text: Column | str) -> Column:
    """Whitespace token count (BPE-ish subword estimate is
    ``token_count_bpe_estimate``)."""
    return F.size(tokens(text))


def token_count_bpe_estimate(text: Column | str) -> Column:
    """Deterministic BPE-ish token estimate: word-piece count from a
    regex over word chars / digits / punctuation runs, plus a 4-chars-
    per-piece length correction for long words — a standard proxy when
    a real tokenizer isn't available cluster-side."""
    t = _c(text)
    pieces = F.size(F.regexp_extract_all(t, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))
    long_word_extra = F.size(
        F.regexp_extract_all(t, F.lit(r"[A-Za-z]{5,8}|[A-Za-z]{9,12}|[A-Za-z]{13,16}"), 0)
    )
    return (pieces + long_word_extra).alias("bpe_tokens")


def lang_marker_score(text: Column | str, lang: str) -> Column:
    """Number of tokens that are markers of ``lang`` (with repeats)."""
    toks = tokens(text)
    markers = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))


def lang_id(text: Column | str) -> Column:
    """Predicted language = argmax marker score over LANGS, tie-broken
    by LANGS order (deterministic; the same argmax is expressible in
    the DuckDB oracle)."""
    t = _c(text)
    scores = [lang_marker_score(t, lg) for lg in LANGS]
    best = F.greatest(*scores) if len(scores) > 1 else scores[0]
    expr = F.lit(LANGS[-1])
    for lg, sc in reversed(list(zip(LANGS[:-1], scores[:-1]))):
        expr = F.when(sc == best, F.lit(lg)).otherwise(expr)
    return expr


def normalize_text(text: Column | str) -> Column:
    """Canonical form for exact dedup: lower-case, collapse whitespace,
    strip."""
    return F.trim(F.regexp_replace(F.lower(_c(text)), r"\s+", " "))


def fingerprint_md5(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 hex of the normalized
    text (md5 produces identical hex in Spark/DuckDB/everywhere, unlike
    engine-native hash functions)."""
    return F.md5(normalize_text(_c(text)))


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles (array<string>) — input to MinHash/Jaccard
    dedup.

    Built by zipping the token array with its shifted selves
    (``zip_with(toks, toks[j+1:], concat_ws)`` for j=1..n-1) and
    slicing to the count of complete n-grams — O(n) whole-array passes
    instead of a per-shingle ``slice``+``array_join`` (which allocates
    a subarray per output element; measured 6.5× slower at sf0.1).
    ``zip_with`` pads the shorter side with NULLs and ``concat_ws``
    skips them, so tail partials exist before the final slice but
    never survive it."""
    toks = tokens(text)
    k = F.size(toks) - F.lit(n - 1)
    sh = toks
    for j in range(1, n):
        sh = F.zip_with(
            sh,
            F.slice(toks, j + 1, F.greatest(F.size(toks) - j, F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.when(k > 0, F.slice(sh, 1, k)).otherwise(
        F.array().cast("array<string>")
    )


def winnow(text: Column | str, k: int = 3, w: int = 4) -> Column:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    the minimum of each window of ``w`` consecutive hashed word
    ``k``-grams, in window order (``array<bigint>``; empty when the
    text has fewer than ``w`` grams). Each gram hashes through
    ``hashing.md5_hex8``, the oracle-portable md5 prefix.

    The hash array is bound as the lambda variable of a transform
    over a one-element array (the ``chunk_spans`` pattern), so each
    gram is hashed once per row rather than once per window that
    slices it."""
    from rs_query_engine_spark.functions.hashing import md5_hex8

    hashes = F.transform(shingles(text, k), md5_hex8)
    return F.flatten(
        F.transform(
            F.array(hashes),
            # sequence(1, 0) counts DOWN, so a short array needs the guard
            lambda hs: F.when(
                F.size(hs) >= w,
                F.transform(
                    F.sequence(F.lit(1), F.size(hs) - (w - 1)),
                    lambda i: F.array_min(F.slice(hs, i, w)),
                ),
            ).otherwise(F.array().cast("array<bigint>")),
        )
    )


def chunk_spans(
    text: Column | str, chunk_size: int = 50, stride: int = 40
) -> Column:
    """Fixed-size token chunks with overlap — the training-data
    chunker. Returns ``array<struct<chunk_start,n_tokens,chunk_text>>``
    with 1-based token offsets every ``stride`` tokens (overlap =
    ``chunk_size - stride``); the tail chunk may be short.

    Pure array built-ins (sequence/slice/array_join) over one token
    array — no shuffle, no UDF; explode downstream to get one row per
    chunk. Oracle-portable: DuckDB ``generate_series`` + ``list_slice``
    produce the identical spans.

    The token array is bound as a lambda variable of an outer
    transform over a one-element array: captured directly in the
    per-chunk lambda, the tokenizer subtree would re-run for EVERY
    chunk (HOF lambda bodies are not CSE'd — quadratic in document
    length); as a lambda variable it is tokenized exactly once per
    row."""
    return F.flatten(
        F.transform(
            F.array(tokens(text)),
            lambda toks: F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(stride)
                ),
                lambda s: F.struct(
                    s.alias("chunk_start"),
                    F.size(F.slice(toks, s, chunk_size)).alias("n_tokens"),
                    F.array_join(F.slice(toks, s, chunk_size), " ").alias(
                        "chunk_text"
                    ),
                ),
            ),
        )
    )


def tfidf_topk_terms(df, id_col: str, text_col: str, k: int = 3):
    """Top-``k`` characteristic terms per document by tf-idf (linear
    idf = N/df — log-free so the score is a single exact IEEE division,
    bit-reproducible across engines; the ranking is idf-monotone
    either way).

    Plan shape: explode → partial+final count per (doc, term) → term
    document-frequency agg → join (vocabulary side broadcast when
    small, AQE decides) → per-doc window rank. Shuffles are on
    (doc, term), term, then doc — each the minimal key for its step.

    Returns (id, term, score, rnk), rnk ≤ k, ties broken by term."""
    from pyspark.sql import Window

    tok = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    ndocs = df.select(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(ndocs))
        .withColumn("score", (F.col("tf") * F.col("n")).cast("double") / F.col("df"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(id_col, "term", "score", "rnk")
    )


# PII patterns shared by redact_pii's replace chain and its audit
# count. Spark regexp_replace is global by default (DuckDB needs the
# explicit 'g' flag — the oracle SQL carries it); patterns stick to
# the Java∩RE2 common subset ([^ ] rather than \S, no lookarounds).
PII_PATTERNS = (
    (r"[A-Za-z0-9._]+@[A-Za-z0-9.]+[A-Za-z]", "[EMAIL]"),
    (r"\+1-555-[0-9]{4}", "[PHONE]"),
    (r"http://[^ ]+", "[URL]"),
)


def redact_pii(text: Column) -> tuple[Column, Column]:
    """Redact emails / phone numbers / URLs, returning
    ``(clean_text, n_redactions)`` — the scrub + audit columns of a
    training-data pipeline. Replacement order matters (the URL pattern
    would otherwise eat an email's domain remnant); counts are taken
    on the RAW text so overlapping patterns are each audited.
    All JVM-side regex — map-only, codegen'd, no Python."""
    clean = text
    for pat, tag in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, tag)
    n = None
    for pat, _ in PII_PATTERNS:
        c = F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0)))
        n = c if n is None else n + c
    return clean, n


def cdc_chunk_stats(
    df, id_col: str = "doc_id", text_col: str = "text", mask: int = 8
):
    """Content-defined chunking statistics (rolling-hash boundaries,
    the FastCDC/rsync idea at token granularity): cut after token i
    (1-indexed, i < n) when md5 of the 3-token window ending at i
    falls in ``1/mask`` of hash space. Returns one row per doc:
    (id, n_tokens, n_chunks, max_chunk, avg_chunk).

    ENTIRELY map-side: boundary positions, chunk lengths and their
    max all come from array higher-order functions over the token
    list — no explode, no shuffle, no UDF. Docs with fewer than 3
    tokens (no complete window) are a single chunk; the i < n guard
    keeps the final chunk non-empty. The boundary hash is the
    engine-portable md5 primitive, so every chunk edge is
    oracle-checkable in DuckDB (see text_cdc_chunks), and
    ``tests/unit/test_cdc_chunks.py`` pins the short-doc and
    boundary-position edge cases against a pure-Python reference."""
    from rs_query_engine_spark.functions.hashing import md5_hex8

    t = df.select(F.col(id_col), tokens(F.col(text_col)).alias("tok"))
    n = F.size("tok")
    # Spark's sequence(start, stop) REVERSES when start > stop (it
    # never returns empty) — short docs need the explicit guard
    idx = F.when(n >= 3, F.sequence(F.lit(3), n)).otherwise(
        F.array().cast("array<int>")
    )
    is_boundary = (
        lambda i: (i < n)
        & (
            md5_hex8(F.concat_ws(" ", F.slice(F.col("tok"), i - 2, F.lit(3))))
            % mask
            == 0
        )
    )
    b = t.select(
        F.col(id_col), n.alias("n"), F.filter(idx, is_boundary).alias("bpos")
    )
    lens = F.zip_with(
        F.concat(F.col("bpos"), F.array(F.col("n"))),
        F.concat(F.array(F.lit(0)), F.col("bpos")),
        lambda a, p: a - p,
    )
    return b.select(
        F.col(id_col),
        F.col("n").cast("bigint").alias("n_tokens"),
        (F.size("bpos") + 1).cast("bigint").alias("n_chunks"),
        F.array_max(lens).cast("bigint").alias("max_chunk"),
        (F.col("n").cast("double") / (F.size("bpos") + 1)).alias("avg_chunk"),
    )
