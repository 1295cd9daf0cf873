"""Text analysis for web-scale training-data pipelines.

Tokenization, k-gram shingles, language ID (stopword-hit heuristic),
quality scoring (length/punct/stopword ratios), token counting, and
document fingerprinting — each as a JVM-side Column expression with a
DuckDB-SQL twin generated from the same constants (single source of
truth for the correctness oracle).

Tokenizer contract (pinned for byte-stable results): trim, split on
runs of whitespace, drop empty tokens. No lowercasing, no unicode
normalization — determinism over linguistics.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from geotiff_tiler_spark.functions.hashing import HEX_WIDTH

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately small + frozen: the operator contract is
# "argmax of stopword hits with deterministic tie-break", not accuracy.
STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "in", "is"),
    "fr": ("le", "la", "et", "de", "un", "une", "est"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu"),
    "es": ("el", "la", "y", "de", "un", "una", "es"),
}
LANG_ORDER = ("en", "fr", "de", "es")  # tie-break: first wins


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


# --- tokens -----------------------------------------------------------------


def tokens(text_col) -> Column:
    """Whitespace tokens, empties dropped."""
    arr = F.split(F.trim(_c(text_col)), r"\s+")
    return F.filter(arr, lambda x: x != F.lit(""))


# Java's \s without UNICODE_CHARACTER_CLASS — what F.split(.., r"\s+")
# matches. Deliberately NOT Python's unicode \s (which adds \x1c-\x1f,
# \x85, \xa0, ...): the Python twin must reproduce the JVM tokenizer
# byte-for-byte. Parity pinned by test_dup_gram_python_tokenizer_parity.
_JAVA_WS = __import__("re").compile(r"[ \t\n\x0B\f\r]+")


def py_tokens(s: str | None, strip_chars: str = " ") -> list[str]:
    """Python twin of `tokens()` for Arrow-kernel hot paths: trim, split
    on runs of (Java) whitespace, drop empties. `strip_chars` is what
    F.trim removes — ' ' per the Spark StringTrim contract."""
    if s is None:
        return []
    return [t for t in _JAVA_WS.split(s.strip(strip_chars)) if t]


def _explode_rows(docs, cols: list[str], text_col: str, out_col: str, per_text):
    """Shared mapInArrow explode: one output row per `per_text(text)`
    element, carry-through columns repeated via Arrow take (no Python
    per-row objects for them). Row and element order match the JVM
    explode (row-major, element order)."""
    from pyspark.sql.types import StringType, StructField, StructType

    sel = docs.select(*cols, text_col)
    out_schema = StructType(
        [sel.schema[c] for c in cols] + [StructField(out_col, StringType())]
    )
    ncols = len(cols)
    names = list(cols) + [out_col]

    def _scan(batches):
        import numpy as np
        import pyarrow as pa

        for rb in batches:
            txts = rb.column(ncols).to_pylist()
            per_row = [per_text(s) for s in txts]
            counts = [len(t) for t in per_row]
            idx = pa.array(np.repeat(np.arange(len(txts), dtype=np.int64), counts))
            flat = [t for row in per_row for t in row]
            arrays = [rb.column(i).take(idx) for i in range(ncols)]
            arrays.append(pa.array(flat, pa.string()))
            yield pa.RecordBatch.from_arrays(arrays, names)

    return sel.mapInArrow(_scan, out_schema)


def token_rows(docs, cols: list[str], text_col: str = "text", out_col: str = "tok"):
    """(cols..., token) rows — `select(cols, explode(tokens(text)))` as
    ONE mapInArrow pass over the parity-pinned Python tokenizer
    (py_tokens). Byte-identical rows (parity-tested). NOTE (r6
    measurement): for single-token explodes the JVM split+explode is
    FASTER than this kernel (the per-token Arrow string transfer
    outweighs the interpreted filter HOF — q47 1.30 vs 1.71 s, q59 1.94
    vs 2.66 s at sf1), so those callers keep the expression form; the
    kernel wins only when per-element construction is expensive
    (gram_rows' k-token joins — q42 1.25 -> 1.02 s)."""
    return _explode_rows(docs, cols, text_col, out_col, py_tokens)


def gram_rows(
    docs, cols: list[str], k: int, text_col: str = "text", out_col: str = "gram"
):
    """(cols..., k-gram string) rows — `select(cols, explode(
    shingles(text, k)))` as ONE mapInArrow pass: same single-space join
    of the pinned tokenizer's k-windows, same empty behavior (< k tokens
    emit nothing)."""

    def _grams(s):
        toks = py_tokens(s)
        n = len(toks) - k + 1
        if n <= 0:
            return []
        return [" ".join(toks[i : i + k]) for i in range(n)]

    return _explode_rows(docs, cols, text_col, out_col, _grams)


def tokens_sql(expr: str) -> str:
    return f"list_filter(string_split_regex(trim({expr}), '\\s+'), x -> x <> '')"


def token_count(text_col) -> Column:
    return F.size(tokens(text_col)).cast("bigint")


# --- shingles ---------------------------------------------------------------


def shingles(text_col, k: int) -> Column:
    """Word k-gram shingles joined by single spaces; [] when < k tokens.

    Implementation note (hot-path critical): a naive
    ``transform(sequence(1, n-k+1), i -> array_join(slice(toks, i, k)))``
    re-evaluates the tokenizer expression once PER ELEMENT (Catalyst inlines
    the `toks` alias into the lambda), turning one regex split per row into
    ~n splits per row. Building the k-grams as k whole-array slices zipped
    element-wise keeps the tokenizer at k evaluations per row.
    """
    toks = tokens(text_col)
    m = F.greatest(F.size(toks) - F.lit(k - 1), F.lit(0))
    out = F.slice(toks, 1, m)
    for j in range(1, k):
        out = F.zip_with(
            out, F.slice(toks, j + 1, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return out


def shingles_sql(expr: str, k: int) -> str:
    toks = tokens_sql(expr)
    return (
        f"list_transform(generate_series(1, GREATEST(len({toks}) - {k - 1}, 0)), "
        f"i -> array_to_string(list_slice({toks}, i, i + {k - 1}), ' '))"
    )


# --- quality ----------------------------------------------------------------


def quality_metrics(df, text_col: str = "text"):
    """Attach quality-scoring columns (all exact-arithmetic, oracle-safe).

    n_chars_m: string length; n_tokens; punct_cnt; stop_cnt (English
    stopword hits); mean_tok_len = (chars in tokens)/n_tokens;
    quality flag: 5 <= n_tokens and stopword ratio >= 0.01.
    """
    t = _c(text_col)
    toks = tokens(t)
    n_tok = F.size(toks).cast("bigint")
    punct = (
        F.length(t) - F.length(F.regexp_replace(t, r"[.!?,;:]", ""))
    ).cast("bigint")
    stops = list(STOPWORDS["en"])
    stop_cnt = F.size(F.filter(toks, lambda x: x.isin(stops))).cast("bigint")
    tok_chars = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
    )
    return (
        df.withColumn("n_tokens", n_tok)
        .withColumn("punct_cnt", punct)
        .withColumn("stop_cnt", stop_cnt)
        .withColumn("tok_chars", tok_chars)
        .withColumn(
            "stop_ratio",
            F.when(n_tok > 0, stop_cnt.cast("double") / n_tok).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "is_quality",
            (F.col("n_tokens") >= 5) & (F.col("stop_ratio") >= 0.01),
        )
    )


# --- language id ------------------------------------------------------------


def lang_scores(text_col) -> dict[str, Column]:
    """Per-language stopword-hit counts."""
    toks = tokens(text_col)
    return {
        lang: F.size(F.filter(toks, lambda x: x.isin(list(words)))).cast("bigint")
        for lang, words in STOPWORDS.items()
    }


def predict_lang(text_col) -> Column:
    """argmax of stopword hits: first lang in LANG_ORDER with the max score;
    'und' when all scores are 0."""
    scores = lang_scores(text_col)
    max_s = F.greatest(*[scores[lang] for lang in LANG_ORDER])
    out = F.lit("und")
    for lang in reversed(LANG_ORDER):
        out = F.when(scores[lang] == max_s, F.lit(lang)).otherwise(out)
    return F.when(max_s == 0, F.lit("und")).otherwise(out)


# --- fingerprint ------------------------------------------------------------


def doc_fingerprint(text_col, k: int = 3, seed: int = 0) -> Column:
    """Document fingerprint: min seeded-hash over word k-gram shingles.

    The min-hash of the shingle set — a 1-permutation sketch usable as a
    near-dup blocking key; NULL-free: empty shingle set -> hash of ''.
    """
    sh = shingles(text_col, k)
    hashed = F.transform(
        sh,
        lambda s: F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{seed}:"), s)), 1, HEX_WIDTH), 16, 10
        ).cast("bigint"),
    )
    return F.coalesce(F.array_min(hashed), F.lit(0).cast("bigint"))


# --- repetition (Gopher-style intra-doc filters) ----------------------------

# Flag thresholds (frozen contract): a doc is repetitious when its most
# frequent token exceeds 20% of all tokens, or >30% of tokens are repeats.
REP_TOP_FRAC = 0.2
REP_DUP_FRAC = 0.3


def repetition_metrics(df, text_col: str = "text"):
    """Intra-document repetition scoring (the Gopher/RefinedWeb-style
    boilerplate gate): per doc, the most-frequent-token count, the
    duplicate-token fraction, and a repetition flag.

    Plan shape (what matters at 100 TB): a PURE MAP — `top_cnt` is one
    sequential aggregate() fold over the SORTED token array (max run
    length of equal adjacent tokens == max token multiplicity), so there
    is no per-distinct-token re-tokenization (the alias-inlining hazard
    documented on `shingles`) and NO SHUFFLE. Fractions are int/int
    doubles (exact IEEE division, oracle-safe).

    Reference scope note: the reference has no text tier; this extends
    the engine's LLM-pipeline operators (SURVEY §6 additions).
    """
    t = _c(text_col)
    toks = tokens(t)
    n_tok = F.size(toks).cast("bigint")
    n_distinct = F.size(F.array_distinct(toks)).cast("bigint")
    srt = F.array_sort(toks)
    zero = F.lit(0).cast("bigint")
    one = F.lit(1).cast("bigint")
    top_cnt = F.aggregate(
        srt,
        F.struct(
            F.lit("").alias("prev"), zero.alias("run"), zero.alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + one).otherwise(one).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + one).otherwise(one),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    dup_frac = F.when(
        n_tok > 0, (n_tok - n_distinct).cast("double") / n_tok
    ).otherwise(F.lit(0.0))
    top_frac = F.when(n_tok > 0, F.col("top_cnt").cast("double") / n_tok).otherwise(
        F.lit(0.0)
    )
    return (
        df.withColumn("n_tokens", n_tok)
        .withColumn("n_distinct", n_distinct)
        .withColumn("top_cnt", top_cnt)
        .withColumn("dup_frac", dup_frac)
        .withColumn("top_frac", top_frac)
        .withColumn(
            "rep_flag",
            (F.col("top_frac") > REP_TOP_FRAC) | (F.col("dup_frac") > REP_DUP_FRAC),
        )
    )


def repetition_sql_cte(expr: str = "text", table: str = "documents") -> str:
    """DuckDB twin of `repetition_metrics` as a CTE body producing
    (doc_id, lang, n_tokens, n_distinct, top_cnt, dup_frac, top_frac,
    rep_flag). top_cnt is computed RELATIONALLY (unnest -> per-token
    count -> max) — an independent formulation of the same quantity the
    Spark fold computes (max multiplicity), sharing only the tokenizer."""
    toks = tokens_sql(expr)
    n_tok = f"CAST(len({toks}) AS BIGINT)"
    n_distinct = f"CAST(len(list_distinct({toks})) AS BIGINT)"
    return f"""
base AS (
  SELECT doc_id, lang, {toks} AS _toks, {n_tok} AS n_tokens,
         {n_distinct} AS n_distinct
  FROM {table}
),
tokrows AS (
  SELECT doc_id, t.t AS tok FROM base, unnest(_toks) AS t(t)
),
tokcnt AS (
  SELECT doc_id, tok, COUNT(*) AS c FROM tokrows GROUP BY doc_id, tok
),
topc AS (
  SELECT doc_id, MAX(c) AS top_cnt FROM tokcnt GROUP BY doc_id
),
rep AS (
  SELECT b.doc_id, b.lang, b.n_tokens, b.n_distinct,
         CAST(COALESCE(t.top_cnt, 0) AS BIGINT) AS top_cnt,
         CASE WHEN b.n_tokens > 0
              THEN (b.n_tokens - b.n_distinct)::DOUBLE / b.n_tokens
              ELSE 0.0 END AS dup_frac,
         CASE WHEN b.n_tokens > 0
              THEN COALESCE(t.top_cnt, 0)::DOUBLE / b.n_tokens
              ELSE 0.0 END AS top_frac
  FROM base b LEFT JOIN topc t ON b.doc_id = t.doc_id
)
"""
