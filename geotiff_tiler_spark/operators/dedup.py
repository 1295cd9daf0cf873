"""Deduplication operators for web-scale corpora.

Exact (hash-groupBy), MinHash+LSH (shingle -> minhash -> band -> bucket
join), SimHash, and exact n-gram Jaccard verification — the standard
training-data dedup ladder, expressed as Spark DataFrame plans:

- every sketch is computed with JVM-side array lambdas
  (transform/aggregate/filter over `shingles`) — no Python in the hot path;
- candidate generation is an equi-join on (band, bucket) — a plain
  shuffle hash join Catalyst can plan, skew-handled by AQE;
- exact verification (Jaccard) runs only on candidate pairs (filter-refine,
  the same shape as the spatial filter/refine joins in spatial_join.py).

At 100 TB the LSH band join is the only shuffle whose fan-out matters:
bucket keys are 60-bit hashes of full band signatures, so bucket skew only
occurs for genuinely duplicated content — exactly the rows that must meet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geotiff_tiler_spark.functions import text as T
from geotiff_tiler_spark.functions.hashing import HEX_WIDTH

# Default MinHash family: 16 permutations in 4 bands of 4 rows.
NUM_HASHES = 16
BANDS = 4
ROWS_PER_BAND = NUM_HASHES // BANDS
SHINGLE_K = 3
SIMHASH_BITS = 32


def exact_dedup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: md5-group; canonical row = min doc_id per group.

    Output: one row per distinct text with group size and canonical id —
    a single partial+final hash aggregate (map-side combined). The GROUPING
    key is the 16-byte binary digest (unhex), not the 32-char hex string:
    same groups (the hex form is a bijection of the bytes) but half the
    shuffle payload on a mostly-unique key — at web scale this agg shuffles
    nearly one key per row, so key width is the shuffle. The hex form is
    restored after the aggregate for the public schema.
    """
    return (
        docs.groupBy(F.unhex(F.md5(F.col(text_col))).alias("_k"))
        .agg(
            F.count(F.lit(1)).alias("dup_cnt"),
            F.min("doc_id").alias("canonical_doc"),
        )
        .select(
            F.lower(F.hex("_k")).alias("text_md5"), "dup_cnt", "canonical_doc"
        )
    )


# Universal-hash permutation family: h_i(s) = (A_i * base(s) + B_i) mod P,
# where base(s) is ONE portable md5-derived hash reduced mod P — the
# standard one-digest minhash construction. The expensive md5 runs once per
# shingle; each of the 16 permutations is two integer ops. A_i/B_i are
# frozen constants derived from md5 so Spark / DuckDB / numpy agree without
# shared state. P = 2^31 - 1 keeps A*h + B < 2^62 (no int64 overflow).
MINHASH_P = 2147483647


def _perm_consts(num_hashes: int = NUM_HASHES) -> list[tuple[int, int]]:
    import hashlib

    out = []
    for i in range(num_hashes):
        a = int(hashlib.md5(f"mh-a:{i}".encode()).hexdigest()[:HEX_WIDTH], 16) % (
            MINHASH_P - 1
        ) + 1
        b = int(hashlib.md5(f"mh-b:{i}".encode()).hexdigest()[:HEX_WIDTH], 16) % MINHASH_P
        out.append((a, b))
    return out


PERM_CONSTS = _perm_consts()

import hashlib as _hashlib  # noqa: E402

# base hash of the sentinel '' shingle (used for empty shingle sets)
EMPTY_BASE = int(_hashlib.md5(b"").hexdigest()[:HEX_WIDTH], 16) % MINHASH_P


def minhash_signature(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = NUM_HASHES,
    k: int = SHINGLE_K,
) -> DataFrame:
    """Per-doc MinHash signature: sig[i] = min over shingles of h_i(shingle).

    Null text takes the same sentinel path as an empty shingle set: the
    shingle array is coalesced to [] before the fold, so a null-text doc
    gets h_i('') exactly like the exploded form and the DuckDB oracle
    (whose list aggregates already COALESCE to the sentinel).

    Plan shape (the scale-critical part): a PURE MAP — one md5 per shingle
    inside an array transform, then one aggregate() fold over the hash
    array computing all `num_hashes` mins at once (acc = 16-element array,
    merged per hash via zip_with with the (a, b) constant structs). No
    explode, no hash aggregate, NO SHUFFLE: signatures are embarrassingly
    parallel over the input partitioning. The earlier explode-based form
    (kept as `_minhash_signature_exploded`, parity-tested) materialized
    ~42 shingle-string rows per doc into an exchange-backed agg and
    profiled memory-bandwidth-bound — it scaled at only ~2x from 8->32
    local cores; the fold form removes that traffic entirely.

    Docs with an empty shingle set get the sentinel signature h_i(''):
    the fold's init is MINHASH_P (> any h mod P), so acc[i] == P iff no
    shingle was seen, replaced by the sentinel in a final zip_with.
    Columns: docs.* + mh_0 .. mh_{n-1}; bit-identical to the exploded
    form and to the DuckDB list_transform/list_min oracle.
    """
    sh = F.coalesce(T.shingles(text_col, k), F.array().cast("array<string>"))
    hashes = F.transform(
        sh,
        lambda s: F.conv(F.substring(F.md5(s), 1, HEX_WIDTH), 16, 10).cast("bigint")
        % F.lit(MINHASH_P),
    )
    ab = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in PERM_CONSTS[:num_hashes]
        ]
    )
    init = F.array(*[F.lit(MINHASH_P).cast("bigint")] * num_hashes)
    acc = F.aggregate(
        hashes,
        init,
        lambda acc, h: F.zip_with(
            acc, ab, lambda x, c: F.least(x, (c["a"] * h + c["b"]) % F.lit(MINHASH_P))
        ),
    )
    sentinels = F.array(
        *[
            F.lit((a * EMPTY_BASE + b) % MINHASH_P).cast("bigint")
            for a, b in PERM_CONSTS[:num_hashes]
        ]
    )
    final = F.zip_with(
        acc, sentinels, lambda x, s: F.when(x == F.lit(MINHASH_P), s).otherwise(x)
    )
    # one aliased array column; the 16-column projection references it 16
    # times, which Catalyst does NOT inline (CollapseProject keeps non-cheap
    # exprs referenced more than once) — verified by timing, the fold runs
    # once per row
    out = docs.withColumn("_sig", final)
    return out.select(
        *docs.columns,
        *[F.element_at("_sig", i + 1).alias(f"mh_{i}") for i in range(num_hashes)],
    )


def _minhash_signature_exploded(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = NUM_HASHES,
    k: int = SHINGLE_K,
) -> DataFrame:
    """The round-1/2 explode-based signature plan (shingle explode -> md5
    -> partial+final 16-min hash agg -> left join + sentinel coalesce).
    Retained as the parity oracle for the fold form above."""
    sh = docs.select(F.col("doc_id"), F.explode(T.shingles(text_col, k)).alias("_sh"))
    base = (
        F.conv(F.substring(F.md5(F.col("_sh")), 1, HEX_WIDTH), 16, 10).cast("bigint")
        % F.lit(MINHASH_P)
    )
    hs = sh.select("doc_id", base.alias("_h"))
    aggs = [
        F.min((F.lit(a) * F.col("_h") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"mh_{i}")
        for i, (a, b) in enumerate(PERM_CONSTS[:num_hashes])
    ]
    sig = hs.groupBy("doc_id").agg(*aggs)
    out = docs.join(sig, "doc_id", "left")
    for i, (a, b) in enumerate(PERM_CONSTS[:num_hashes]):
        sentinel = (a * EMPTY_BASE + b) % MINHASH_P
        out = out.withColumn(f"mh_{i}", F.coalesce(F.col(f"mh_{i}"), F.lit(sentinel)))
    return out


def lsh_buckets(
    sigs: DataFrame,
    bands: int = BANDS,
    rows_per_band: int = ROWS_PER_BAND,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Band the signature: bucket key = portable hash of the band's values.

    Output: (doc_id, *extra_cols, band, bucket) — `bands` rows per doc via
    ONE posexplode over an array of band keys (a union of per-band
    projections would recompute the signature subtree once per band and
    defeat exchange reuse in the self-join downstream). `extra_cols` lets
    streaming callers carry the event-time column through to the
    watermark-bounded dedup."""
    keys = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        keys.append(
            F.conv(
                F.substring(F.md5(F.concat_ws("_", *cols)), 1, HEX_WIDTH), 16, 10
            ).cast("bigint")
        )
    return sigs.select(
        "doc_id", *extra_cols, F.posexplode(F.array(*keys)).alias("band", "bucket")
    )


def lsh_buckets_arrow(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = BANDS,
    rows_per_band: int = ROWS_PER_BAND,
    k: int = SHINGLE_K,
) -> DataFrame:
    """(doc_id, band, bucket) — `lsh_buckets(minhash_signature(docs))`
    fused into ONE mapInArrow pass (r6, guide §4.2). Byte-identical by
    construction and by parity test: the Python tokenizer is the pinned
    JVM twin (functions.text.py_tokens), base hashes are
    hashing.py_hash64 mod P, permutations are the same exact int64
    arithmetic (a*h+b < 2^62, no overflow), minima are taken over the
    DISTINCT shingle set (duplicates cannot change a min), empty/short/
    null texts take the (a*EMPTY_BASE+b) mod P sentinel path, and the
    band key is md5 of the same '_'-joined decimal signature string.

    Exists because the expression form's aggregate/zip_with fold is
    INTERPRETED (~2 s per evaluation over 50k docs even on 32 cores —
    the dominant stage cost of the q11/q45/q64/q50 chains), while this
    pass is a vectorized reduceat over the batch's flattened shingle
    hashes. The expression form remains the streaming/extra-cols path
    and the parity oracle (test_lsh_buckets_arrow_matches_expr)."""
    import hashlib

    import numpy as np
    import pyarrow as pa

    num_hashes = bands * rows_per_band
    consts = PERM_CONSTS[:num_hashes]
    A = np.array([a for a, _ in consts], dtype=np.int64)
    B = np.array([b for _, b in consts], dtype=np.int64)
    sentinel = np.array(
        [(a * EMPTY_BASE + b) % MINHASH_P for a, b in consts], dtype=np.int64
    )
    hexw = HEX_WIDTH

    def _scan(batches):
        for rb in batches:
            ids = rb.column(0).to_pylist()
            txts = rb.column(1).to_pylist()
            nd = len(ids)
            flat: list[int] = []
            counts = np.empty(nd, dtype=np.int64)
            for j, s in enumerate(txts):
                toks = _py_tokens(s, " ")
                n = len(toks) - k + 1
                if n <= 0:
                    counts[j] = 0
                    continue
                grams = dict.fromkeys(
                    " ".join(toks[i : i + k]) for i in range(n)
                )
                for g in grams:
                    flat.append(
                        int(hashlib.md5(g.encode("utf-8")).hexdigest()[:hexw], 16)
                        % MINHASH_P
                    )
                counts[j] = len(grams)
            H = np.asarray(flat, dtype=np.int64)
            offs = np.zeros(nd, dtype=np.int64)
            np.cumsum(counts[:-1], out=offs[1:] if nd > 1 else offs[:0])
            nonempty = counts > 0
            ne_offs = offs[nonempty]
            sig = np.tile(sentinel, (nd, 1))  # (nd, num_hashes)
            if len(H):
                for i in range(num_hashes):
                    v = (A[i] * H + B[i]) % MINHASH_P
                    sig[nonempty, i] = np.minimum.reduceat(v, ne_offs)
            out_ids = np.repeat(np.asarray(ids, dtype=np.int64), bands)
            out_band = np.tile(np.arange(bands, dtype=np.int32), nd)
            out_bucket = np.empty(nd * bands, dtype=np.int64)
            p = 0
            for j in range(nd):
                row = sig[j]
                for b in range(bands):
                    key = "_".join(
                        str(row[b * rows_per_band + r]) for r in range(rows_per_band)
                    )
                    out_bucket[p] = int(
                        hashlib.md5(key.encode("utf-8")).hexdigest()[:hexw], 16
                    )
                    p += 1
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_ids, pa.int64()),
                    pa.array(out_band, pa.int32()),
                    pa.array(out_bucket, pa.int64()),
                ],
                [id_col, "band", "bucket"],
            )

    return docs.select(id_col, text_col).mapInArrow(
        _scan, f"{id_col} long, band int, bucket long"
    )


def lsh_candidate_pairs(buckets: DataFrame) -> DataFrame:
    """Docs sharing any (band, bucket): distinct candidate pairs a < b.

    Self-equi-join on the bucket key — Catalyst shuffle hash join; the
    a < b predicate halves the output and removes self-pairs.
    """
    l = buckets.alias("l")
    r = buckets.alias("r")
    return (
        l.join(r, ["band", "bucket"])
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def lsh_greedy_keep(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """Greedy single-pass LSH dedup-keep: per (band, bucket) the
    smallest-id doc claims the bucket; a doc is KEPT iff it claims every
    one of its bands. Any dropped doc shares at least one full band — a
    likely near-duplicate — with a kept doc.

    This is the curation decision production crawls make when the
    pairwise refine is unaffordable: unlike the candidate-pair chain
    (lsh_candidate_pairs -> ngram_jaccard_pairs, which is
    O(sum bucket^2) in the worst case), greedy keep is O(corpus x bands)
    END TO END — one shuffle by (band, bucket) for the bucket-min window
    (bucket cardinality ~ corpus size, so partitions stay tiny; only
    true-duplicate mega-buckets skew, and those rows ARE the signal) and
    one map-side-combined all-bands-won aggregate by doc. No pair
    materialization at any point, so a 10^12-doc corpus with a 30%
    duplicate rate costs the same as a clean one.

    Streaming twin: streaming/ingest.streaming_neardup_keep — identical
    band machinery, first-ARRIVAL-wins instead of min-id (the orders
    coincide when arrival follows doc_id). Reference parity: the
    keep-one-discard-rest rule mirrors the reference's duplicate-patch
    discard (tiler.py dedup of already-written tiles), lifted from exact
    key equality to MinHash similarity."""
    from pyspark.sql.window import Window

    # r6: fused Arrow banding kernel (bit-identical to
    # lsh_buckets(minhash_signature(..)) — see lsh_buckets_arrow)
    b = lsh_buckets_arrow(
        docs, text_col=text_col, id_col=id_col, bands=bands, rows_per_band=rows_per_band
    )
    bucket_min = F.min(id_col).over(Window.partitionBy("band", "bucket"))
    won = b.withColumn("_won", (F.col(id_col) == bucket_min).cast("int"))
    return (
        won.groupBy(id_col)
        .agg(F.min("_won").alias("_all_won"))
        .filter(F.col("_all_won") == 1)
        .select(id_col)
    )


def lsh_greedy_keep_ctes(
    table: str = "documents", bands: int = BANDS, rows_per_band: int = ROWS_PER_BAND
) -> str:
    """DuckDB twin CTE chain of `lsh_greedy_keep` (shared-formula rule:
    both engines derive buckets from minhash_sql_cols/lsh_bucket_sql).
    Yields a `kept` CTE of doc_ids."""
    sig_cols = ",\n         ".join(minhash_sql_cols())
    bands_union = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, {lsh_bucket_sql(b, rows_per_band)} AS bucket"
        f" FROM gk_sigs"
        for b in range(bands)
    )
    return f"""gk_sigs AS (
  SELECT doc_id,
         {sig_cols}
  FROM {table}
),
gk_buckets AS (
{bands_union}
),
gk_won AS (
  SELECT doc_id,
         CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY band, bucket)
              THEN 1 ELSE 0 END AS won
  FROM gk_buckets
),
kept AS (
  SELECT doc_id FROM gk_won GROUP BY doc_id HAVING MIN(won) = 1
)"""


def ngram_jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    k: int = SHINGLE_K,
    materialize: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (the refine stage).

    |A ∩ B| via an equi-join of exploded DISTINCT shingles; |A ∪ B| =
    |A| + |B| - |A ∩ B|. Exact rational arithmetic (int/int division) so
    the oracle hashes match without rounding.

    Scale shape: the corpus is SEMI-JOIN-PRUNED to candidate-pair members
    BEFORE the shingle explode. At web scale candidate docs are a sliver
    of the corpus (LSH blocking exists precisely to make them so); without
    the prune every doc's shingle array is exploded and scanned just to
    verify that sliver — the round-3 VERDICT's one unpruned-scan
    scale-killer. The prune changes no output: only docs appearing in
    `pairs` ever reach the intersection join or the size lookups.

    `materialize=True` localCheckpoints the two bounded intermediates the
    plan consumes more than once — `pairs` (used by the id list, the
    intersection join and the final join) and the candidate shingle rows
    (used by both join sides and the size aggregate). Without it the
    whole LSH subtree replicates ~5x in the physical plan (no static
    exchange reuse across the branches) — at 100 TB that is five
    recomputations of the banding join. Both intermediates are
    candidate-volume-sized (pairs, and candidates x shingles), never
    corpus-sized; pass materialize=False for a pure lazy plan (tests
    inspect it).

    Storage lifetime: localCheckpoint partitions persist until the
    context dies. Long-lived sessions that call this in a loop (bench
    sampling, contract runs) should call
    session.clear_persistent_rdds(spark) between invocations, AFTER the
    returned DataFrame is fully materialized (checkpoint lineage is
    truncated — not recomputable once unpersisted)."""
    if materialize:
        # lazy: no extra job barrier — the RDD persists on first
        # computation and the other branches read the stored partitions
        pairs = pairs.localCheckpoint(eager=False)
    ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    cand_docs = docs.join(ids, "doc_id", "left_semi")
    sh = cand_docs.select(
        "doc_id", F.explode(F.array_distinct(T.shingles(text_col, k))).alias("sh")
    )
    if materialize:
        sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.withColumnRenamed("doc_id", "doc_a")
    b = sh.withColumnRenamed("doc_id", "doc_b")
    inter = (
        pairs.join(a, "doc_a")
        .join(b, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .fillna({"inter": 0})
        .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
    )
    union = F.col("n_a") + F.col("n_b") - F.col("inter")
    jac = F.when(union > 0, F.col("inter").cast("double") / union).otherwise(F.lit(0.0))
    return out.select("doc_a", "doc_b", "inter", "n_a", "n_b", jac.alias("jaccard"))


def simhash(docs: DataFrame, text_col: str = "text", bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash fingerprint: bit b set iff sum over tokens of ±1 (by bit b of
    the token hash) is positive.

    ONE aggregate() fold over the token-hash array with a `bits`-wide
    array accumulator (the minhash_signature pattern): acc[b] += ±1 by bit
    b of each token hash, via zip_with against a literal power-of-two
    array. The round-1..3 form ran `bits` separate folds — `bits`× the
    array traversals for identical integer sums (± terms are added in the
    same per-token order, so outputs are bit-identical and the DuckDB
    oracle is unchanged). All JVM expressions, no shuffle.

    Output: doc_id, simhash (bigint), n_tokens.
    """
    toks = F.coalesce(T.tokens(text_col), F.array().cast("array<string>"))
    hashed = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(t), 1, HEX_WIDTH), 16, 10).cast("bigint"),
    )
    # literal arrays (not aliased columns) — safe inside HOF lambdas
    pws = F.array(*[F.lit(1 << b).cast("bigint") for b in range(bits)])
    init = F.array(*[F.lit(0).cast("bigint")] * bits)
    out = docs.withColumn("_h", hashed)
    sums = F.aggregate(
        F.col("_h"),
        init,
        lambda acc, h: F.zip_with(
            acc,
            pws,
            lambda x, p: x
            + F.when(h.bitwiseAND(p) != 0, F.lit(1)).otherwise(F.lit(-1)).cast("bigint"),
        ),
    )
    # bit-pack: sum over b of 2^b where acc[b] > 0 — a second tiny fold
    fingerprint = F.aggregate(
        F.zip_with(
            sums, pws, lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("bigint"))
        ),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    return out.select(
        "doc_id",
        fingerprint.alias("simhash"),
        F.size(F.col("_h")).cast("bigint").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# DuckDB SQL twins (oracle)
# ---------------------------------------------------------------------------


def minhash_sql_cols(expr: str = "text", num_hashes: int = NUM_HASHES, k: int = SHINGLE_K) -> list[str]:
    """DuckDB twin of `minhash_signature`: one md5 per shingle + affine family."""
    sh = T.shingles_sql(expr, k)
    base_list = (
        f"list_transform({sh}, s -> ('0x' || substr(md5(s), 1, {HEX_WIDTH}))::BIGINT"
        f" % {MINHASH_P})"
    )
    cols = []
    for i, (a, b) in enumerate(PERM_CONSTS[:num_hashes]):
        h = f"list_min(list_transform({base_list}, h -> ({a} * h + {b}) % {MINHASH_P}))"
        sentinel = (a * EMPTY_BASE + b) % MINHASH_P
        cols.append(f"COALESCE({h}, {sentinel}) AS mh_{i}")
    return cols


def lsh_bucket_sql(band: int, rows_per_band: int = ROWS_PER_BAND) -> str:
    cols = " || '_' || ".join(
        f"mh_{band * rows_per_band + r}::VARCHAR" for r in range(rows_per_band)
    )
    return f"('0x' || substr(md5({cols}), 1, {HEX_WIDTH}))::BIGINT"


def decontamination_hits(
    docs: DataFrame,
    eval_mod: int = 50,
    text_col: str = "text",
    k: int = SHINGLE_K,
) -> DataFrame:
    """Training-data decontamination: flag corpus docs sharing any k-gram
    with the held-out eval set (docs with doc_id % eval_mod == 0 — stands
    in for a benchmark suite). The standard LLM-pipeline pre-training
    hygiene op: n-gram overlap against eval benchmarks.

    Plan shape (the part that matters at 100 TB): the EVAL side is tiny by
    construction, so its distinct k-gram set is BROADCAST; the corpus side
    explodes its distinct k-grams narrowly and semi-joins — the corpus is
    never shuffled, and the only aggregate is the per-doc overlap count
    (partial+final). Output: (doc_id, n_shared) for contaminated corpus
    docs only.
    """
    evalg = (
        docs.filter(F.col("doc_id") % eval_mod == 0)
        .select(F.explode(F.array_distinct(T.shingles(text_col, k))).alias("g"))
        .distinct()
    )
    corpus = docs.filter(F.col("doc_id") % eval_mod != 0)
    grams = corpus.select(
        "doc_id", F.explode(F.array_distinct(T.shingles(text_col, k))).alias("g")
    )
    return (
        grams.join(F.broadcast(evalg), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def decontamination_sql(
    eval_mod: int = 50, text_expr: str = "text", k: int = SHINGLE_K,
    table: str = "documents",
) -> str:
    """DuckDB twin of decontamination_hits (shared shingles_sql helper)."""
    sh = T.shingles_sql(text_expr, k)
    return f"""
WITH evalg AS (
  SELECT DISTINCT g.g AS g
  FROM {table}, unnest(list_distinct({sh})) AS g(g)
  WHERE doc_id % {eval_mod} = 0
),
grams AS (
  SELECT doc_id, g.g AS g
  FROM {table}, unnest(list_distinct({sh})) AS g(g)
  WHERE doc_id % {eval_mod} <> 0
)
SELECT grams.doc_id, COUNT(*) AS n_shared
FROM grams JOIN evalg ON grams.g = evalg.g
GROUP BY grams.doc_id
"""


def duplicate_clusters(
    pairs: DataFrame, a: str = "doc_a", b: str = "doc_b", max_rounds: int = 20
) -> DataFrame:
    """Connected components over the duplicate-pair graph: (doc_id,
    cluster_id) for every doc appearing in >= 1 pair, cluster_id = the
    component's minimum doc id (the canonical keep-one representative).

    The last rung of the dedup ladder: exact/MinHash/Jaccard stages emit
    PAIRS, but a keep-one policy needs CLUSTERS (doc A~B, B~C must keep
    one of three, not two of two overlapping pairs). Min-label
    propagation: every node starts labeled with itself; each round every
    node takes the min of its own and its neighbors' labels; fixpoint =
    components. Deterministic by construction (min is order-free).

    Scale shape: the edge set is the OUTPUT of the refine stage —
    candidate-volume, a sliver of the corpus — so each round is one
    equi-join + groupBy-min on a bounded frame, localCheckpointed to keep
    lineage flat. Rounds = graph diameter + 1 (the last one observes the
    fixpoint); near-clique duplicate groups converge in 2-3. A graph that
    has not converged after `max_rounds` raises RuntimeError rather than
    return split components. For adversarial
    long-chain graphs at extreme scale, switch to alternating
    large-star/small-star rounds (Kiveris et al., "Connected Components
    in MapReduce", SoCC 2014) — same fixpoint, O(log^2 n) rounds; the
    simple propagation is the right default at duplicate-graph shapes.
    """
    edges = (
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .union(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)  # reused every round: materialize once
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint(eager=False)
    )
    # r6: the convergence probe is the LABEL SUM, not a join. Min-label
    # propagation is monotone (every node's label can only decrease), so
    # sum(lbl) strictly decreases while ANY node changes and is constant
    # exactly at the fixpoint — the same stopping round as the old
    # newl-vs-labels join + filter + limit(1) probe, for one tiny
    # aggregate action per round instead of a two-sided label join.
    # DECIMAL(38,0) keeps the sum exact far beyond bigint (10^12 nodes x
    # 10^12 ids ~ 10^24 < 10^38).
    _dsum = lambda df: df.agg(  # noqa: E731
        F.sum(F.col("lbl").cast("decimal(38,0)")).alias("s")
    ).collect()[0]["s"]
    prev_sum = _dsum(labels)  # also materializes the labels checkpoint
    for _ in range(max_rounds):
        prop = (
            edges.join(labels.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"), "lbl")
        )
        newl = (
            labels.union(prop)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint(eager=False)
        )
        cur_sum = _dsum(newl)
        labels = newl
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(
            f"duplicate_clusters: labels still changing after max_rounds={max_rounds} "
            "rounds; the graph's diameter exceeds the round cap"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id"))


# Span length for corpus-internal duplicated-substring scoring. Long
# enough that chance k-gram collisions are negligible (vocab^8); short
# enough that near-duplicate docs still share most aligned spans.
DUP_GRAM_K = 8


# Python twin of the JVM tokenizer (functions.text.py_tokens) — shared by
# every Arrow text kernel; parity pinned by
# test_dup_gram_python_tokenizer_parity.
_py_tokens = T.py_tokens


def _gram_hash_rows(
    docs: DataFrame, text_col: str, k: int, id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, gh) rows — one row per DISTINCT k-token gram per doc,
    gh = portable_hash64(gram) — computed in one mapInArrow pass with
    hashlib.md5 (hashing.py_hash64's formula) instead of the interpreted
    shingle-pyramid + md5 expression chain. Emission order per doc is
    insertion order (dict.fromkeys), so recomputation is deterministic;
    every consumer is order-invariant regardless."""
    import hashlib

    import pyarrow as pa

    hexw = HEX_WIDTH

    def _scan(batches):
        for rb in batches:
            ids = rb.column(0).to_pylist()
            txts = rb.column(1).to_pylist()
            out_ids: list[int] = []
            out_gh: list[int] = []
            for did, s in zip(ids, txts):
                toks = _py_tokens(s, " ")
                n = len(toks) - k + 1
                if n <= 0:
                    continue
                grams = dict.fromkeys(
                    " ".join(toks[j : j + k]) for j in range(n)
                )
                for g in grams:
                    out_gh.append(
                        int(hashlib.md5(g.encode("utf-8")).hexdigest()[:hexw], 16)
                    )
                out_ids.extend([did] * len(grams))
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_ids, pa.int64()), pa.array(out_gh, pa.int64())],
                [id_col, "gh"],
            )

    return docs.select(id_col, text_col).mapInArrow(_scan, f"{id_col} long, gh long")


def dup_gram_stats(
    docs: DataFrame, text_col: str = "text", k: int = DUP_GRAM_K
) -> DataFrame:
    """Corpus-internal duplicated-span fraction per document (the exact
    substring-dedup statistic of Lee et al., "Deduplicating Training Data
    Makes Language Models Better", 2021): for each doc, the fraction of
    its DISTINCT k-token grams that occur in more than one document.
    Distinct from q40 (overlap vs a broadcast eval set) and q11 (pairwise
    Jaccard on LSH candidates): this scores every doc against the whole
    corpus with no pair enumeration at all.

    Plan shape (the part that matters at 100 TB):
    - ``n_grams`` is a pure map-side expression (size of the distinct
      shingle array) — the denominator never shuffles;
    - grams shuffle ONCE keyed by their 60-bit portable hash (8-byte
      keys, not span strings); the duplicate-gram dictionary is a
      partial+final count(*) — map-side combine absorbs hot boilerplate
      grams before the exchange;
    - marking is a LEFT SEMI join of gram rows against the (smaller,
      nd>1-filtered) dictionary — AQE's skew-join split handles a
      boilerplate gram shared by millions of docs, which a
      window-over-gram formulation could not (one unsplittable sort
      partition per hot gram);
    - the final per-doc count and the doc_id equi-join are skew-free
      (doc_id unique).
    The gram rows are deliberately recomputed by the two branches rather
    than persisted: corpus-sized intermediates follow the fused-recompute
    rule (persisting wide corpus-sized rows costs more than recomputing
    them), not the bounded-intermediate localCheckpoint rule of
    ngram_jaccard_pairs.

    Docs with fewer than k tokens have no spans and are excluded (both
    engines agree by construction). Output: doc_id, n_grams,
    n_dup_grams, dup_frac (round 9 — a ratio of two bigints, not an
    order-dependent sum).

    r6 implementation (guide §4.2 + §2.4; results unchanged — see
    `_dup_gram_stats_expr`, the retained expression form, and the
    bit-parity test): gram construction + hashing moved from the
    interpreted shingle-pyramid expression (7 zip_with concat passes per
    gram + array_distinct over gram STRINGS: ~12 s per evaluation at sf1
    even on 32 cores, and the plan evaluated it once per branch) into
    ONE mapInArrow pass emitting (doc_id, gh) rows — the Python
    tokenizer `_py_tokens` is parity-pinned to the JVM tokens()
    contract and gh is hashing.py_hash64, the sanctioned Python twin of
    portable_hash64. The pass feeds a single repartition("gh") exchange
    that all three consumers (dup dictionary, semi-join marking, per-doc
    gram counts) REUSE, so the corpus is tokenized exactly once and the
    plan holds one gh exchange + two doc_id exchanges; n_grams comes
    from a count over the same gram rows instead of a second shingle
    evaluation (identical by construction: the per-doc distinct gram
    set). Gram rows stay corpus-sized map output — nothing is persisted
    (the fused-recompute rule), reuse is static exchange reuse.
    """
    grams = _gram_hash_rows(docs, text_col=text_col, k=k)
    grams_gh = grams.repartition("gh")
    dup_dict = (
        grams_gh.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") > 1)
        .select("gh")
    )
    dup_per_doc = (
        grams_gh.join(dup_dict, "gh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_n_dup"))
    )
    n_grams = grams_gh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams")
    )
    return (
        n_grams.join(dup_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("_n_dup"), F.lit(0)).cast("bigint").alias("n_dup_grams"),
            F.round(
                F.coalesce(F.col("_n_dup"), F.lit(0)).cast("double")
                / F.col("n_grams"),
                9,
            ).alias("dup_frac"),
        )
    )


def _dup_gram_stats_expr(
    docs: DataFrame, text_col: str = "text", k: int = DUP_GRAM_K
) -> DataFrame:
    """The pre-r6 pure-expression form of `dup_gram_stats` (shingle
    pyramid + portable_hash64 per branch). Retained as the parity oracle
    for the mapInArrow form — outputs must match exactly."""
    from geotiff_tiler_spark.functions.hashing import portable_hash64

    sh = F.array_distinct(T.shingles(text_col, k))
    base = docs.select("doc_id", sh.alias("_sh")).filter(F.size("_sh") > 0)
    grams = base.select("doc_id", F.explode("_sh").alias("g")).select(
        "doc_id", portable_hash64("g").alias("gh")
    )
    dup_dict = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") > 1)
        .select("gh")
    )
    dup_per_doc = (
        grams.join(dup_dict, "gh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_n_dup"))
    )
    return (
        base.select("doc_id", F.size("_sh").cast("bigint").alias("n_grams"))
        .join(dup_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("_n_dup"), F.lit(0)).cast("bigint").alias("n_dup_grams"),
            F.round(
                F.coalesce(F.col("_n_dup"), F.lit(0)).cast("double")
                / F.col("n_grams"),
                9,
            ).alias("dup_frac"),
        )
    )


def dup_gram_sql(
    text_expr: str = "text", k: int = DUP_GRAM_K, table: str = "documents"
) -> str:
    """DuckDB twin of `dup_gram_stats` — same shared shingles_sql +
    portable 60-bit md5-prefix hash, so both engines mark the identical
    gram set as duplicated."""
    from geotiff_tiler_spark.functions.hashing import portable_hash64_sql

    sh = T.shingles_sql(text_expr, k)
    gh = portable_hash64_sql("g.g")
    return f"""
WITH base AS (
  SELECT doc_id, list_distinct({sh}) AS sh FROM {table}
),
grams AS (
  SELECT doc_id, {gh} AS gh FROM base, unnest(sh) AS g(g)
),
dup_dict AS (
  SELECT gh FROM grams GROUP BY gh HAVING COUNT(*) > 1
),
dup_per_doc AS (
  SELECT doc_id, COUNT(*) AS n_dup
  FROM grams
  WHERE gh IN (SELECT gh FROM dup_dict)
  GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(len(b.sh) AS BIGINT) AS n_grams,
       CAST(COALESCE(d.n_dup, 0) AS BIGINT) AS n_dup_grams,
       round(COALESCE(d.n_dup, 0)::DOUBLE / len(b.sh), 9) AS dup_frac
FROM base b
LEFT JOIN dup_per_doc d USING (doc_id)
WHERE len(b.sh) > 0
"""


# --- segment-level dedup with text reconstruction ---------------------------

SEGMENT_W = 8  # tokens per non-overlapping segment


def segment_dedup(
    docs: DataFrame, text_col: str = "text", w: int = SEGMENT_W
) -> DataFrame:
    """CCNet-style segment (line/paragraph) dedup WITH text reconstruction
    (Wenzek et al., "CCNet: Extracting High Quality Monolingual Datasets
    from Web Crawl Data", 2020 — there the unit is a line; this corpus
    has no newlines, so the unit is a non-overlapping `w`-token segment).
    Unlike q51 (dup_gram_stats), which only SCORES each doc, this operator
    EDITS it: every segment whose corpus-wide occurrence count exceeds 1
    is removed and the surviving segments are re-joined in order — the
    boilerplate-stripping transform a crawl-curation pipeline actually
    applies before training.

    Plan shape at 100 TB:
    - segmentization is a pure map: `_t` (the token array) is referenced
      MORE THAN ONCE in the segment projection, so CollapseProject keeps
      the tokenizer in its own projection and it runs ONCE per row (a
      plan test asserts a single regex split in the optimized plan —
      the shingles() lesson, text.py:63);
    - the duplicate-segment dictionary is a partial+final count(*) on
      the 60-bit portable segment hash — map-side combine absorbs hot
      boilerplate segments before the exchange, and the dictionary is
      nd>1-filtered before the join;
    - removal is a LEFT ANTI join of segment occurrences against the
      dictionary on the 8-byte hash (AQE-splittable on hot keys, unlike
      a window-over-segment);
    - reconstruction is a per-doc groupBy: collect_list of
      (idx, segment) structs, array_sort, join — bounded by the doc
      size, never by the corpus.

    Output: doc_id, n_seg, n_kept, kept_frac (round 9), clean_md5 (md5
    of the reconstructed text; '' when everything was boilerplate) — the
    md5 keeps the contract row narrow while still pinning the exact
    reconstructed bytes cross-engine.
    """
    from geotiff_tiler_spark.functions.hashing import portable_hash64

    base = docs.select("doc_id", T.tokens(text_col).alias("_t")).filter(
        F.size("_t") > 0
    )
    n_seg = F.floor((F.size("_t") + F.lit(w - 1)) / F.lit(w))
    segs = base.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(0), (n_seg - F.lit(1)).cast("int")),
            lambda i: F.array_join(F.slice(F.col("_t"), i * w + 1, w), " "),
        ).alias("_segs"),
    )
    # posexplode_OUTER on purpose: plain posexplode makes Catalyst infer a
    # `size(_segs) > 0` filter (InferFiltersFromGenerate) and predicate
    # pushdown inlines the WHOLE segment expression — tokenizer included —
    # into that predicate's per-element lambda, re-running the regex split
    # once per segment. Outer explode skips the inference; it is
    # semantically identical here because the size(_t) > 0 pre-filter
    # guarantees every doc has at least one segment.
    occ = segs.select(
        "doc_id", F.posexplode_outer("_segs").alias("idx", "seg")
    ).withColumn("gh", portable_hash64("seg"))
    dup_dict = (
        occ.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") > 1)
        .select("gh")
    )
    recon = (
        occ.join(dup_dict, "gh", "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("_n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "seg"))),
                    lambda x: x["seg"],
                ),
                " ",
            ).alias("_clean"),
        )
    )
    return (
        segs.select("doc_id", F.size("_segs").cast("bigint").alias("n_seg"))
        .join(recon, "doc_id", "left")
        .select(
            "doc_id",
            "n_seg",
            F.coalesce(F.col("_n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
            F.round(
                F.coalesce(F.col("_n_kept"), F.lit(0)).cast("double")
                / F.col("n_seg"),
                9,
            ).alias("kept_frac"),
            F.md5(F.coalesce(F.col("_clean"), F.lit(""))).alias("clean_md5"),
        )
    )


def segment_dedup_sql(
    text_expr: str = "text", w: int = SEGMENT_W, table: str = "documents"
) -> str:
    """DuckDB twin of :func:`segment_dedup` — same shared tokenizer
    (text.tokens_sql) + portable 60-bit segment hash, so both engines
    remove the identical segment set and reconstruct identical bytes."""
    from geotiff_tiler_spark.functions.hashing import portable_hash64_sql

    toks = T.tokens_sql(text_expr)
    gh = portable_hash64_sql("seg")
    return f"""
WITH base AS (
  SELECT doc_id, {toks} AS t FROM {table}
),
b2 AS (
  SELECT doc_id,
         list_transform(
           range(0, CAST(floor((len(t) + {w - 1}) / {w}) AS BIGINT), 1),
           i -> array_to_string(list_slice(t, CAST(i*{w} + 1 AS INT), CAST(i*{w} + {w} AS INT)), ' ')) AS segs
  FROM base WHERE len(t) > 0
),
occ AS (
  SELECT doc_id, CAST(r.i AS BIGINT) - 1 AS idx, segs[CAST(r.i AS INT)] AS seg
  FROM b2, unnest(range(1, len(segs) + 1, 1)) AS r(i)
),
och AS (
  SELECT doc_id, idx, seg, {gh} AS gh FROM occ
),
dups AS (
  SELECT gh FROM och GROUP BY gh HAVING COUNT(*) > 1
),
recon AS (
  SELECT doc_id, COUNT(*) AS n_kept, string_agg(seg, ' ' ORDER BY idx) AS clean
  FROM och WHERE gh NOT IN (SELECT gh FROM dups)
  GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(len(b.segs) AS BIGINT) AS n_seg,
       CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
       round(COALESCE(r.n_kept, 0)::DOUBLE / len(b.segs), 9) AS kept_frac,
       md5(COALESCE(r.clean, '')) AS clean_md5
FROM b2 b
LEFT JOIN recon r USING (doc_id)
"""


# --- cross-source overlap matrix ---------------------------------------------


def source_overlap_matrix(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    k: int = SHINGLE_K,
    materialize: bool = True,
    max_sources_per_gram: int | None = None,
) -> DataFrame:
    """Exact pairwise gram-Jaccard between provenances (which crawls /
    dumps / feeds duplicate each other?) — the curation analytics that
    decides which source to drop when two overlap heavily, computed
    WITHOUT enumerating doc pairs: per-source DISTINCT gram sets, then
    |A ∩ B| from a gram-keyed self-join and |A ∪ B| = |A| + |B| − |A ∩ B|.

    Scale shape: the corpus collapses to DISTINCT (source, gram-hash)
    rows in one partial+final aggregate — vocabulary-sized, not
    corpus-sized; the self-join is keyed on the 60-bit gram hash, whose
    fan-out per gram is bounded by the number of sources carrying it
    (pairs emerge SPARSELY from shared grams — no |sources|^2 scan);
    the pair counts and size lookups are tiny final aggregates. Only
    source pairs sharing at least one gram appear (identical in both
    engines by construction).

    `materialize=True` localCheckpoints the distinct gram rows — the
    bounded intermediate all three branches (sizes, both join sides)
    consume (the ngram_jaccard_pairs rule; same storage-lifetime caveat:
    long-lived sessions should session.clear_persistent_rdds after the
    result is materialized).

    `max_sources_per_gram`: the one quadratic residue in this shape is a
    UBIQUITOUS gram — carried by m sources it emits m(m-1)/2 pair rows,
    harmless at m=20 but ~5e7 rows for one gram at m=10^4 provenances.
    Setting the cap drops grams carried by more than m sources BEFORE
    the self-join (a per-gram count + semi-join, all on 8-byte keys) —
    the standard boilerplate-gram exclusion; such grams say nothing
    about PAIRWISE affinity precisely because everyone has them. The
    exclusion changes the statistic, so the default (None) keeps the
    exact matrix — at bounded source counts (the q58 contract) the exact
    form is the right one."""
    from geotiff_tiler_spark.functions.hashing import portable_hash64

    sg = (
        docs.select(
            F.col(source_col).alias("src"),
            F.explode(F.array_distinct(T.shingles(text_col, k))).alias("g"),
        )
        .select("src", portable_hash64("g").alias("gh"))
        .distinct()
    )
    if materialize:
        sg = sg.localCheckpoint(eager=False)
    sizes = sg.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    paired = sg
    if max_sources_per_gram is not None:
        rare = (
            sg.groupBy("gh")
            .agg(F.count(F.lit(1)).alias("_m"))
            .filter(F.col("_m") <= max_sources_per_gram)
            .select("gh")
        )
        paired = sg.join(rare, "gh", "left_semi")
    a = paired.withColumnRenamed("src", "s1")
    b = paired.withColumnRenamed("src", "s2")
    inter = (
        a.join(b, "gh")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("src", "s1").withColumnRenamed("n", "n_a"), "s1")
        .join(sizes.withColumnRenamed("src", "s2").withColumnRenamed("n", "n_b"), "s2")
        .select(
            "s1",
            "s2",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.col("n_inter").cast("bigint").alias("n_inter"),
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                9,
            ).alias("jaccard"),
        )
    )


def source_overlap_sql(
    source_expr: str = "source",
    text_expr: str = "text",
    k: int = SHINGLE_K,
    table: str = "documents",
    max_sources_per_gram: int | None = None,
) -> str:
    """DuckDB twin of :func:`source_overlap_matrix` — same shared
    shingles_sql + portable gram hash, same sparse pair emission.
    `max_sources_per_gram` mirrors the Spark cap EXACTLY: sizes stay
    UNCAPPED (per-source distinct gram counts over the full sg), only
    the pair-emitting self-join is restricted to grams carried by <= m
    sources — so jaccard under the cap is n_inter_capped / union_full,
    identically in both engines."""
    from geotiff_tiler_spark.functions.hashing import portable_hash64_sql

    sh = T.shingles_sql(text_expr, k)
    gh = portable_hash64_sql("t.g")
    if max_sources_per_gram is None:
        paired = "sg"
        cap_cte = ""
    else:
        cap_cte = f"""
rare AS (
  SELECT gh FROM sg GROUP BY gh HAVING COUNT(*) <= {int(max_sources_per_gram)}
),
paired AS (
  SELECT sg.* FROM sg JOIN rare USING (gh)
),"""
        paired = "paired"
    return f"""
WITH sg AS (
  SELECT DISTINCT {source_expr} AS src, {gh} AS gh
  FROM (SELECT {source_expr}, unnest(list_distinct({sh})) AS g FROM {table}) t({source_expr}, g)
),{cap_cte}
sizes AS (
  SELECT src, COUNT(*) AS n FROM sg GROUP BY src
),
pairs AS (
  SELECT a.src AS s1, b.src AS s2, COUNT(*) AS n_inter
  FROM {paired} a JOIN {paired} b ON a.gh = b.gh AND a.src < b.src
  GROUP BY 1, 2
)
SELECT p.s1, p.s2,
       CAST(x.n AS BIGINT) AS n_a,
       CAST(y.n AS BIGINT) AS n_b,
       CAST(p.n_inter AS BIGINT) AS n_inter,
       round(p.n_inter::DOUBLE / (x.n + y.n - p.n_inter), 9) AS jaccard
FROM pairs p
JOIN sizes x ON p.s1 = x.src
JOIN sizes y ON p.s2 = y.src
"""


def source_novelty(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    k: int = SHINGLE_K,
    materialize: bool = True,
) -> DataFrame:
    """Incremental novelty per provenance: processing sources in
    deterministic id order (lexicographic on the source id — the stand-in
    for crawl order), what fraction of a source's distinct grams was
    never seen in ANY earlier source? The diminishing-returns curve of
    adding one more dump — the complement of the pairwise overlap matrix
    (source_overlap_matrix tells you WHO duplicates whom; this tells you
    what each source still ADDS).

    Scale shape: the corpus collapses to DISTINCT (source, gram-hash)
    rows in one partial+final aggregate (vocabulary-sized); each gram's
    FIRST carrier is one more map-side-combined min() keyed on the
    8-byte gram hash; per-source totals and novel counts are tiny final
    aggregates. No join is corpus-sized and nothing is quadratic —
    unlike the overlap matrix, novelty has no ubiquitous-gram residue
    (every gram contributes exactly one novel row regardless of spread).

    `materialize` localCheckpoints the distinct gram rows consumed by
    both branches (the source_overlap_matrix rule).

    Output per source: n_grams (distinct), n_novel (grams it introduces),
    novelty (round 9). Invariant: sum(n_novel) == |distinct grams|."""
    from geotiff_tiler_spark.functions.hashing import portable_hash64

    sg = (
        docs.select(
            F.col(source_col).alias("src"),
            F.explode(F.array_distinct(T.shingles(text_col, k))).alias("g"),
        )
        .select("src", portable_hash64("g").alias("gh"))
        .distinct()
    )
    if materialize:
        sg = sg.localCheckpoint(eager=False)
    sizes = sg.groupBy("src").agg(F.count(F.lit(1)).alias("n_grams"))
    novel = (
        sg.groupBy("gh")
        .agg(F.min("src").alias("src"))
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return (
        sizes.join(novel, "src", "left")
        .select(
            "src",
            F.col("n_grams").cast("bigint").alias("n_grams"),
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("bigint").alias("n_novel"),
            F.round(
                F.coalesce(F.col("n_novel"), F.lit(0)).cast("double")
                / F.col("n_grams"),
                9,
            ).alias("novelty"),
        )
    )


def source_novelty_sql(
    source_expr: str = "source",
    text_expr: str = "text",
    k: int = SHINGLE_K,
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`source_novelty` — same shared shingles_sql +
    portable gram hash, same first-carrier min()."""
    from geotiff_tiler_spark.functions.hashing import portable_hash64_sql

    sh = T.shingles_sql(text_expr, k)
    gh = portable_hash64_sql("t.g")
    return f"""
WITH sg AS (
  SELECT DISTINCT {source_expr} AS src, {gh} AS gh
  FROM (SELECT {source_expr}, unnest(list_distinct({sh})) AS g FROM {table}) t({source_expr}, g)
),
sizes AS (
  SELECT src, COUNT(*) AS n_grams FROM sg GROUP BY src
),
novel AS (
  SELECT src, COUNT(*) AS n_novel FROM
    (SELECT gh, MIN(src) AS src FROM sg GROUP BY gh) GROUP BY src
)
SELECT s.src,
       CAST(s.n_grams AS BIGINT) AS n_grams,
       CAST(COALESCE(n.n_novel, 0) AS BIGINT) AS n_novel,
       round(COALESCE(n.n_novel, 0)::DOUBLE / s.n_grams, 9) AS novelty
FROM sizes s LEFT JOIN novel n ON s.src = n.src
"""


def segment_occurrences(
    df: DataFrame,
    text_col: str = "text",
    w: int = SEGMENT_W,
    id_col: str = "doc_id",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, [extra...], n_seg, idx, seg, gh) rows — the segmentization of
    :func:`segment_dedup` factored out so the STREAMING twin
    (streaming.ingest.streaming_segment_strip) emits byte-identical
    segments to the batch operator. Same hot-path rules: the token array
    is referenced more than once so the tokenizer runs once per row, and
    posexplode_OUTER avoids InferFiltersFromGenerate inlining the whole
    segment expression into an inferred size() predicate (semantically
    identical under the size(_t) > 0 pre-filter)."""
    from geotiff_tiler_spark.functions.hashing import portable_hash64

    base = df.select(id_col, *extra_cols, T.tokens(text_col).alias("_t")).filter(
        F.size("_t") > 0
    )
    n_seg = F.floor((F.size("_t") + F.lit(w - 1)) / F.lit(w))
    segs = base.select(
        id_col,
        *extra_cols,
        F.transform(
            F.sequence(F.lit(0), (n_seg - F.lit(1)).cast("int")),
            lambda i: F.array_join(F.slice(F.col("_t"), i * w + 1, w), " "),
        ).alias("_segs"),
    )
    return segs.select(
        id_col,
        *extra_cols,
        F.size("_segs").cast("bigint").alias("n_seg"),
        F.posexplode_outer("_segs").alias("idx", "seg"),
    ).withColumn("gh", portable_hash64("seg"))


def duplicate_segment_dict(
    docs: DataFrame, text_col: str = "text", w: int = SEGMENT_W
) -> DataFrame:
    """The corpus-wide duplicate-segment dictionary (gh rows with
    occurrence count > 1) — the static side of the stream-static
    boilerplate-strip join. One partial+final count(*) on the 60-bit
    segment hash; dictionary-sized (distinct duplicated segments), never
    corpus-sized."""
    return (
        segment_occurrences(docs, text_col, w)
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") > 1)
        .select("gh")
    )


# Containment threshold for the excerpt-dup refine (Broder's containment
# coefficient): a pair is an excerpt-dup when the SMALLER shingle set is
# at least half inside the larger one.
CONTAINMENT_THRESHOLD = 0.5


def containment_expr_sql() -> str:
    """Containment coefficient of the smaller side: |A ∩ B| / min(|A|,|B|)
    (Broder 1997's c(A,B) taken at the smaller set, so one expression
    covers both directions). Shared-formula rule: this exact string is
    F.expr'd on the Spark side and inlined in the DuckDB oracle — int/int
    division of exact counts, correctly rounded IEEE, no rounding needed."""
    return (
        "CASE WHEN least(n_a, n_b) > 0 "
        "THEN CAST(inter AS DOUBLE) / least(n_a, n_b) ELSE 0.0 END"
    )


def containment_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    k: int = SHINGLE_K,
    threshold: float = CONTAINMENT_THRESHOLD,
    materialize: bool = True,
) -> DataFrame:
    """Asymmetric near-dup refine: containment of the smaller shingle set
    in the larger, over the SAME LSH candidate pairs as the Jaccard refine.

    Why a separate statistic: Jaccard punishes size mismatch — a 50-token
    excerpt fully contained in a 5,000-token page scores |A|/|B| ≈ 0.01
    and sails past any Jaccard threshold, yet it is exactly the
    quote/boilerplate duplication a curation pass wants to see.
    Containment = inter / min(n_a, n_b) is 1.0 for a perfect excerpt
    regardless of the size ratio (Broder, "On the resemblance and
    containment of documents", 1997).

    Scale shape: identical to ngram_jaccard_pairs (this IS that plan plus
    one projection + filter) — corpus semi-join-pruned to candidate
    members before the shingle explode, both fan-out intermediates
    localCheckpointed once, candidate-volume joins only. The containment
    filter is a post-aggregation row filter; no new shuffle.

    Caveat carried from LSH: candidates come from MinHash banding, which
    targets JACCARD-similar pairs — a tiny excerpt of a huge page may not
    band-collide. At 100 TB the standard recall fix is a second banding
    pass over suffix-truncated documents; the refine below is agnostic to
    how `pairs` was produced."""
    j = ngram_jaccard_pairs(docs, pairs, text_col, k, materialize)
    cont = F.expr(containment_expr_sql())
    return (
        j.select("doc_a", "doc_b", "inter", "n_a", "n_b", cont.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def jsd_term_int_expr_sql() -> str:
    """Per-token Jensen–Shannon divergence contribution as an EXACT
    INTEGER in nano-nats, over columns (c_a, t_a, c_b, t_b) = per-source
    token count and source total:

        p = c_a / t_a,  q = c_b / t_b
        term = (p·ln(2p/(p+q)) + q·ln(2q/(p+q))) / 2

    Summing doubles per source pair is partition-order-dependent (the
    q47 lesson — see nll_lp_int_expr_sql); rounding each term to an
    integral nano-nat BEFORE the sum makes the aggregate exact and
    order-free on both engines. |term| ≤ ln2/2 per token mass, so the
    bigint sum stays far inside range at any vocabulary size. The p/q
    doubles are division of exact bigints (correctly rounded IEEE) and
    the textual expression is identical on both engines, so ln() sees
    bit-identical arguments."""
    p = "(CAST(c_a AS DOUBLE) / t_a)"
    q = "(CAST(c_b AS DOUBLE) / t_b)"
    return (
        "CAST(round(("
        f"CASE WHEN c_a > 0 THEN {p} * ln(2.0 * {p} / ({p} + {q})) ELSE 0.0 END"
        f" + CASE WHEN c_b > 0 THEN {q} * ln(2.0 * {q} / ({p} + {q})) ELSE 0.0 END"
        ") * 500000000.0) AS BIGINT)"
    )


def jsd_final_expr_sql(sum_col: str = "sum_t") -> str:
    """JSD in nats from the exact nano-nat sum (one division of an exact
    bigint, then a 9-decimal round — deterministic cross-engine)."""
    return f"round(CAST({sum_col} AS DOUBLE) / 1000000000.0, 9)"


def source_jsd(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    materialize: bool = True,
) -> DataFrame:
    """Pairwise Jensen–Shannon divergence between per-source unigram
    distributions — the distributional complement of the set-overlap
    matrix (source_overlap_matrix tells you WHETHER two dumps share
    vocabulary; this tells you how differently they WEIGHT it). JSD is
    symmetric, bounded by ln 2, and defined even where supports differ —
    the standard distance for choosing mixture weights / spotting
    near-identical crawl snapshots (low JSD ⇒ merging adds no diversity).

    Scale shape: the corpus collapses to per-(source, token) counts in one
    partial+final hash aggregate (vocabulary × sources rows out, map-side
    combined). The token-keyed self-join that forms pairs fans out per
    token only to the sources carrying it; totals are a broadcast-sized
    dimension (one row per source). At 10^12 docs the only corpus-sized
    pass is the first explode+aggregate; everything downstream is
    vocabulary-sized. Zero-count sides are materialized by a
    vocabulary × sources grid (crossJoin with the broadcast totals) so
    single-source tokens contribute their p·ln2 mass exactly — the grid
    is |vocab|·|sources| rows, the same order as the count table itself
    at bounded source counts.

    Fan-out materialization: the count table feeds THREE consumers
    (totals, vocab, the grid join) and the zero-filled grid feeds both
    sides of the pair self-join; without materialization Catalyst
    re-derives each consumer from scratch — the physical plan scans and
    explodes the corpus SIX times (no static exchange reuse across plan
    branches, the ngram_jaccard_pairs trap). `materialize=True`
    localCheckpoints both bounded intermediates (lazily — no job
    barrier), collapsing the plan to ONE corpus pass; a plan test
    asserts the single-scan shape. Storage lifetime follows the
    ngram_jaccard_pairs rule: checkpointed partitions persist until the
    RDDs are garbage-collected; long-lived sessions looping this op
    should clear storage between invocations.

    Output: (s1, s2, n_common, jsd) per unordered source pair, exact
    nano-nat integer sum, 9-decimal final round (jsd_*_sql shared with
    the DuckDB oracle)."""
    toks = docs.select(
        F.col(source_col).alias("src"), F.explode(T.tokens(text_col)).alias("tok")
    )
    cnt = toks.groupBy("src", "tok").agg(F.count(F.lit(1)).alias("c"))
    if materialize:
        cnt = cnt.localCheckpoint(eager=False)
    tot = cnt.groupBy("src").agg(F.sum("c").alias("t"))
    vocab = cnt.select("tok").distinct()
    grid = vocab.crossJoin(F.broadcast(tot))
    full = grid.join(cnt, ["src", "tok"], "left").fillna({"c": 0})
    if materialize:
        full = full.localCheckpoint(eager=False)
    a = full.select(
        F.col("src").alias("s1"),
        "tok",
        F.col("c").alias("c_a"),
        F.col("t").alias("t_a"),
    )
    b = full.select(
        F.col("src").alias("s2"),
        "tok",
        F.col("c").alias("c_b"),
        F.col("t").alias("t_b"),
    )
    j = a.join(b, "tok").filter(F.col("s1") < F.col("s2"))
    per_pair = j.groupBy("s1", "s2").agg(
        F.sum(F.expr(jsd_term_int_expr_sql())).alias("sum_t"),
        F.sum(
            F.when((F.col("c_a") > 0) & (F.col("c_b") > 0), 1).otherwise(0)
        ).alias("n_common"),
    )
    return per_pair.select(
        "s1",
        "s2",
        F.col("n_common").cast("bigint").alias("n_common"),
        F.expr(jsd_final_expr_sql()).alias("jsd"),
    )


def source_jsd_sql(
    source_expr: str = "source", text_expr: str = "text", table: str = "documents"
) -> str:
    """DuckDB twin of source_jsd — same grid construction, same shared
    term/final expression strings."""
    toks = T.tokens_sql(text_expr)
    return f"""
WITH toks AS (
  SELECT {source_expr} AS src, t.tok AS tok FROM {table}, unnest({toks}) AS t(tok)
),
cnt AS (SELECT src, tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2),
tot AS (SELECT src, CAST(SUM(c) AS BIGINT) AS t FROM cnt GROUP BY 1),
vocab AS (SELECT DISTINCT tok FROM cnt),
grid AS (SELECT v.tok, tot.src, tot.t FROM vocab v CROSS JOIN tot),
fullg AS (
  SELECT g.tok, g.src, COALESCE(c.c, 0) AS c, g.t
  FROM grid g LEFT JOIN cnt c ON c.src = g.src AND c.tok = g.tok
),
j AS (
  SELECT a.src AS s1, b.src AS s2,
         a.c AS c_a, a.t AS t_a, b.c AS c_b, b.t AS t_b
  FROM fullg a JOIN fullg b ON a.tok = b.tok AND a.src < b.src
)
SELECT s1, s2,
       CAST(SUM(CASE WHEN c_a > 0 AND c_b > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
       {jsd_final_expr_sql("SUM(" + jsd_term_int_expr_sql() + ")")} AS jsd
FROM j
GROUP BY s1, s2
"""
