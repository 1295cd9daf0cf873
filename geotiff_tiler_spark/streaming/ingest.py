"""Streaming ingest: pages arriving by warc_ts -> the same idempotent tile
pipeline (SURVEY §2.9 R8 — the reference is batch; this is the engine's
streaming extension, built on public Structured Streaming primitives).

Two modes:

- `windowed_cell_counts`: pure streaming aggregation — tumbling event-time
  windows over `warc_ts` with a watermark for late data, counting pages
  per (window, image cell). Fully incremental, state bounded by the
  watermark horizon.
- `foreach_batch_tiler`: micro-batch bridge into the batch engine — each
  micro-batch runs the SAME tiling stages and is ONE run commit of the SAME
  manifest (`Manifest.commit_run`), so exactly-once per tile comes from
  the manifest anti-join (identical to the reference's is_patch_completed
  check, tiler.py:781-784), not from sink-specific transactions. A
  replayed micro-batch is a no-op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geotiff_tiler_spark.functions.url import canonical_url_sql, host_sql
from geotiff_tiler_spark.operators import tiling
from geotiff_tiler_spark.operators.tiling import TilingParams
from geotiff_tiler_spark.plans.manifest import Manifest


def read_pages_stream(
    spark, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of the pages shape (new files appear -> new rows).

    `max_files_per_trigger` bounds each micro-batch (backpressure for the
    catch-up scan over a large landing dir; also what the kill/restart
    test uses to force a multi-batch run)."""
    schema = (
        "doc_id long, url string, warc_ts timestamp, html binary, "
        "text string, lang string"
    )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def windowed_cell_counts(
    pages: DataFrame,
    params: TilingParams,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling event-time window x image-cell page counts with late-data
    handling (watermark bounds the state store)."""
    pts = tiling.doc_points(pages, params)
    return (
        pts.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"), F.col("image_id"))
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "image_id",
            "n_pages",
        )
    )


def foreach_batch_tiler(params: TilingParams, out_dir: str, manifest_dir: str):
    """Returns a foreachBatch function running the idempotent tile commit."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        manifest = Manifest(spark, manifest_dir)
        pts = tiling.doc_points(batch_df, params)
        tiles = tiling.filter_patches(
            tiling.full_tile_grid(pts, params), params
        ).filter("keep")
        split = tiling.assign_split(tiles, params, validation_cells=None)
        work = split.select(
            "image_id", "tile_x", "tile_y", "split", "point_cnt", "nonzero_px"
        )
        pending = manifest.filter_pending(work)
        if not pending.isEmpty():
            manifest.commit_run(out_dir, pending)

    return _process


def streaming_exact_dedup(
    pages: DataFrame,
    text_col: str = "text",
    ts_col: str = "warc_ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming exact dedup: first-seen-wins on the text digest, the
    streaming form of `dedup.exact_dedup_groups` (the batch ladder's first
    rung). State is the digest set within the watermark horizon —
    `dropDuplicatesWithinWatermark`, NOT `dropDuplicates`, whose state
    grows without bound on an infinite stream. The dedup key is the
    16-byte binary md5 (same key as the batch operator: half the state
    width of the hex form on a mostly-unique key).

    Semantics note: duplicates separated by more than the watermark horizon
    are NOT collapsed (bounded-state tradeoff); the batch exact dedup over
    the at-rest table remains the exactness baseline.
    """
    keyed = pages.withColumn("_text_md5", F.unhex(F.md5(F.col(text_col))))
    return (
        keyed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_text_md5"])
        .drop("_text_md5")
    )


def streaming_neardup_keep(
    pages: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "warc_ts",
    watermark: str = "30 minutes",
    window_size: str = "1 hour",
    bands: int | None = None,
    rows_per_band: int | None = None,
) -> DataFrame:
    """Streaming NEAR-dup keep: the greedy LSH dedup
    (`dedup.lsh_greedy_keep`) as a continuous-crawl operator, built from
    chained built-in stateful operators (Spark >= 3.5 multi-stateful
    append mode) — no custom state code:

      1. MinHash signature + LSH band buckets (pure map, the exact batch
         expressions; the event-time column rides through via
         lsh_buckets(extra_cols));
      2. first-ARRIVAL-wins per (band, bucket):
         `dropDuplicatesWithinWatermark` — state bounded by the horizon;
      3. a doc is emitted as KEPT iff all `bands` of its band rows
         survived step 2 — a windowed per-doc count (a doc has ONE event
         time, so its rows share one window), emitted when the watermark
         closes the window.

    Batch parity: when arrival order follows doc_id, the kept set equals
    `lsh_greedy_keep` over the at-rest table (asserted in
    test_streaming_multimodal). Same bounded-state caveat as
    streaming_exact_dedup: near-dups separated by more than the horizon
    are not collapsed; the batch operator over the at-rest table is the
    exactness baseline."""
    from geotiff_tiler_spark.operators import dedup

    bands = bands if bands is not None else dedup.BANDS
    rows_per_band = (
        rows_per_band if rows_per_band is not None else dedup.ROWS_PER_BAND
    )
    sigs = dedup.minhash_signature(
        pages.select(id_col, ts_col, text_col), text_col=text_col
    )
    b = dedup.lsh_buckets(sigs, bands, rows_per_band, extra_cols=(ts_col,))
    first = b.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["band", "bucket"]
    )
    return (
        first.groupBy(F.window(ts_col, window_size), F.col(id_col))
        .agg(F.count(F.lit(1)).alias("bands_won"))
        .filter(F.col("bands_won") == bands)
        .select(id_col)
    )


def stateful_image_stats(
    pages: DataFrame,
    params: TilingParams,
    timeout_minutes: int = 60,
):
    """Custom stateful streaming operator via applyInPandasWithState:
    per-image RUNNING point counts + coordinate sums across micro-batches —
    the streaming form of the reference's running band statistics
    (tiling_manifest.py:443-533: accumulate sums/sums-of-squares, finalize
    mean/std), keyed by image cell with processing-time timeout.

    Emits one row per (image_id, update) with the running aggregate, so a
    downstream sink always has the latest consistent stats per image.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    pts = tiling.doc_points(pages, params).select("image_id", "px", "py")

    out_schema = (
        "image_id long, n long, sum_px double, sum_px2 double, "
        "mean_px double, std_px double"
    )
    state_schema = "n long, s1 double, s2 double"

    def _update(key, pdf_iter, state: GroupState):
        import numpy as np
        import pandas as pd

        (image_id,) = key
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(
                columns=["image_id", "n", "sum_px", "sum_px2", "mean_px", "std_px"]
            )
            return
        n, s1, s2 = state.get if state.exists else (0, 0.0, 0.0)
        for pdf in pdf_iter:
            px = pdf["px"].to_numpy(dtype=np.float64)
            n += len(px)
            s1 += float(px.sum())
            s2 += float((px * px).sum())
        state.update((n, s1, s2))
        state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        mean = s1 / n if n else 0.0
        var = max(s2 / n - mean * mean, 0.0) if n else 0.0
        yield pd.DataFrame(
            [
                (
                    image_id,
                    n,
                    s1,
                    s2,
                    round(mean, 6),
                    round(var**0.5, 6),
                )
            ],
            columns=["image_id", "n", "sum_px", "sum_px2", "mean_px", "std_px"],
        )

    return pts.groupBy("image_id").applyInPandasWithState(
        _update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def stream_label_tile_counts(
    pages: DataFrame,
    label_boxes: DataFrame,
    params: TilingParams,
    res: int = 3,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-static spatial join: the pages STREAM geocoded to points and
    point-in-box joined against the STATIC label-box layer, then counted
    per (event-time window, label class).

    Closes the north-rule loop of "streaming ingest variant" x the spatial
    path: the same cell equi-join + exact box refine as the batch
    `spatial_join.point_in_box_join` (inclusive min edges, exclusive max),
    expressed as a stream-static inner join — Spark broadcasts/replays the
    static side per micro-batch, the stream side never blocks, and no
    stream-side state is needed for the join itself (only the windowed
    count keeps watermark-bounded state). At scale the static label layer
    is a broadcast-sized dimension (features, not pages); a label layer
    too big to broadcast would bucket by cell instead.
    """
    from geotiff_tiler_spark.functions import geo
    from geotiff_tiler_spark.operators.spatial_join import boxes_to_cells

    pts = tiling.doc_points(pages, params).select(
        "doc_id", "lon", "lat", "warc_ts"
    )
    pc = pts.withColumn("cell", geo.cell_id("lon", "lat", res))
    lc = F.broadcast(boxes_to_cells(label_boxes, res))
    hit = (
        (F.col("lon") >= F.col("xmin"))
        & (F.col("lon") < F.col("xmax"))
        & (F.col("lat") >= F.col("ymin"))
        & (F.col("lat") < F.col("ymax"))
    )
    joined = pc.join(lc, "cell").filter(hit).select(
        "doc_id", "warc_ts", "feature_id", "class"
    )
    return (
        joined.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"), F.col("class"))
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "class",
            "n_hits",
        )
    )


def streaming_segment_strip(
    pages: DataFrame,
    dup_dict: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "warc_ts",
    watermark: str = "30 minutes",
    window_size: str = "1 hour",
    w: int | None = None,
) -> DataFrame:
    """Streaming boilerplate strip: the segment-dedup EDIT
    (dedup.segment_dedup) as a continuous-crawl operator. The
    duplicate-segment dictionary comes from the at-rest corpus
    (dedup.duplicate_segment_dict — dictionary-sized, broadcast), so the
    stream side is a pure map + ONE stream-static broadcast join + ONE
    windowed aggregation:

      1. segmentize each arriving page with the EXACT batch expressions
         (dedup.segment_occurrences — byte-identical segments/hashes);
      2. mark dictionary hits via a stream-static LEFT join against the
         broadcast dictionary (not stateful — no state grows with the
         dictionary);
      3. reconstruct per doc when its event-time window closes: nulls
         from the dictionary-hit rows vanish inside collect_list, so the
         surviving segments re-join in order exactly like the batch
         operator; a doc whose every segment is boilerplate still emits
         (n_kept=0, clean_md5 of ''), because its rows reach the window
         regardless of dictionary hits.

    Batch parity (asserted in tests): over the same input and the same
    dictionary, the emitted rows equal dedup.segment_dedup's output
    projected to (doc_id, n_seg, n_kept, kept_frac, clean_md5).
    Freshness caveat: segments that become duplicated only AFTER the
    dictionary snapshot are not stripped — refresh the dictionary
    per-batch via foreachBatch when the corpus itself is the stream."""
    from geotiff_tiler_spark.operators import dedup

    w = w if w is not None else dedup.SEGMENT_W
    occ = dedup.segment_occurrences(
        pages, text_col=text_col, w=w, id_col=id_col, extra_cols=(ts_col,)
    )
    marked = occ.join(
        F.broadcast(dup_dict.select("gh").withColumn("_dup", F.lit(1))),
        "gh",
        "left",
    )
    kept_struct = F.when(
        F.col("_dup").isNull(), F.struct(F.col("idx"), F.col("seg"))
    )
    agg = (
        marked.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_size), F.col(id_col))
        .agg(
            F.max("n_seg").alias("n_seg"),
            F.sum(F.when(F.col("_dup").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda x: x["seg"],
                ),
                " ",
            ).alias("_clean"),
        )
    )
    return agg.select(
        id_col,
        "n_seg",
        "n_kept",
        F.round(F.col("n_kept").cast("double") / F.col("n_seg"), 9).alias(
            "kept_frac"
        ),
        F.md5(F.col("_clean")).alias("clean_md5"),
    )


def streaming_url_host_stats(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    watermark: str = "30 minutes",
    window_size: str = "1 hour",
) -> DataFrame:
    """Continuous-crawl URL curation (the q66 batch op as a stream): per
    event-time window and host, raw page count and DISTINCT canonical
    count, using the EXACT batch canonicalization expressions
    (functions/url.canonical_url_sql — shared strings, so stream and
    at-rest results cannot drift).

    Streaming COUNT(DISTINCT) is unsupported, so the two-phase expansion
    the batch plan gets from Catalyst is spelled explicitly as CHAINED
    windowed aggregations (Spark >= 3.5 multi-stateful append mode, the
    streaming_neardup_keep pattern):

      1. (window, host, canonical) counts — state is one row per
         canonical per window, bounded by the watermark horizon;
      2. re-aggregate the closed window's rows to (window, host):
         n_canonical = COUNT(*), n_pages = SUM.

    A hot host never concentrates raw rows in one state partition —
    exactly the batch plan's two-phase property, in streaming form.
    Batch parity is asserted in tests: over the same at-rest rows the
    emitted (host, n_pages, n_canonical) equal crawl.url_host_stats."""
    canon = canonical_url_sql(url_col)
    s = pages.select(
        F.expr(canon).alias("canonical"),
        F.expr(host_sql(canon)).alias("host"),
        F.col(ts_col),
    ).withWatermark(ts_col, watermark)
    l1 = s.groupBy(
        F.window(ts_col, window_size).alias("win"), "host", "canonical"
    ).agg(F.count(F.lit(1)).alias("_n"))
    return (
        l1.groupBy("win", "host")
        .agg(
            F.count(F.lit(1)).alias("n_canonical"),
            F.sum("_n").alias("n_pages"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "host",
            "n_pages",
            "n_canonical",
        )
    )
