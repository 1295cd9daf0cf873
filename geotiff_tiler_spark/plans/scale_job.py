"""Synthetic scale workloads: the engine's load-bearing operators end to
end over generated inputs at millions of rows.

The correctness suite at sf0.1 is dominated by fixed per-stage overheads
(hundreds of ms per stage on sub-MB inputs), so scale behaviour needs
inputs synthesized in the JVM (sources/pages.synth_pages — pure codegen,
no I/O). run_scale_workload (the spark-submit job, tools/submit_job.py)
runs:

  1. extract_text from html (the per-url invariant path)
  2. geocode + cell/pixel encode + stride-grid tiling + F1 filter + split
  3. point-in-box spatial join against a synthesized label layer
  4. MinHash + LSH candidate pairs on a 1/8 subset
  5. exact dedup groups

Throughput metric = (tiles + join output rows) / sec — the BASELINE.json
metric shape. All stages are shuffle-light: the tiling aggregate and the
dedup aggregates are partial+final hash aggs; the spatial join is a cell
equi-join; minhash is explode + hash agg. synth_embeddings and synth_crawl
generate the similarity and URL-tier inputs; run_urlgraph_stage times the
URL/graph curation tier.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from geotiff_tiler_spark.operators import dedup, spatial_join, tiling
from geotiff_tiler_spark.operators.tiling import TilingParams
from geotiff_tiler_spark.sources import labels, pages

SCALE_PARAMS = TilingParams(
    image_res=6,  # 4096 x 4096 potential cells -> thousands of images
    width=448,
    height=448,
    patch_w=112,
    patch_h=112,
    stride=None,
    discard_empty=True,
    label_threshold=None,
    grid_size=4,
    val_ratio=0.2,
)


def run_scale_workload(
    spark: SparkSession,
    n_pages: int,
    n_boxes: int = 20000,
    n_malformed: int | None = None,
) -> dict:
    t_gen0 = time.time()
    if n_malformed is None:
        n_malformed = max(n_pages // 1000, 3)
    pg = pages.synth_pages(spark, n_pages).unionByName(
        pages.synth_malformed_pages(spark, n_pages, n_malformed)
    )
    # S7 validation under load: malformed rows (appended AFTER the valid id
    # range, so the valid rows — and the parity keys — are untouched) are
    # quarantined as data before any downstream stage sees them
    from geotiff_tiler_spark.sources import checks

    validated = checks.validate_pages(
        pg.withColumn("text", pages.extract_text("html"))
    )
    valid, quarantine = checks.split_quarantine(validated)
    n_quarantined = quarantine.count()
    assert n_quarantined == n_malformed, (n_quarantined, n_malformed)
    docs = valid.select("doc_id", "text", "lang").persist()
    docs.count()  # materialize: stands in for the one storage scan of the
    # input table (downstream subtrees would otherwise re-run the generator)
    t0 = time.time()
    sec_gen = round(t0 - t_gen0, 2)

    # tiling pipeline (geocode runs md5 over extracted text — data-bound)
    pts = tiling.doc_points(docs, SCALE_PARAMS)
    tiles = tiling.kept_tiles(pts, SCALE_PARAMS)
    split = tiling.assign_split(tiles, SCALE_PARAMS, validation_cells=None)
    n_tiles = split.count()
    t_tiles = time.time()

    # spatial join: synthesized label boxes over a range table
    sup = spark.range(n_boxes).withColumnRenamed("id", "s_suppkey")
    boxes = labels.label_boxes(sup)
    hits = spatial_join.point_in_box_join(
        pts.select("doc_id", "lon", "lat"), boxes, SCALE_PARAMS.image_res
    )
    n_hits = hits.count()
    t_join = time.time()

    # dedup ladder on a contiguous subset (keeps the synthetic (id, id-1)
    # duplicate pairs intact; a modulo sample would separate them)
    sub = docs.filter(F.col("doc_id") < n_pages // 8)
    sigs = dedup.minhash_signature(sub)
    pairs = dedup.lsh_candidate_pairs(dedup.lsh_buckets(sigs))
    n_pairs = pairs.count()
    t_lsh = time.time()
    n_groups = dedup.exact_dedup_groups(docs).count()
    t_dedup = time.time()

    docs.unpersist()
    total = t_dedup - t0
    out_rows = n_tiles + n_hits + n_pairs
    return {
        "sec_gen": sec_gen,
        "n_pages": n_pages,
        "quarantined": n_quarantined,
        "tiles": n_tiles,
        "join_rows": n_hits,
        "lsh_pairs": n_pairs,
        "dedup_groups": n_groups,
        "sec_tiling": round(t_tiles - t0, 2),
        "sec_join": round(t_join - t_tiles, 2),
        "sec_dedup": round(t_dedup - t_join, 2),
        "sec_dedup_lsh": round(t_lsh - t_join, 2),
        "sec_dedup_exact": round(t_dedup - t_lsh, 2),
        "sec_total": round(total, 2),
        "tiles_join_rows_per_sec": round(out_rows / total, 1),
    }


def synth_embeddings(spark: SparkSession, n: int, dim: int | None = None):
    """n deterministic embedding rows (vec_id, embedding: array<double> in
    [-1, 1)) — pure JVM codegen, no I/O; the embedding analog of
    synth_pages for ≥1 M-row similarity stages."""
    from geotiff_tiler_spark.operators.similarity import EMB_DIM

    dim = dim or EMB_DIM
    df = spark.range(n).withColumnRenamed("id", "vec_id")
    emb = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda j: (
            F.pmod(F.xxhash64(F.col("vec_id"), j, F.lit("emb")), F.lit(1 << 20))
        ).cast("double")
        / F.lit(float(1 << 19))
        - F.lit(1.0),
    )
    return df.select("vec_id", emb.alias("embedding"))


def synth_crawl(spark: SparkSession, n_pages: int):
    """n_pages deterministic crawl rows in the documents-table shape the
    URL tier consumes (doc_id, text, lang, source, n_chars) — pure JVM
    codegen from range(), no I/O; text is a short per-row hash string so
    md5-digest work in revisit_churn is data-bound but not text-volume-
    bound (the URL tier's cost is per-ROW, not per-byte)."""
    return spark.range(n_pages).selectExpr(
        "id AS doc_id",
        "CAST(xxhash64(id, 7) AS STRING) AS text",
        "'en' AS lang",
        "'web' AS source",
    ).withColumn("n_chars", F.length("text").cast("long"))


def run_urlgraph_stage(
    spark: SparkSession, n_pages: int = 8_000_000, warm: bool = True
) -> dict:
    """Measured throughput for the URL/graph curation tier (q66-q70) at
    the scale-workload page count. Four phases, each a full corpus pass
    over pure-codegen input (so the numbers are the operators' own):

      url      canonicalization + per-host dup stats (q66 shape)
      snap     latest-snapshot struct-max collapse (q67)
      graph    host-edge collapse + 4-iteration integer PageRank (q69)
      churn    top-2 collect_list revisit/churn rollup (q70)

    Two more phases (q71 page cap, q72 reciprocity) are timed
    SEPARATELY and excluded from `sec`/`pages_per_sec`, so samples
    recorded before they existed stay pool-comparable with new ones
    (same rule that keeps the N-vs-4N pool honest).

    Kept separate from run_scale_workload so that workload's timed path
    and outputs stay comparable with its recorded samples."""
    from geotiff_tiler_spark.functions import url as U
    from geotiff_tiler_spark.operators import crawl, graph

    if warm:
        # one-time session costs (JIT of the wide canonicalization
        # codegen, Python worker spawn, heap first-touch) on a 5% slice,
        # untimed: 8M cold 43.6 s vs warm 9.6 s on identical plans
        run_urlgraph_stage(spark, max(n_pages // 20, 6000), warm=False)
    docs = synth_crawl(spark, n_pages)
    t0 = time.time()
    n_hosts = crawl.url_host_stats(docs).count()
    t_url = time.time()
    kept = crawl.latest_snapshot(docs)
    n_kept = kept.count()
    t_snap = time.time()
    edges = crawl.distinct_host_edges(
        crawl.latest_snapshot(docs).select("kept_doc")
    )
    universe = (
        edges.selectExpr("src AS h").union(edges.selectExpr("dst AS h"))
        .distinct()
    )
    pr = graph.pagerank_nano(edges, universe, U.N_URL_HOSTS, 4)
    pr_mass = pr.agg(F.sum("pr")).collect()[0][0]
    t_graph = time.time()
    n_churn = crawl.revisit_churn(docs).count()
    t_churn = time.time()
    total = t_churn - t0
    # post-total phases (see docstring): q71 cap + q72 reciprocity
    cap = crawl.host_page_cap(kept, 2).agg(F.sum("n_kept")).collect()[0][0]
    t_cap = time.time()
    recip = (
        crawl.host_reciprocity(crawl.latest_snapshot(docs).select("kept_doc"))
        .agg(F.sum("n_recip")).collect()[0][0]
    )
    t_recip = time.time()
    return {
        "n_pages": n_pages,
        "hosts": n_hosts,
        "kept_pages": n_kept,
        "pr_mass_nano": pr_mass,
        "churn_hosts": n_churn,
        "sec_url": round(t_url - t0, 2),
        "sec_snapshot": round(t_snap - t_url, 2),
        "sec_graph_pr": round(t_graph - t_snap, 2),
        "sec_churn": round(t_churn - t_graph, 2),
        "sec_cap": round(t_cap - t_churn, 2),
        "sec_recip": round(t_recip - t_cap, 2),
        "cap_kept": cap,
        "recip_total": recip,
        "sec": round(total, 2),
        # every phase is one full corpus pass (graph's collapse included)
        "pages_per_sec": round(4 * n_pages / total, 1) if total > 0 else None,
        "warm": warm,
    }
