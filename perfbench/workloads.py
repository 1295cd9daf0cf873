"""The benchmark's workloads: inputs, one timed pass, one traced pass, checks.

Each workload synthesizes its inputs once per run from the seed, writes
them as parquet under the run's work directory and reads them back, so no
operation ever sees a persisted or checkpointed input. Every engine call
goes through a public function of `geotiff_tiler_spark`.
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from geotiff_tiler_spark import session
from geotiff_tiler_spark.functions import geo
from geotiff_tiler_spark.operators import dedup, knn, similarity, spatial_join, stats, strtree, tiling
from geotiff_tiler_spark.operators.tiling import TilingParams
from geotiff_tiler_spark.plans import pipeline
from geotiff_tiler_spark.plans.manifest import Manifest
from geotiff_tiler_spark.plans.scale_job import synth_embeddings
from geotiff_tiler_spark.sources import checks, labels, pages

# Input sizes: "default" for measurement, "tiny" for the smoke test.
SIZES = {
    "tile_resume": {
        "default": {"pages": 3_000, "bad": 30, "image_res": 2},
        "tiny": {"pages": 2_000, "bad": 6, "image_res": 2},
    },
    "join_curation": {
        "default": {
            "points": 20_000, "boxes": 2_000, "polygons": 100, "res": 5, "knn_mod": 100,
            "docs": 3_000, "emb": 5_000, "query_mod": 10,
        },
        "tiny": {
            "points": 5_000, "boxes": 200, "polygons": 40, "res": 4, "knn_mod": 100,
            "docs": 1_000, "emb": 3_000, "query_mod": 50,
        },
    },
}

DUP_THRESHOLD = 0.8  # jaccard at or above which a candidate pair is a duplicate
KNN_K = 5
TOPK_K = 5
PIP_SAMPLE_CELLS = 8  # cells whose points the in-process STRtree probe replays

# Per-layer metrics printed with --trace 1, (name, unit). A workload that
# bypasses a layer reports 0 for it.
PER_LAYER = [
    *[
        (f"pipeline.create_tiles.{step}.{m}", u)
        for step in ("killed", "resume", "noop")
        for m, u in (("s", "s"), ("jobs", "count"), ("tasks", "count"), ("failed_tasks", "count"))
    ],
    ("checks.validate_pages.s", "s"),
    ("checks.quarantine_ratio", "ratio"),
    ("tiling.doc_points.s", "s"),
    ("stats.grid_cell_distributions.s", "s"),
    ("stats.select_validation_cells_distributed.s", "s"),
    ("stats.select_validation_cells_distributed.groups", "count"),
    ("tiling.kept_tiles.s", "s"),
    ("tiling.assign_split_by_cells.s", "s"),
    ("manifest.filter_pending.s", "s"),
    ("manifest.append.patches.s", "s"),
    ("manifest.append.images.s", "s"),
    ("manifest.append.shards.s", "s"),
    ("manifest.consistency_report.s", "s"),
    ("manifest.commit_dirs", "count"),
    ("pipeline.bytes_written_per_tile", "bytes"),
    ("spatial_join.point_in_box_join.s", "s"),
    ("spatial_join.point_in_box_join.candidates", "count"),
    ("spatial_join.point_in_box_join.refine_ratio", "ratio"),
    ("spatial_join.choose_res.s", "s"),
    ("spatial_join.choose_res.res", "count"),
    ("spatial_join.point_in_polygon_join.s", "s"),
    ("spatial_join.point_in_polygon_join.jobs", "count"),
    ("strtree.pip_probe_pandas.s", "s"),
    ("strtree.pip_probe_pandas.candidates_per_probe", "count"),
    ("strtree.pip_probe_pandas.hit_ratio", "ratio"),
    ("knn.knn_cell_ring.s", "s"),
    ("knn.knn_cell_ring.jobs", "count"),
    ("spatial_join.bounds_overlap_join.s", "s"),
    ("spatial_join.bounds_overlap_join.candidates", "count"),
    ("dedup.lsh_buckets_arrow.s", "s"),
    ("dedup.lsh_candidate_pairs.s", "s"),
    ("dedup.candidate_pairs", "count"),
    ("dedup.ngram_jaccard_pairs.s", "s"),
    ("dedup.true_pair_ratio", "ratio"),
    ("dedup.duplicate_clusters.s", "s"),
    ("dedup.duplicate_clusters.jobs", "count"),
    ("dedup.exact_dedup_groups.s", "s"),
    ("similarity.pq_train_codebooks.s", "s"),
    ("similarity.pq_topk.s", "s"),
    ("similarity.train_ivf_centroids.s", "s"),
    ("similarity.ivfpq_topk.s", "s"),
    ("session.get_spark.s", "s"),
    ("setup.write_inputs.s", "s"),
    ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"),
    ("process.peak_rss_mb", "MB"),
    ("trace.overhead_s", "s"),
]


class Ops:
    """Closed-loop operation runner: times each call, counts attempts and
    failures. An operation fails when it raises or when its output check
    returns a message; either way the run goes on."""

    def __init__(self, spark, log):
        self.spark = spark
        self.log = log
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, name: str, fn, check=None):
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            value = fn()
            dt = time.perf_counter() - t0
            problem = check(value) if check else None
        except Exception as exc:  # one failed operation must not end the run
            dt = time.perf_counter() - t0
            value, problem = None, f"{type(exc).__name__}: {exc}"
        finally:
            # drop the localCheckpoint residue dedup/kNN leave behind; safe
            # here because the operation's result is fully consumed
            session.clear_persistent_rdds(self.spark)
        if problem:
            self.failed += 1
            self.errors.append(f"{name}: {problem}"[:2000])
            self.log(f"FAILED {name}: {problem}"[:2000])
        return dt, value


def _expect(name: str, got, want, corrupt: set[str]):
    """Output-check helper: None when `got == want` (after the optional
    deliberate corruption used by the smoke test), else a message."""
    if name in corrupt:
        want = want + 1
    return None if got == want else f"{name}: got {got}, expected {want}"


def _first(*problems):
    return next((p for p in problems if p), None)


def _tree_stats(root: str) -> tuple[int, int]:
    """(bytes of all files, number of committed manifest directories)."""
    size = commits = 0
    for d, _, files in os.walk(root):
        for f in files:
            size += os.path.getsize(os.path.join(d, f))
        if "_COMMITTED" in files:
            commits += 1
    return size, commits


class Workload:
    name = ""

    def __init__(self, ctx, size: str):
        self.ctx = ctx
        self.spark = ctx.spark
        self.cfg = SIZES[self.name][size]
        self.inputs = os.path.join(ctx.work_dir, "inputs")
        self.expected: dict = {}
        self.first_values: dict = {}  # each pass must repeat the first pass

    def _mat(self, df, name: str):
        """Write a frame as parquet under the work dir and read it back."""
        path = os.path.join(self.ctx.work_dir, "mat", name)
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def _stable(self, name: str, value):
        want = self.first_values.setdefault(name, value)
        return None if value == want else f"{name}: {value} differs from first pass {want}"

    def _check(self, name: str, got):
        """Against the oracle / pinned value (when known) and the first pass."""
        problems = [self._stable(name, got)]
        if name in self.expected:
            problems.append(_expect(name, got, self.expected[name], self.ctx.corrupt))
        pinned = self.ctx.pinned.get(name)
        if pinned is not None:
            problems.append(None if got == pinned else f"{name}: got {got}, pinned {pinned}")
        return _first(*problems)


# ---------------------------------------------------------------------------
# tile_resume
# ---------------------------------------------------------------------------


class TileResume(Workload):
    """Tiling run killed at half the tiles, its resume, a no-op re-run,
    then the manifest's consistency report."""

    name = "tile_resume"

    def __init__(self, ctx, size):
        super().__init__(ctx, size)
        self.params = TilingParams(image_res=self.cfg["image_res"])

    def _pages(self, n: int, n_bad: int, offset: int):
        good = pages.synth_pages(self.spark, offset + n).filter(F.col("doc_id") >= offset)
        return good.unionByName(pages.synth_malformed_pages(self.spark, offset + n, n_bad))

    def write_inputs(self) -> None:
        offset = (self.ctx.seed % 1000) * self.cfg["pages"]
        self._pages(self.cfg["pages"], self.cfg["bad"], offset).write.mode("overwrite").parquet(
            os.path.join(self.inputs, "pages")
        )

    def load(self) -> None:
        path = os.path.join(self.inputs, "pages")
        self.docs = self.spark.read.parquet(path)
        self.expected["quarantine"] = self.cfg["bad"]
        # kept tiles by DuckDB: distinct (image, tile) anchors over the valid
        # pages, with the geocoder and pixel grid in their SQL form
        p = self.params
        lon, lat = geo.geo_lon_sql("text"), geo.geo_lat_sql("text")
        valid = (
            f"length(trim(text)) > 0 AND lang IN {tuple(checks.KNOWN_LANGS)}"
            f" AND epoch(warc_ts) >= epoch(TIMESTAMP '{checks.TS_MIN}')"
            f" AND epoch(warc_ts) < epoch(TIMESTAMP '{checks.TS_MAX}')"
        )
        s = p.eff_stride
        con = duckdb.connect()
        try:
            self.expected["tiles"] = con.execute(
                f"""SELECT count(*) FROM (SELECT DISTINCT {geo.cell_id_sql(lon, lat, p.image_res)},
                       {geo.pixel_x_sql(lon, p.image_res, p.width)} // {s},
                       {geo.pixel_y_sql(lat, p.image_res, p.height)} // {s}
                FROM read_parquet('{path}/*.parquet') WHERE {valid})"""
            ).fetchone()[0]
        finally:
            con.close()

    def _create(self, base: str, limit=None):
        return pipeline.create_tiles(
            self.spark, self.docs, self.params, f"{base}/out", f"{base}/mf",
            validate=True, limit_tiles=limit,
        )

    def run_pass(self, ops: Ops, k: int, traced: bool = False) -> dict:
        tr, jc = self.ctx.tracer, self.ctx.jobs
        base = os.path.join(self.ctx.work_dir, f"pass-{k}")
        res: dict = {}
        counts: dict[str, dict] = {}

        def step(name, fn, check):
            counts[name] = {}
            with tr.span(f"pipeline.create_tiles.{name}"), jc.group(counts[name]):
                dt, run = ops.run(name, fn, check)
            res[name] = (dt, run)
            return run

        # One manifest, three calls: a fresh run killed at half the tiles,
        # its resume, then a re-run on the completed manifest. (A separate
        # unlimited fresh run would add a fourth full call to every run.)
        want = self.expected["tiles"]
        half = max(1, want // 2)
        killed = step(
            "killed", lambda: self._create(base, limit=half),
            lambda r: _first(_expect("killed_kept", r.kept, half, set()), _expect("killed_skipped", r.skipped_resume, 0, set())),
        )
        k_kept = killed.kept if killed else 0
        resumed = step(
            "resume", lambda: self._create(base),
            lambda r: _first(
                self._check("tiles", k_kept + r.kept),
                _expect("resume_skipped", r.skipped_resume, k_kept, set()),
            ),
        )
        done = k_kept + (resumed.kept if resumed else 0)
        step(
            "noop", lambda: self._create(base),
            lambda r: _first(_expect("noop_kept", r.kept, 0, set()), _expect("noop_skipped", r.skipped_resume, done, set())),
        )

        def report():
            m = Manifest(self.spark, f"{base}/mf")
            return m.consistency_report(), m.failed_images().count()

        def check_report(out):
            issues, quarantined = out
            return _first(f"consistency_report: {issues}" if issues else None, self._check("quarantine", quarantined))

        counts["report"] = {}
        with tr.span("manifest.consistency_report"), self.ctx.jobs.group(counts["report"]):
            res["report"] = ops.run("consistency_report", report, check_report)

        written = sum(r[1].kept for n, r in res.items() if n != "report" and r[1] is not None)
        extra = {}
        if traced:
            size, commits = _tree_stats(base)
            layer = {
                "manifest.commit_dirs": commits,
                "pipeline.bytes_written_per_tile": size / max(written, 1),
            }
            for name in ("killed", "resume", "noop"):
                for m, v in counts[name].items():
                    layer[f"pipeline.create_tiles.{name}.{m}"] = v
            layer.update(ops.run("replay", lambda: self._replay(base))[1] or {})
            extra = {"layer": layer, "counts": counts}
        shutil.rmtree(base, ignore_errors=True)
        return {
            "ops": {n: r[0] for n, r in res.items()},
            "rows": written,
            "detail": {
                "tile_rows_per_s": written / (res["killed"][0] + res["resume"][0]),
                "resume_s": res["resume"][0],
                "noop_rerun_s": res["noop"][0],
            },
            **extra,
        }

    def _replay(self, base: str) -> dict:
        """Traced run only: the pipeline's stages one by one, each forced
        with a count and materialized so the next stage starts from files.
        Returns the per-layer counts and ratios it measured."""
        tr, p, sp = self.ctx.tracer, self.params, self.spark
        layer: dict = {}
        with tr.span("replay"):
            v = checks.validate_pages(self.docs)
            with tr.span("checks.validate_pages"):
                by_status = {r["status"]: r["count"] for r in v.groupBy("status").count().collect()}
            layer["checks.quarantine_ratio"] = by_status.get("invalid", 0) / max(sum(by_status.values()), 1)
            valid, _ = checks.split_quarantine(self._mat(v, "validated"))
            pts = tiling.doc_points(valid, p)
            with tr.span("tiling.doc_points"):
                pts.count()
            pts = self._mat(pts, "points")
            g = stats.grid_cell_distributions(pts, p)
            with tr.span("stats.grid_cell_distributions"):
                g.count()
            g = self._mat(g, "grid")
            with tr.span("stats.target_distribution"):
                target = stats.target_distribution(stats.class_distribution(pts))
            vc = stats.select_validation_cells_distributed(g, p, target, p.val_ratio, strategy="spatial", seed=42)
            with tr.span("stats.select_validation_cells_distributed"):
                vc.count()
            layer["stats.select_validation_cells_distributed.groups"] = g.select("image_id").distinct().count()
            vc = self._mat(vc, "val_cells")
            kt = tiling.kept_tiles(pts, p)
            with tr.span("tiling.kept_tiles"):
                kt.count()
            kt = self._mat(kt, "kept")
            split = tiling.assign_split_by_cells(kt, p, vc)
            with tr.span("tiling.assign_split_by_cells"):
                split.count()
            work = self._mat(
                split.select("image_id", "tile_x", "tile_y", "split", "point_cnt", "nonzero_px"), "work"
            )
            done = Manifest(sp, f"{base}/mf")
            with tr.span("manifest.filter_pending"):
                done.filter_pending(work).count()
            scratch = Manifest(sp, os.path.join(self.ctx.work_dir, "mat", "manifest"))
            status = work.groupBy("image_id").agg(F.count(F.lit(1)).alias("kept")).select(
                "image_id", F.lit("completed").alias("status"), "kept",
                F.lit(0).cast("bigint").alias("discarded"),
            )
            shards = done.read("shards").drop("commit_id")
            for table, df in (("patches", work), ("images", status), ("shards", shards)):
                with tr.span(f"manifest.append.{table}"):
                    scratch.append(table, df)
        session.clear_persistent_rdds(sp)
        return layer


# ---------------------------------------------------------------------------
# join_curation
# ---------------------------------------------------------------------------


class JoinCuration(Workload):
    """Read-only spatial joins, kNN, near-duplicate clustering and PQ search."""

    name = "join_curation"

    def write_inputs(self) -> None:
        c, seed = self.cfg, self.ctx.seed
        n_pts, n_docs, n_emb = c["points"], c["docs"], c["emb"]
        off = (seed % 1000) * c["points"]
        params = TilingParams(image_res=c["res"])
        src = pages.synth_pages(self.spark, off + n_pts, min_tokens=4, var_tokens=4).filter(
            F.col("doc_id") >= off
        )
        points = tiling.doc_points(src, params).select("doc_id", "lon", "lat", "image_id")
        boxes = labels.label_boxes(
            self.spark.range(c["boxes"]).select(F.col("id").alias("s_suppkey"))
        )
        polys = labels.label_polygons(self.spark, n=c["polygons"], seed=seed % 100_000)
        doff = (seed % 1000) * c["docs"]
        docs = pages.synth_pages(self.spark, doff + n_docs).filter(F.col("doc_id") >= doff)
        eoff = (seed % 1000) * c["emb"]
        emb = synth_embeddings(self.spark, eoff + n_emb).filter(F.col("vec_id") >= eoff)
        for name, df in (("points", points), ("boxes", boxes), ("polygons", polys), ("docs", docs), ("emb", emb)):
            df.write.mode("overwrite").parquet(os.path.join(self.inputs, name))

    def load(self) -> None:
        self.main = {
            n: self.spark.read.parquet(os.path.join(self.inputs, n))
            for n in ("points", "boxes", "polygons", "docs", "emb")
        }
        self._oracles()

    def _queries(self, pts):
        c = self.cfg
        q = pts.filter(F.col("doc_id") % c["knn_mod"] == self.ctx.seed % c["knn_mod"]).select(
            F.col("doc_id").alias("query_id"), F.col("lon").alias("q_lon"), F.col("lat").alias("q_lat")
        )
        p = pts.select(F.col("doc_id").alias("neighbor_id"), F.col("lon").alias("n_lon"), F.col("lat").alias("n_lat"))
        return q, p

    def _oracles(self) -> None:
        """Expected outputs from implementations independent of the engine:
        DuckDB over the same parquet files, and numpy in this process."""
        c, d = self.cfg, self.inputs
        con = duckdb.connect()
        try:
            con.execute(f"SET threads={self.ctx.nproc}")
            con.execute("SET enable_progress_bar=false")
            con.execute(f"CREATE TEMP TABLE supplier AS SELECT id AS s_suppkey FROM range({c['boxes']}) t(id)")
            con.execute(f"CREATE TEMP TABLE boxes AS {labels.label_boxes_sql()}")
            pts = f"read_parquet('{d}/points/*.parquet')"
            boxes = "boxes"
            # each box repeated per whole degree of longitude it spans, so a
            # point meets a box in exactly one row of the equi-join
            self.expected["pib"] = con.execute(
                f"""WITH bx AS (SELECT *, unnest(range(floor(xmin)::BIGINT, floor(xmax)::BIGINT + 1)) AS gx
                                FROM {boxes})
                SELECT count(*) FROM {pts} p JOIN bx ON floor(p.lon)::BIGINT = bx.gx
                AND p.lon >= bx.xmin AND p.lon < bx.xmax AND p.lat >= bx.ymin AND p.lat < bx.ymax"""
            ).fetchone()[0]
            n, res = 1 << c["res"], c["res"]
            cw, ch = 360.0 / n, 180.0 / n
            ix = f"((image_id % {1 << 54}) // {1 << 27})"
            iy = f"(image_id % {1 << 27})"
            self.expected["overlap"] = con.execute(
                f"""WITH i AS (SELECT DISTINCT image_id FROM {pts}),
                ib AS (SELECT image_id, {ix}::DOUBLE * {cw} - 180.0 AS ax0, {iy}::DOUBLE * {ch} - 90.0 AS ay0,
                       ({ix}::DOUBLE + 1) * {cw} - 180.0 AS ax1, ({iy}::DOUBLE + 1) * {ch} - 90.0 AS ay1 FROM i),
                pr AS (SELECT greatest(least(ax1, xmax) - greatest(ax0, xmin), 0.0)
                            * greatest(least(ay1, ymax) - greatest(ay0, ymin), 0.0) AS inter,
                            (ax1 - ax0) * (ay1 - ay0) + (xmax - xmin) * (ymax - ymin) AS s
                       FROM ib, {boxes} b)
                SELECT count(*) FROM pr WHERE round(inter / (s - inter) * 100.0, 6) > 0"""
            ).fetchone()[0]
            self.expected["exact"] = con.execute(
                f"SELECT count(DISTINCT md5(text)) FROM read_parquet('{d}/docs/*.parquet')"
            ).fetchone()[0]
            n_q = con.execute(
                f"SELECT count(*) FROM read_parquet('{d}/emb/*.parquet') WHERE vec_id % {c['query_mod']} = 0"
            ).fetchone()[0]
            self.expected["pq"] = self.expected["ivfpq"] = n_q * TOPK_K
        finally:
            con.close()
        # numpy: point-in-polygon by brute force over every polygon, and
        # exact kNN for the query set
        pts_t = pq.read_table(os.path.join(d, "points"), columns=["doc_id", "lon", "lat"])
        ids = pts_t.column("doc_id").to_numpy()
        xs = pts_t.column("lon").to_numpy()
        ys = pts_t.column("lat").to_numpy()
        poly_t = pq.read_table(os.path.join(d, "polygons")).to_pandas()
        hits = 0
        for row in poly_t.itertuples():
            m = (xs >= row.xmin) & (xs <= row.xmax) & (ys >= row.ymin) & (ys <= row.ymax)
            if m.any():
                hits += int(strtree.points_in_wkb(xs[m], ys[m], bytes(row.wkb)).sum())
        self.expected["pip"] = hits
        qm = ids % c["knn_mod"] == self.ctx.seed % c["knn_mod"]
        rows = set()
        for qi in np.nonzero(qm)[0]:
            d2 = (xs - xs[qi]) ** 2 + (ys - ys[qi]) ** 2
            d2[qi] = np.inf
            near = np.argpartition(d2, 4 * KNN_K)[: 4 * KNN_K]
            near = near[d2[near] <= np.partition(d2[near], KNN_K - 1)[KNN_K - 1]]
            order = near[np.lexsort((ids[near], d2[near]))][:KNN_K]
            rows.update((int(ids[qi]), r + 1, int(ids[j])) for r, j in enumerate(order))
        self.expected["knn_rows"] = rows

    def run_pass(self, ops: Ops, k: int, traced: bool = False) -> dict:
        c, tr, jc = self.cfg, self.ctx.tracer, self.ctx.jobs
        pts, boxes, polys, docs, emb = (self.main[n] for n in ("points", "boxes", "polygons", "docs", "emb"))
        qm = c["query_mod"]
        times: dict[str, float] = {}
        rows: dict[str, int] = {}
        counts: dict[str, dict] = {}

        def op(name, span, fn, check_fn=None):
            counts[name] = {}
            with tr.span(span), jc.group(counts[name]):
                dt, v = ops.run(name, fn, check_fn or (lambda got: self._check(name, got)))
            times[name] = dt
            rows[name] = v if isinstance(v, int) else (len(v) if v is not None else 0)

        op("pib", "spatial_join.point_in_box_join",
           lambda: spatial_join.point_in_box_join(pts, boxes, c["res"]).count())
        op("pip", "spatial_join.point_in_polygon_join",
           lambda: spatial_join.point_in_polygon_join(pts.select("doc_id", "lon", "lat"), polys).count())
        q, p = self._queries(pts)

        def knn_check(got_rows):
            got = {(r["query_id"], r["rank"], r["neighbor_id"]) for r in got_rows}
            want = self.expected["knn_rows"]
            if "knn" in self.ctx.corrupt:
                want = want | {(-1, 1, -1)}
            return None if got == want else f"knn: {len(got ^ want)} rows differ from brute force"

        op("knn", "knn.knn_cell_ring",
           lambda: knn.knn_cell_ring(q, p, k=KNN_K).select("query_id", "rank", "neighbor_id").collect(),
           knn_check)
        op("overlap", "spatial_join.bounds_overlap_join",
           lambda: spatial_join.bounds_overlap_join(pts.select("image_id").distinct(), boxes, c["res"]).count())

        def clusters():
            cand = dedup.lsh_candidate_pairs(dedup.lsh_buckets_arrow(docs))
            jp = dedup.ngram_jaccard_pairs(docs, cand)
            dup = jp.filter(F.col("jaccard") >= DUP_THRESHOLD).select("doc_a", "doc_b")
            return dedup.duplicate_clusters(dup).count()

        op("clusters", "curation.clusters", clusters)
        op("exact", "dedup.exact_dedup_groups", lambda: dedup.exact_dedup_groups(docs).count())
        op("pq", "curation.pq", lambda: similarity.pq_topk(emb, k=TOPK_K, query_mod=qm).count())
        op("ivfpq", "curation.ivfpq",
           lambda: similarity.ivfpq_topk(emb, k=TOPK_K, query_mod=qm, n_clusters=None, nprobe=2).count())
        t, r = times, rows
        clusters_s = t["clusters"] + t["exact"]
        result = {
            "ops": t,
            "rows": sum(r.values()),
            "detail": {
                "pib_rows_per_s": r["pib"] / t["pib"],
                "pip_rows_per_s": r["pip"] / t["pip"],
                "knn_queries_per_s": len(self.expected["knn_rows"]) / KNN_K / t["knn"],
                "overlap_rows_per_s": r["overlap"] / t["overlap"],
                "dedup_docs_per_s": self.cfg["docs"] / clusters_s,
                "pq_queries_per_s": r["pq"] / TOPK_K / t["pq"],
                "ivfpq_queries_per_s": r["ivfpq"] / TOPK_K / t["ivfpq"],
            },
        }
        if traced:
            result["counts"] = counts
            result["layer"] = {
                "spatial_join.point_in_polygon_join.jobs": counts["pip"]["jobs"],
                "knn.knn_cell_ring.jobs": counts["knn"]["jobs"],
                **(ops.run("replay", self._replay)[1] or {}),
            }
        return result

    def _replay(self) -> dict:
        """Traced run only: per-layer calls, each forced with a count and
        materialized so the next stage starts from files. Returns the
        per-layer counts and ratios it measured."""
        tr, c, sp = self.ctx.tracer, self.cfg, self.spark
        pts, boxes, polys, docs, emb = (self.main[n] for n in ("points", "boxes", "polygons", "docs", "emb"))
        layer: dict = {}
        with tr.span("replay"):
            res = c["res"]
            with tr.span("spatial_join.boxes_to_cells"):
                cand = pts.withColumn("cell", geo.cell_id("lon", "lat", res)).join(
                    spatial_join.boxes_to_cells(boxes, res), "cell"
                ).count()
            layer["spatial_join.point_in_box_join.candidates"] = cand
            layer["spatial_join.point_in_box_join.refine_ratio"] = self.expected["pib"] / max(cand, 1)
            with tr.span("spatial_join.choose_res"):
                pip_res = spatial_join.choose_res(pts)
            layer["spatial_join.choose_res.res"] = pip_res
            # driver-side STRtree kernel over a fixed sample of cells
            pc = pts.withColumn("cell", geo.cell_id("lon", "lat", pip_res))
            lc = spatial_join.boxes_to_cells(polys, pip_res)
            cells = [r["cell"] for r in lc.select("cell").distinct().orderBy("cell").limit(PIP_SAMPLE_CELLS).collect()]
            cp = pc.filter(F.col("cell").isin(cells)).toPandas()
            cl = lc.filter(F.col("cell").isin(cells)).toPandas()
            st: dict = {}
            hits = probed = 0
            with tr.span("strtree.pip_probe_pandas"):
                for cell in cells:
                    a, b = cp[cp["cell"] == cell], cl[cl["cell"] == cell]
                    hits += len(spatial_join.pip_probe_pandas(a, b, stats=st))
                    probed += len(a) if len(b) else 0
            layer["strtree.pip_probe_pandas.candidates_per_probe"] = st.get("candidates", 0) / max(st.get("probes", 0), 1)
            layer["strtree.pip_probe_pandas.hit_ratio"] = hits / max(probed, 1)
            icells = spatial_join.boxes_to_cells(spatial_join.image_boxes(pts.select("image_id").distinct(), res), res, "img_")
            with tr.span("spatial_join.bounds_overlap_join.candidates"):
                layer["spatial_join.bounds_overlap_join.candidates"] = (
                    icells.join(spatial_join.boxes_to_cells(boxes, res), "cell")
                    .select("image_id", "feature_id").distinct().count()
                )
            b = dedup.lsh_buckets_arrow(docs)
            with tr.span("dedup.lsh_buckets_arrow"):
                b.count()
            b = self._mat(b, "buckets")
            pairs = dedup.lsh_candidate_pairs(b)
            with tr.span("dedup.lsh_candidate_pairs"):
                n_cand = pairs.count()
            layer["dedup.candidate_pairs"] = n_cand
            pairs = self._mat(pairs, "pairs")
            jp = dedup.ngram_jaccard_pairs(docs, pairs)
            with tr.span("dedup.ngram_jaccard_pairs"):
                jp.count()
            # write before dropping the checkpoints the pairs plan reads
            jp = self._mat(jp, "jaccard")
            session.clear_persistent_rdds(sp)
            dup = jp.filter(F.col("jaccard") >= DUP_THRESHOLD).select("doc_a", "doc_b")
            n_dup = dup.count()
            layer["dedup.true_pair_ratio"] = n_dup / max(n_cand, 1)
            cl_counts: dict = {}
            with tr.span("dedup.duplicate_clusters"), self.ctx.jobs.group(cl_counts):
                dedup.duplicate_clusters(dup).count()
            session.clear_persistent_rdds(sp)
            layer["dedup.duplicate_clusters.jobs"] = cl_counts["jobs"]
            qm = c["query_mod"]
            with tr.span("similarity.pq_train_codebooks"):
                books = similarity.pq_train_codebooks(emb)
            with tr.span("similarity.pq_topk"):
                similarity.pq_topk(emb, k=TOPK_K, query_mod=qm, books=books).count()
            nlist = similarity.adaptive_ivf_clusters(c["emb"])
            with tr.span("similarity.train_ivf_centroids"):
                cent = similarity.train_ivf_centroids(emb, n_clusters=nlist)
            with tr.span("similarity.ivfpq_topk"):
                similarity.ivfpq_topk(
                    emb, k=TOPK_K, query_mod=qm, n_clusters=nlist, nprobe=2, centroids=cent, books=books
                ).count()
        session.clear_persistent_rdds(sp)
        return layer


WORKLOADS = {w.name: w for w in (TileResume, JoinCuration)}
