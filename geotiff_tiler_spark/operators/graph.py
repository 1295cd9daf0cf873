"""Host-graph iterative operators (web-graph tier).

Multi-iteration PageRank in EXACT nano units: scores are BIGINTs and
every per-step division is the portable exact integer division
(functions/url.intdiv_sql), so after ANY number of iterations both
engines hold bit-identical values — no float accumulates, no rounding
boundary exists (the q47 nano-unit technique applied to an iterative
algorithm). The damping step is pr' = intdiv(15*NANO, 100*N) +
intdiv(85 * sum_in(intdiv(pr, out_deg)), 100); composition of floors
makes iteration 1 provably equal to q68's closed-form pr1_nano
(floor(floor(a/b)/c) == floor(a/(b*c))), which the tests assert.

Scale shape: each iteration is ONE graph-sized equi-join (edges x pr,
keyed on src — the edge table's own partitioning, so AQE reuses it) +
one map-side-combined agg by dst + one bounded left join against the
host universe. State after each round is a host-sized frame; rounds
are lazily localCheckpointed so lineage does NOT grow with iteration
count (the lazy variant the dedup fan-out rule established). The edges+out_deg frame and the
universe frame are each consumed every round, so both are
materialized once up front.

Dangling semantics: hosts with in-links but no out-links keep
receiving mass but redistribute none (their mass leaks by spec); the
unrolled oracle implements the identical spec, so the choice is
cross-checked, not hidden. Reference parity: the reference has no
graph tier — this is part of the web-curation extension
(SURVEY.md LLM-pipeline operators), built on the q66/q67 URL layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.url import intdiv_sql

NANO = 1_000_000_000
DAMP_NUM = 85
DAMP_DEN = 100


def _base_sql(n_hosts: int) -> str:
    return intdiv_sql(str((DAMP_DEN - DAMP_NUM) * NANO), str(DAMP_DEN * n_hosts))


def pagerank_nano(
    edges: DataFrame, universe: DataFrame, n_hosts: int, n_iter: int
) -> DataFrame:
    """edges: DISTINCT (src, dst) long rows; universe: (h) long rows —
    every host that should carry a score. Returns (h, pr) after
    `n_iter` damped iterations from the uniform start, in nano units.
    `n_hosts` is the N of the 1/N terms (a spec constant, not derived
    from the data, so both engines share it by construction)."""
    universe = universe.select("h").localCheckpoint(eager=False)
    # edges fans out to out_deg AND the e_od join below — materialize the
    # graph-sized frame once so the corpus-sized upstream runs one pass
    edges = edges.localCheckpoint(eager=False)
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    e_od = (
        edges.join(out_deg, "src")
        .select("src", "dst", "out_deg")
        .localCheckpoint(eager=False)  # consumed every round
    )
    pr = universe.select(
        "h", F.expr(intdiv_sql(str(NANO), str(n_hosts))).alias("pr")
    )
    base = _base_sql(n_hosts)
    for _ in range(n_iter):
        s = (
            e_od.join(pr, F.col("src") == F.col("h"))
            .select(
                F.col("dst"), F.expr(intdiv_sql("pr", "out_deg")).alias("c")
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("csum"))
        )
        pr = (
            universe.join(s, F.col("h") == F.col("dst"), "left")
            .select(
                "h",
                (
                    F.expr(base)
                    + F.expr(
                        intdiv_sql(
                            f"{DAMP_NUM} * COALESCE(csum, 0)", str(DAMP_DEN)
                        )
                    )
                ).alias("pr"),
            )
            .localCheckpoint(eager=False)  # bound lineage per round
        )
    return pr


def pagerank_unroll_sql(
    n_hosts: int,
    n_iter: int,
    edges_cte: str = "he",
    universe_cte: str = "hosts",
) -> str:
    """The oracle side: `n_iter` FULLY UNROLLED CTE layers (pr0..prN)
    over pre-existing CTEs `edges_cte` (src, dst distinct) and
    `universe_cte` (h). An independent relational formulation of the
    same spec — only the intdiv strings are shared. Returns the CTE
    text to splice after the derivation CTEs; the caller selects from
    pr{n_iter}."""
    base = _base_sql(n_hosts)
    parts = [
        f"pr0 AS (SELECT h, {intdiv_sql(str(NANO), str(n_hosts))} AS pr"
        f" FROM {universe_cte})"
    ]
    for t in range(n_iter):
        parts.append(
            f"pr{t + 1} AS (\n"
            f"  SELECT u.h,\n"
            f"         {base} + {intdiv_sql(f'{DAMP_NUM} * COALESCE(s.csum, 0)', str(DAMP_DEN))} AS pr\n"
            f"  FROM {universe_cte} u LEFT JOIN (\n"
            f"    SELECT e.dst AS h2,\n"
            f"           CAST(SUM({intdiv_sql('p.pr', 'od.out_deg')}) AS BIGINT) AS csum\n"
            f"    FROM {edges_cte} e\n"
            f"    JOIN pr{t} p ON p.h = e.src\n"
            f"    JOIN (SELECT src, COUNT(*) AS out_deg FROM {edges_cte}"
            f" GROUP BY src) od ON od.src = e.src\n"
            f"    GROUP BY e.dst) s ON s.h2 = u.h)"
        )
    return ",\n".join(parts)
