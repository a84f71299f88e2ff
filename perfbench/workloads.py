"""The benchmark's workloads: the inputs each one generates from a seed,
the operations it issues in order, and the checks that validate each
operation's output against DuckDB outside the timed window.

An operation's ``run`` is what the timed window covers: building the
plan through the layer's public functions and materialising the full
output (``noop`` sink, so Catalyst cannot prune output columns the way
``count()`` lets it). ``check`` re-reads that output and returns a list
of mismatch descriptions (empty means correct).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass, field

# Counters an operation reports in the traced run; the names are the last
# component of its per-layer metric names.
GRAPH = ("wall_s", "jobs", "cpu_s", "shuffle_write_mb")
WRITES = ("wall_s", "cpu_s", "shuffle_write_mb", "output_mb")
SHORT = ("wall_s", "jobs", "cpu_s")
UNIT = {"wall_s": "s", "cpu_s": "s", "jobs": "count",
        "shuffle_write_mb": "MB", "output_mb": "MB"}


@dataclass
class Ctx:
    """What an operation needs: the session, its input directory and a
    directory for anything it writes (a fresh one per pass)."""

    spark: object
    data: str
    out: str
    expected: dict = field(default_factory=dict)


@dataclass(frozen=True)
class Op:
    """One operation of a workload.

    ``run(ctx)`` returns ``(handle, plan_s)``: the handle is passed to
    ``check``; ``plan_s`` is the part of the latency spent before the
    output was materialised (None where the layer has no such split).
    ``rollup`` names the metric prefix when the op's counters are summed
    with the other ops of its module instead of reported on their own.
    """

    name: str
    layer: str
    run: Callable
    check: Callable
    counters: tuple[str, ...]
    rollup: str | None = None

    @property
    def prefix(self) -> str:
        return self.rollup or f"{self.layer}.{self.name}"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# registry_mix: queries issued through plans.registry.run_query over the
# gen_sf tables.
# ---------------------------------------------------------------------------

def registry_op(name: str, counters: tuple[str, ...], rollup: bool = False) -> Op:
    from data_engineering_course_project_2023_spark.plans import registry

    q = registry.REGISTRY[name]
    if q.oracle is None:
        raise ValueError(f"{name} has no DuckDB oracle to check against")
    layer = q.builder.__module__.rsplit(".", 1)[1]

    def run(ctx: Ctx):
        t0 = time.perf_counter()
        df = registry.run_query(name, ctx.spark, ctx.data)
        plan_s = time.perf_counter() - t0
        _noop(df)
        return df, plan_s

    def check(ctx: Ctx, df) -> list[str]:
        from tests.parity import compare

        return compare(df, q.oracle, ctx.data)

    return Op(name, layer, run, check, counters, layer if rollup else None)


# ---------------------------------------------------------------------------
# arxiv_weekly: the six gold stages through orchestrate.run_stages into an
# empty root, then the arxiv_analytics queries over the materialised chain.
# Expected values come from tools/arxiv_census's DuckDB twins.
# ---------------------------------------------------------------------------

_STAGE_LAYER = {
    "silver": "arxiv_clean", "enriched": "arxiv_enrich",
    "star_fact": "arxiv_star", "dim_authors": "arxiv_star",
    "authored_by": "arxiv_graph", "collab": "arxiv_graph",
}
STAGE_LAYERS = frozenset(_STAGE_LAYER.values())


# Which census invariants pin each stage's output, as Spark-side reducers
# over the stage's parquet.
def _stage_invariants(name: str, df) -> dict[str, int]:
    from pyspark.sql import functions as F

    if name == "silver":
        r = df.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum((~F.col("update_date").rlike(r"^\d{4}-")).cast("long")).alias("bad"),
            F.sum(F.size(F.split("categories", " "))).alias("toks"),
        ).first()
        return {"silver_rows": r["rows"], "malformed_dates_kept": r["bad"],
                "category_token_sum": r["toks"]}
    if name in ("enriched", "star_fact"):
        return {"enriched_rows": df.count()}
    if name == "dim_authors":
        return {"dim_authors_rows": df.count()}
    if name == "authored_by":
        return {"authored_by_edges": df.count()}
    r = df.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("collab_count").alias("s"),
        F.max("collab_count").alias("mx"),
        F.sum((F.col("collab_count") >= 2).cast("long")).alias("heavy"),
    ).first()
    return {"collab_pairs": r["cnt"], "collab_weight_sum": r["s"],
            "collab_weight_max": r["mx"], "collab_heavy_pairs": r["heavy"]}


def _mismatches(got: dict, expected: dict) -> list[str]:
    return [
        f"{k}: spark={v} duckdb={expected.get(k)}"
        for k, v in got.items()
        if v is None or expected.get(k) is None or int(v) != int(expected[k])
    ]


def stage_op(stage) -> Op:
    from data_engineering_course_project_2023_spark.plans import orchestrate
    from tools.arxiv_census import TABLES

    def run(ctx: Ctx):
        spark = ctx.spark
        inputs = {
            i: spark.read.parquet(
                os.path.join(ctx.data, f"{i}.parquet") if i in TABLES
                else os.path.join(ctx.out, i)
            )
            for i in stage.inputs
        }
        report = orchestrate.run_stages(spark, [stage], ctx.out, inputs)
        status = report[stage.name]["status"]
        if status != "done-built":
            raise RuntimeError(f"stage {stage.name} was {status}, not built")
        return report[stage.name]["path"], None

    def check(ctx: Ctx, path: str) -> list[str]:
        got = _stage_invariants(stage.name, ctx.spark.read.parquet(path))
        return _mismatches(got, ctx.expected)

    return Op(stage.name, _STAGE_LAYER[stage.name], run, check, WRITES)


def _most_cited_invariants(df) -> dict:
    from pyspark.sql import functions as F

    r = df.agg(
        F.sum("citation_count").alias("s"),
        F.sum(F.regexp_replace("arxiv", r"\.", "").cast("long")).alias("d"),
    ).first()
    return {"ana_most_cited_sum": r["s"], "ana_most_cited_digest": r["d"]}


def _pagerank_invariants(df) -> dict:
    from pyspark.sql import functions as F

    df = df.localCheckpoint()  # two reductions, one execution of the rounds
    r = df.agg(F.sum("pr_units").alias("t"), F.max("pr_units").alias("mx")).first()
    d = (
        df.orderBy(F.col("pr_units").desc(), F.col("paper_id").asc())
        .limit(20)
        .agg(F.sum(F.expr("CAST(substring(paper_id, 3) AS BIGINT)")).alias("d"))
        .first()["d"]
    )
    return {"ana_pr_total_units": r["t"], "ana_pr_max_units": r["mx"],
            "ana_pr_top20_digest": d}


def analytics_op(name: str, counters: tuple[str, ...]) -> Op:
    """An arxiv_analytics query over the chain this pass materialised,
    checked through the integer invariants tools/arxiv_census computes
    with DuckDB (the reductions of arxiv_census.analytics_leg)."""
    from data_engineering_course_project_2023_spark.plans import arxiv_analytics as A

    build, invariants = {
        "most_cited": (lambda e, s2c: A.most_cited(e), _most_cited_invariants),
        "citation_pagerank": (A.citation_pagerank, _pagerank_invariants),
    }[name]

    def run(ctx: Ctx):
        read = ctx.spark.read.parquet
        df = build(read(os.path.join(ctx.out, "enriched")),
                   read(os.path.join(ctx.data, "s2_citations.parquet")))
        _noop(df)
        return df, None

    def check(ctx: Ctx, df) -> list[str]:
        return _mismatches(invariants(df), ctx.expected)

    return Op(name, "arxiv_analytics", run, check, counters)


_DIM_AUTHORS_SQL = """
SELECT count(*) FROM (
  SELECT DISTINCT a.name, a.affiliations[1]
  FROM hits h JOIN s2_authors a ON a.paperId = h.pid
  WHERE a.name IS NOT NULL)"""


def arxiv_expected(data: str) -> dict[str, int]:
    """DuckDB twins of every arxiv_weekly invariant, on the bronze parquet."""
    import duckdb

    from tools.arxiv_census import _HITS_CTE, TABLES, duckdb_analytics, duckdb_checks

    out = {k: v for k, v in duckdb_checks(data).items() if not k.startswith("_")}
    out.update(duckdb_analytics(data))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    out["dim_authors_rows"] = con.execute(_HITS_CTE + _DIM_AUTHORS_SQL).fetchone()[0]
    con.close()
    return {k: int(v) for k, v in out.items()}


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Workload:
    name: str
    # (generator, size) of the timed input, made from --seed, and of the
    # smaller warm-up input, made from a fixed seed: different sizes give
    # different file fingerprints, so no staged intermediate is shared.
    timed: tuple
    warmup: tuple
    ops: Callable[[], list[Op]]
    expected: Callable[[str], dict] | None = None


def _arxiv_ops() -> list[Op]:
    from tools.arxiv_census import build_stages

    ops = [stage_op(s) for s in build_stages()]
    ops.append(analytics_op("most_cited", ("wall_s",)))
    ops.append(analytics_op("citation_pagerank", GRAPH))
    return ops


def _registry_ops() -> list[Op]:
    return [
        # short queries, one per module: planning and per-job overhead.
        # The first op is also each session's set-up probe.
        registry_op("enrichment_join", SHORT, rollup=True),
        registry_op("discount_forecast", SHORT, rollup=True),
        registry_op("daily_event_counts", SHORT, rollup=True),
        registry_op("kmv_distinct_users", SHORT, rollup=True),
        # driver-side fixpoint loop (plans.analytics)
        registry_op("copair_components", GRAPH),
        # shingle stage written by the first consumer, re-read by the
        # second; semdedup_keep is the cosine kernel with no stage
        registry_op("ngram_jaccard", WRITES),
        registry_op("neardup_eval", WRITES),
        registry_op("semdedup_keep", WRITES),
    ]


WORKLOADS = {
    w.name: w
    for w in (
        Workload("arxiv_weekly", ("arxiv", 2000), ("arxiv", 200),
                 _arxiv_ops, arxiv_expected),
        Workload("registry_mix", ("sf_zipf", 0.005), ("sf_zipf", 0.0005),
                 _registry_ops),
    )
}


def prepare_input(cache: str, kind: str, size, seed: int) -> str:
    """Generate (once per checkout) the input for (generator, size, seed)
    with the repo's own generators and return its directory."""
    path = os.path.join(cache, f"{kind}-{size}-seed{seed}")
    if os.path.isdir(path):
        return path
    tmp = f"{path}.{os.getpid()}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    with contextlib.redirect_stdout(sys.stderr):
        if kind == "arxiv":
            from tools.gen_arxiv import generate_arxiv

            generate_arxiv(size, tmp, seed)
        else:
            from tools.gen_sf import generate

            generate(size, tmp, seed, vocab_mode="zipf")
    os.replace(tmp, path)
    return path
