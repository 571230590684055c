"""`query_mix`: analysts and pipeline jobs running registry queries.

A pass materializes each of 22 registry queries through Spark's `noop`
sink, in an order the seed shuffles anew for every pass; a run makes
one pass per 7.5 s of its run length. The queries span the scan, shuffle,
window and Python-UDF work of `tables`, `operators` and `datapipe`.
The warm-up pass collects every result to the driver; after the timed
passes each is compared with its DuckDB oracle via
`tests/oracle_check.py`.
"""

from __future__ import annotations

import os
import time

import numpy as np

QUERY_NAMES = (
    "index_daily",
    "w1_split_adjust",
    "w3_w4_returns",
    "j1_composition_market_cap",
    "j3_asof_walkback",
    "w8_latest_per_ticker",
    "o5_summary_tail30",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q9_nation_profit",
    "cube_revenue",
    "skew_salted_join",
    "events_tumbling_1h",
    "events_funnel_conversion",
    "events_range_join",
    "dedup_exact",
    "dedup_lsh_pairs",
    "dedup_clusters",
    "text_stats",
    "emb_cosine_topk_blas",
    "semdedup_prune",
    "graph_pagerank",
)


def pass_order(seed: int, p: int) -> list[str]:
    """Query order of pass `p`; the warm-up pass is p = 0, timed passes
    count from 1."""
    rng = np.random.default_rng([seed, 21, p])
    return [QUERY_NAMES[i] for i in rng.permutation(len(QUERY_NAMES))]


class _Collected:
    """Adapter so oracle_check.compare can take an already collected
    result."""

    def __init__(self, pdf) -> None:
        self.pdf = pdf

    def toPandas(self):  # noqa: N802 — mirrors the DataFrame method
        return self.pdf


def oracle_problems(data_dir: str, results: dict) -> dict[str, list[str]]:
    """Per-query mismatches between collected Spark results and the
    DuckDB oracles (empty lists for matches)."""
    from marketviz_spark.registry import QUERIES
    from tests import oracle_check

    con = oracle_check.duck_con(data_dir)
    try:
        return {
            name: oracle_check.compare(_Collected(pdf), con, QUERIES[name].oracle, name)
            for name, pdf in results.items()
        }
    finally:
        con.close()


def run_query(spark, data_dir: str, name: str) -> None:
    from marketviz_spark.registry import QUERIES

    QUERIES[name].fn(spark, data_dir).write.format("noop").mode("overwrite").save()


def timed_passes(spark, data_dir: str, seed: int, passes: int,
                 runner=run_query, on_pass=None):
    """Run `passes` whole passes. Returns the pass walls and per-query
    (name, seconds, error) samples."""
    walls: list[float] = []
    samples: list[tuple[str, float, str | None]] = []
    for p in range(1, passes + 1):
        if on_pass:
            on_pass("start", p)
        t_pass = time.perf_counter()
        for name in pass_order(seed, p):
            t0 = time.perf_counter()
            err = None
            try:
                runner(spark, data_dir, name)
            except Exception as e:  # noqa: BLE001 — a failed query is counted, the run goes on
                err = f"{type(e).__name__}: {e}"[:300]
            samples.append((name, time.perf_counter() - t0, err))
        walls.append(time.perf_counter() - t_pass)
        if on_pass:
            on_pass("end", p)
    return walls, samples


SF = 0.01
# One pass per this many seconds of --seconds; a pass takes about 9 s
# on a 4-CPU host.
SECONDS_PER_PASS = 7.5


def run(ctx):
    """One query_mix run: warm-up pass collecting every result, the
    timed passes `ctx.seconds` sizes, then the oracle comparisons."""
    from marketviz_spark.registry import QUERIES
    from marketviz_spark.session import get_spark

    from . import datagen
    from .trace import spark_work
    from statistics import median

    from .stats import Result, percentile

    res = Result()
    out = res.outcomes
    data_dir = os.path.join(ctx.workdir, "data")
    t = time.perf_counter()
    datagen.generate(data_dir, SF, ctx.seed)
    gen_s = time.perf_counter() - t

    spark = get_spark("perfbench_query_mix")
    results, warm_errors = {}, {}
    for name in pass_order(ctx.seed, 0):
        try:
            results[name] = QUERIES[name].fn(spark, data_dir).toPandas()
        except Exception as e:  # noqa: BLE001 — reported as failed executions below
            warm_errors[name] = f"{type(e).__name__}: {e}"[:300]
    res.setup_s = time.perf_counter() - ctx.t0 - gen_s

    rec = ctx.rec
    pass_work: list[tuple[int, int]] = []

    def on_pass(event: str, p: int) -> None:
        group = f"pass-{p}"
        if event == "start":
            rec.set_context(group)
            spark.sparkContext.setJobGroup(group, "query pass", False)
        else:
            pass_work.append(spark_work(spark.sparkContext, group))
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    passes = max(1, round(ctx.seconds / SECONDS_PER_PASS))
    if rec is None:
        walls, samples = timed_passes(spark, data_dir, ctx.seed, passes)
    else:
        walls, samples = timed_passes(spark, data_dir, ctx.seed, passes,
                                      _traced_query(rec, run_query), on_pass)

    # Checks, outside the timed window: a query whose result does not
    # match its oracle has every execution counted as failed.
    problems = oracle_problems(data_dir, results)
    wrong = {n for n, p in problems.items() if p} | set(warm_errors)
    ok = []
    for name, seconds, err in samples:
        if err or name in wrong:
            out.fail(err or "; ".join(problems.get(name) or [warm_errors.get(name, "")]))
        else:
            out.ok()
            ok.append(seconds)
    res.throughput = len(ok) / sum(walls)
    # The latency of this workload's operation is a whole pass, the job
    # that runs the fixed list: the pooled per-query p90 falls between
    # two queries' costs and jumps between them from run to run.
    if len(ok) == len(samples):
        res.latencies = walls
    ok = ok or [float("nan")]
    res.named = {
        "query_mix_wall_s": (median(walls), "s"),
        "query_latency_p50_s": (percentile(ok, 50.0), "s"),
        "query_latency_p90_s": (percentile(ok, 90.0), "s"),
        "query_fail_ratio": (out.fail_ratio, "ratio"),
    }
    if rec is not None:
        per_query: dict[str, list[float]] = {}
        for name, seconds, _ in samples:
            per_query.setdefault(name, []).append(seconds)
        res.layers = {f"query.{n}_s": median(v) for n, v in per_query.items()}
        res.layers["session.spark_jobs"] = median([j for j, _ in pass_work])
        res.layers["session.spark_tasks"] = median([t for _, t in pass_work])
    spark.stop()
    return res


def _traced_query(rec, fn):
    def traced(spark, data_dir, name):
        with rec.span(f"query.{name}"):
            return fn(spark, data_dir, name)

    return traced
