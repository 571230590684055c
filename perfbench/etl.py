"""`etl_refresh`: the operator's backfill plus repeated daily refreshes.

Backfill runs the path `app.run_pipeline` takes: ingest a seeded ticker
universe through `pipelines.ingest.ingest`, upsert `stocks` by date
partition, compute the index and upsert `index_data` by partition.

Each refresh batch holds a new trading day for every ticker plus a full
restatement of one earlier day. The batch lands as a parquet file, is
drained through `streaming.sinks.run_upsert_stream` into a keyed
(ticker, date) table, and the index of the two touched dates is
recomputed and upserted into `index_data`. A batch is timed from the
moment its file has landed until `index_data` is updated.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from marketviz_spark.pipelines.ingest import HistorySource

N_TICKERS = 20_000
BACKFILL_DAYS = 20
FAIL_SHARE = 0.01
SPLIT_SHARE = 0.02
INDEX_K = 10
FIRST_DAY = dt.date(2024, 1, 2)
WARMUP_TICKERS = 300
KEYS = ["ticker", "date"]
STOCKS_SCHEMA = pa.schema([
    ("ticker", pa.string()),
    ("date", pa.string()),
    ("share_price", pa.float64()),
    ("market_cap", pa.float64()),
    ("effective_shares_outstanding", pa.float64()),
])


def trading_days(first: dt.date, n: int) -> list[str]:
    days, d = [], first
    while len(days) < n:
        if d.weekday() < 5:
            days.append(d.isoformat())
        d += dt.timedelta(days=1)
    return days


def ticker_name(i: int) -> str:
    return f"X{i:05d}"


MAX_BATCHES = 100
# Refresh batches per second of --seconds; one batch takes about 0.7 s
# on a 4-CPU host. A fixed count, not a time limit, because the keyed
# table grows with every batch, so later batches are slower and a count
# that varied with timing would move the tail.
BATCHES_PER_SECOND = 1.5


class Plan:
    """Everything the workload's input is generated from: the seed,
    the universe size, the failing tickers and the split schedule.
    Prices come from one vectorised draw, made lazily (also inside each
    Spark Python worker) and never pickled."""

    def __init__(self, seed: int, n_tickers: int = N_TICKERS, n_days: int = BACKFILL_DAYS) -> None:
        rng = np.random.default_rng([seed, 1])
        self.seed = seed
        self.n_tickers = n_tickers
        self.days = trading_days(FIRST_DAY, n_days + MAX_BATCHES)
        self.n_days = n_days
        self.failing = frozenset(
            int(i) for i in rng.choice(n_tickers, int(n_tickers * FAIL_SHARE), replace=False)
        )
        # Splits fall in the first half of the backfill, so every later
        # day (all restatements and new days) has a split factor of 1.
        self.split_day = np.full(n_tickers, -1)
        self.split_ratio = np.ones(n_tickers)
        split_tickers = rng.choice(n_tickers, int(n_tickers * SPLIT_SHARE), replace=False)
        self.split_day[split_tickers] = rng.integers(0, n_days // 2, len(split_tickers))
        self.split_ratio[split_tickers] = rng.choice([2.0, 3.0], len(split_tickers))
        self._prices = None

    def __getstate__(self):
        return {**self.__dict__, "_prices": None}

    def prices(self) -> tuple[np.ndarray, np.ndarray]:
        """(closes[ticker, day] as 2-decimal prices, shares[ticker])."""
        if self._prices is None:
            rng = np.random.default_rng([self.seed, 2])
            shares = rng.integers(1_000_000, 5_000_000_000, self.n_tickers).astype(np.float64)
            base = rng.uniform(5.0, 900.0, (self.n_tickers, 1))
            walk = np.cumprod(1.0 + rng.normal(0.0, 0.02, (self.n_tickers, len(self.days))), axis=1)
            self._prices = (np.round(base * walk, 2), shares)
        return self._prices

    def good(self) -> np.ndarray:
        mask = np.ones(self.n_tickers, dtype=bool)
        mask[list(self.failing)] = False
        return np.flatnonzero(mask)


class SeededHistory(HistorySource):
    """Per-ticker history for the backfill days; about 1% of tickers
    raise, as a failing upstream fetch would."""

    def __init__(self, plan: Plan) -> None:
        self.plan = plan

    def fetch(self, ticker: str) -> pd.DataFrame:
        p = self.plan
        i = int(ticker[1:])
        if i in p.failing:
            raise ValueError(f"upstream has no history for {ticker}")
        closes, shares = p.prices()
        splits = np.zeros(p.n_days)
        if p.split_day[i] >= 0:
            splits[p.split_day[i]] = p.split_ratio[i]
        return pd.DataFrame({
            "date": p.days[: p.n_days],
            "close": closes[i, : p.n_days],
            "stock_splits": splits,
            "shares_outstanding": shares[i],
        })


def refresh_batch(plan: Plan, b: int) -> tuple[pa.Table, list[str]]:
    """Batch `b` (0-based): a new day for every good ticker plus a
    restatement of one earlier post-split day. Returns the rows in
    `stocks` schema and the two touched dates."""
    if b >= MAX_BATCHES:
        raise ValueError(f"the plan covers {MAX_BATCHES} refresh batches")
    closes, shares = plan.prices()
    new_idx = plan.n_days + b
    rng = np.random.default_rng([plan.seed, 5, b])
    restated_idx = int(rng.integers(plan.n_days // 2, new_idx))
    good = plan.good()
    restated = np.round(closes[good, restated_idx] * rng.uniform(0.97, 1.03, len(good)), 2)
    price = np.concatenate([restated, closes[good, new_idx]])
    eff = np.concatenate([shares[good], shares[good]])
    tickers = [ticker_name(i) for i in good]
    dates = [plan.days[restated_idx]] * len(good) + [plan.days[new_idx]] * len(good)
    table = pa.table({
        "ticker": tickers + tickers,
        "date": dates,
        "share_price": price,
        "market_cap": price * eff,
        "effective_shares_outstanding": eff,
    }, schema=STOCKS_SCHEMA)
    return table, [plan.days[restated_idx], plan.days[new_idx]]


def expected_index(plan: Plan, batches: int) -> pd.DataFrame:
    """Independent pandas recomputation of the final `index_data`
    after the backfill and `batches` refreshes."""
    closes, shares = plan.prices()
    good = plan.good()
    nd = plan.n_days
    day = np.arange(nd)
    # The split factor covers the split day and every day before it.
    factor = np.where(day[None, :] <= plan.split_day[good, None], plan.split_ratio[good, None], 1.0)
    price = closes[good, :nd]
    stocks = pd.DataFrame({
        "ticker": np.repeat([ticker_name(i) for i in good], nd),
        "date": np.tile(plan.days[:nd], len(good)),
        "share_price": price.ravel(),
        "market_cap": (price * (shares[good, None] / factor)).ravel(),
    })
    for b in range(batches):
        upd = refresh_batch(plan, b)[0].to_pandas()[stocks.columns]
        stocks = pd.concat([stocks, upd], ignore_index=True).drop_duplicates(KEYS, keep="last")
    stocks = stocks.sort_values(["date", "market_cap", "ticker"], ascending=[True, False, True])
    out = []
    for date, g in stocks.groupby("date", sort=True):
        g = g.head(INDEX_K)
        cents = sum(int(round(p * 100)) for p in g["share_price"])
        out.append((date, (cents / 100) / float(INDEX_K), ",".join(g["ticker"])))
    return pd.DataFrame(out, columns=["date", "index_value", "composition"])


class Pipeline:
    """The backfill and refresh steps against one data directory.
    Calls go through the program's modules by attribute, so a traced
    run's wrappers see them."""

    def __init__(self, spark, root: str, plan: Plan) -> None:
        self.spark = spark
        self.root = root
        self.plan = plan
        self.stocks_path = os.path.join(root, "stocks")
        self.index_path = os.path.join(root, "index_data")
        self.live_path = os.path.join(root, "stocks_live")
        self.landing = os.path.join(root, "landing")
        self.checkpoint = os.path.join(root, "checkpoint")
        os.makedirs(self.landing, exist_ok=True)
        self.landed_bytes = 0

    def backfill(self) -> None:
        from marketviz_spark import app
        from marketviz_spark.pipelines.ingest import UniverseSource

        universe = UniverseSource([ticker_name(i) for i in range(self.plan.n_tickers)])
        app.run_pipeline(self.spark, universe, SeededHistory(self.plan), self.root, k=INDEX_K)

    def land(self, b: int) -> tuple[int, list[str]]:
        """Write batch `b`'s file into the landing directory (outside
        any timed window); returns its row count and touched dates."""
        table, touched = refresh_batch(self.plan, b)
        path = os.path.join(self.landing, f"batch-{b:05d}.parquet")
        pq.write_table(table, path)
        self.landed_bytes += os.path.getsize(path)
        return table.num_rows, touched

    def refresh(self, touched: list[str]) -> None:
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from marketviz_spark.pipelines import index, upsert
        from marketviz_spark.streaming import sinks

        schema = T.StructType([
            T.StructField(f.name, T.StringType() if f.type == pa.string() else T.DoubleType())
            for f in STOCKS_SCHEMA
        ])
        stream = self.spark.readStream.schema(schema).parquet(self.landing)
        sinks.run_upsert_stream(stream, self.live_path, KEYS, self.checkpoint)
        live = self.spark.read.parquet(self.live_path).filter(F.col("date").isin(touched))
        upsert.upsert_by_date_partition(
            self.spark, index.compute_index(live, k=INDEX_K), self.index_path
        )

    def index_frame(self) -> pd.DataFrame:
        df = self.spark.read.parquet(self.index_path).toPandas()
        return df[["date", "index_value", "composition"]].sort_values("date").reset_index(drop=True)


def check_index(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Exact comparison of index_data against the recomputation."""
    want = want.sort_values("date").reset_index(drop=True)
    if len(got) != len(want):
        return [f"index_data has {len(got)} dates, expected {len(want)}"]
    problems = []
    for (_, g), (_, w) in zip(got.iterrows(), want.iterrows()):
        if (g["date"], g["composition"]) != (w["date"], w["composition"]) or g["index_value"] != w["index_value"]:
            problems.append(
                f"index_data {g['date']}: got ({g['index_value']!r}, {g['composition'][:40]}...) "
                f"expected ({w['index_value']!r}, {w['composition'][:40]}...)"
            )
    return problems[:5]


def _parquet_files(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(dirpath, f))
                out[os.path.join(dirpath, f)] = (st.st_size, st.st_mtime_ns)
    return out


class LayerTrace:
    """Traced-run wrappers for the ETL layers. `ingest` and
    `compute_index` results are persisted and counted inside their
    spans, so each layer's work lands in its own span instead of in the
    lazy write that follows (a materialization only traced runs make)."""

    def __init__(self, rec, spark) -> None:
        self.rec = rec
        self.spark = spark
        self.rows = 0
        self.fetch_errors = 0
        self.files = 0
        self.refresh_bytes = 0
        self.in_refresh = False

    def install(self) -> None:
        from marketviz_spark.pipelines import index, ingest, upsert
        from marketviz_spark.streaming import sinks

        from .trace import rebind

        rec = self.rec
        fetch_universe = ingest.fetch_universe
        # ingest() looks fetch_universe up at call time; persisting its
        # output lets the error count reuse the fetch.
        ingest.fetch_universe = lambda *a, **k: fetch_universe(*a, **k).persist()

        run_ingest = ingest.ingest

        def traced_ingest(*a, **k):
            with rec.span("ingest"):
                stocks, errors = run_ingest(*a, **k)
                stocks = stocks.persist()
                self.rows += stocks.count()
                self.fetch_errors += errors.count()
            return stocks, errors

        rebind(ingest, "ingest", traced_ingest)

        compute = index.compute_index

        def traced_compute(*a, **k):
            with rec.span("index.compute"):
                out = compute(*a, **k).persist()
                out.count()
            return out

        rebind(index, "compute_index", traced_compute)

        for attr in ("upsert_by_date_partition", "upsert_keyed"):
            rebind(upsert, attr, self._writer(getattr(upsert, attr), f"upsert.{attr}"))

        drain = sinks.run_upsert_stream

        def traced_drain(*a, **k):
            with rec.span("streaming") as sp:
                rec.fallback_parent = sp.id
                try:
                    return drain(*a, **k)
                finally:
                    rec.fallback_parent = None

        rebind(sinks, "run_upsert_stream", traced_drain)

    def _writer(self, fn, name: str):
        def traced(spark, new, path, *a, **k):
            before = _parquet_files(path)
            with self.rec.span(name):
                out = fn(spark, new, path, *a, **k)
            after = _parquet_files(path)
            written = [p for p, v in after.items() if before.get(p) != v]
            self.files += len(written)
            if self.in_refresh:
                self.refresh_bytes += sum(after[p][0] for p in written)
            return out

        return traced


def run(ctx):
    """One etl_refresh run: warm-up, timed backfill, then the refresh
    batches `ctx.seconds` sizes, then the checks."""
    from marketviz_spark.session import get_spark
    from marketviz_spark.streaming import monitor

    from statistics import median

    from .stats import Result, percentile
    from .trace import self_time_by_name, spark_work

    res = Result()
    out = res.outcomes
    spark = get_spark("perfbench_etl")
    warm = Pipeline(spark, os.path.join(ctx.workdir, "warmup"),
                    Plan(ctx.seed + 1, n_tickers=WARMUP_TICKERS, n_days=6))
    warm.backfill()
    for b in range(2):
        warm.refresh(warm.land(b)[1])
    res.setup_s = time.perf_counter() - ctx.t0

    plan = Plan(ctx.seed)
    pipe = Pipeline(spark, os.path.join(ctx.workdir, "etl"), plan)
    layers = recorder = None
    if ctx.rec is not None:
        layers = LayerTrace(ctx.rec, spark)
        layers.install()
        recorder = monitor.attach(spark)
    rec = ctx.rec

    good = len(plan.good())
    rows = 0
    t0 = time.perf_counter()
    try:
        if rec:
            rec.set_context("backfill")
            with rec.span("etl.backfill"):
                pipe.backfill()
        else:
            pipe.backfill()
        out.ok()
        rows += good * plan.n_days
    except Exception as e:  # noqa: BLE001 — counted; nothing to refresh without a backfill
        out.fail(f"backfill: {type(e).__name__}: {e}"[:300])
        spark.stop()
        return res
    backfill_s = time.perf_counter() - t0

    times: list[float] = []
    jobs: list[tuple[int, int]] = []
    batches = min(MAX_BATCHES, max(1, round(ctx.seconds * BATCHES_PER_SECOND)))
    for b in range(batches):
        n, touched = pipe.land(b)
        group = f"batch-{b}"
        if rec:
            rec.set_context(group)
            layers.in_refresh = True
            spark.sparkContext.setJobGroup(group, "refresh batch", False)
        t = time.perf_counter()
        try:
            if rec:
                with rec.span("etl.refresh"):
                    pipe.refresh(touched)
            else:
                pipe.refresh(touched)
            times.append(time.perf_counter() - t)
            rows += n
            out.ok()
        except Exception as e:  # noqa: BLE001 — counted, next batch goes on
            out.fail(f"batch {b}: {type(e).__name__}: {e}"[:300])
        if rec:
            jobs.append(spark_work(spark.sparkContext, group))
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            layers.in_refresh = False

    # Checks, outside the timed window.
    problems = check_index(pipe.index_frame(), expected_index(plan, batches))
    stocked = {r[0] for r in spark.read.parquet(pipe.stocks_path).select("ticker").distinct().collect()}
    if stocked != {ticker_name(i) for i in plan.good()}:
        problems.append(f"stocks holds {len(stocked)} tickers, expected {good}")
    if rec and layers.fetch_errors != len(plan.failing):
        problems.append(
            f"ingest reported {layers.fetch_errors} fetch errors, "
            f"{len(plan.failing)} tickers were seeded to fail"
        )
    if problems:
        out.fail_all(problems)

    res.latencies = times
    busy = backfill_s + sum(times)
    res.throughput = rows / busy
    res.named = {
        "etl_backfill_s": (backfill_s, "s"),
        "etl_refresh_p50_s": (median(times) if times else float("nan"), "s"),
        "etl_rows_per_s": (res.throughput, "rows/s"),
        "etl_fail_ratio": (out.fail_ratio, "ratio"),
    }
    if rec:
        own = self_time_by_name(rec.spans)
        events = list(recorder.events)
        spark.streams.removeListener(recorder)
        res.layers = {
            "ingest.fetch_s": own.get("ingest", 0.0),
            "ingest.rows": float(layers.rows),
            "ingest.fetch_errors": float(layers.fetch_errors),
            "upsert.write_s": own.get("upsert.upsert_by_date_partition", 0.0)
            + own.get("upsert.upsert_keyed", 0.0),
            "upsert.files_written": float(layers.files),
            "upsert.bytes_written_per_input_byte": (
                layers.refresh_bytes / pipe.landed_bytes if pipe.landed_bytes else 0.0
            ),
            "index.compute_s": own.get("index.compute", 0.0),
            "streaming.batches": float(len(events)),
            "streaming.batch_ms_p50": percentile(
                [e["batch_duration_ms"] or 0.0 for e in events], 50.0
            ) if events else 0.0,
            "session.spark_jobs": median([j for j, _ in jobs]) if jobs else 0.0,
            "session.spark_tasks": median([t for _, t in jobs]) if jobs else 0.0,
        }
    spark.stop()
    return res
