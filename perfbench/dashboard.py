"""`dashboard_zipf`: dashboard viewers against the live server.

The server is `marketviz_spark.pipelines.dashboard_server`, started
through its own CLI as a separate process over a seeded sf0.01 data
set. Two client threads in the benchmark process form a closed loop:
each sends its next request only after the previous reply.

Request stream. Rank 0 of a 300-entry pool is the default page; the
other ranks are (k, date) page views, the most recent dates on the
lowest ranks, so the default page and recent dates are hottest. The
seed draws the k values of each date and the order of neighbours,
which decides the page at each rank; dates span weekends, which makes
the server's walk-back run. The rank sequence follows a Zipf law
(exponent 1.8), sampled by inverse CDF at golden-ratio steps from a
fixed phase. It is the same for every seed, so the positions of repeats
and first visits (and with them the page-cache misses of a short run)
do not move between seeds while the pages themselves do. Every 25th
request is an export, alternating XLSX and PDF. Warm-up leaves the four
hottest pages cached; of the 105 requests a 15 s run serves, 16 page
views miss the page cache (84% hit), so the median sits in the hit
regime and p90 among the misses.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import http.client
import os
import re
import subprocess
import sys
import threading
import time
import zipfile
from dataclasses import dataclass, field

import numpy as np

from .datagen import SHIP_LAST

POOL_SIZE = 300
ZIPF_S = 1.8
EXPORT_EVERY = 25
EXPORT_OFFSET = 7
EXPORTS = ["/export.xlsx", "/export.pdf"]
PHASE = 0.5
# Warm-up serves the default page, the next hottest pages and one
# export of each kind: the JIT sees every request kind before the timed
# window, and the page cache starts as a live server's would, holding
# its hottest pages.
WARM_PAGES = 4
CLIENTS = 2
K_CHOICES = (3, 5, 8, 10, 15, 20, 25, 30, 40, 50)
RECENT_DAYS = 150
# The index ends on the last weekday up to the generator's last ship date.
LAST_DAY = dt.date.fromisoformat(str(SHIP_LAST))
_PHI = (5**0.5 - 1) / 2
_READY = re.compile(r"serving dashboard on http://([\d.]+):(\d+)")


def request_pool(seed: int) -> list[str]:
    """Rank-ordered request paths: rank 0 is the default page, then
    (k, date) views ordered by recency with seeded k values."""
    rng = np.random.default_rng([seed, 11])
    dates = [LAST_DAY - dt.timedelta(days=d) for d in range(RECENT_DAYS)]
    per_date = -(-(POOL_SIZE - 1) // RECENT_DAYS)
    pairs = []
    for age, d in enumerate(dates):
        for k in rng.choice(K_CHOICES, per_date, replace=False):
            # Recency orders the pool; the jitter interleaves neighbours.
            pairs.append((age + rng.uniform(0.0, 3.0), f"/?k={int(k)}&date={d.isoformat()}"))
    pairs.sort()
    return ["/"] + [p for _, p in pairs[: POOL_SIZE - 1]]


def request_stream(seed: int, n: int) -> list[str]:
    """The first `n` requests of the seeded stream."""
    pool = request_pool(seed)
    w = 1.0 / np.arange(1, POOL_SIZE + 1) ** ZIPF_S
    cdf = np.cumsum(w) / w.sum()
    u = (PHASE + np.arange(n) * _PHI) % 1.0
    ranks = np.minimum(np.searchsorted(cdf, u), POOL_SIZE - 1)
    stream = [pool[r] for r in ranks]
    for j, i in enumerate(range(EXPORT_OFFSET, n, EXPORT_EVERY)):
        stream[i] = EXPORTS[j % 2]
    return stream


@dataclass
class Reply:
    rid: int
    path: str
    latency: float
    status: int | None
    error: str | None = None
    digest: str | None = None
    body: bytes | None = field(default=None, repr=False)


def fetch(host: str, port: int, path: str, rid: int, timeout: float = 120.0) -> Reply:
    """One GET; connection errors (refused, reset, timeout) become a
    Reply with status None instead of raising."""
    t0 = time.perf_counter()
    try:
        conn = http.client.HTTPConnection(host, port, timeout=timeout)
        try:
            conn.request("GET", path, headers={"X-Request-Id": str(rid)})
            resp = conn.getresponse()
            body = resp.read()
            status = resp.status
        finally:
            conn.close()
    except (OSError, http.client.HTTPException) as e:
        return Reply(rid, path, time.perf_counter() - t0, None, f"{type(e).__name__}: {e}")
    return Reply(rid, path, time.perf_counter() - t0, status, body=body)


def closed_loop(host: str, port: int, stream: list[str], seconds: float,
                clients: int = CLIENTS) -> list[Reply]:
    """`clients` threads take the next request from the shared stream
    after each reply, until the stream is served or `seconds` have
    passed. Bodies are digested after the clock stops for each request;
    exports and the first body of each page are kept for the structural
    checks."""
    lock = threading.Lock()
    nxt = iter(enumerate(stream))
    replies: list[Reply] = []
    kept: set[str] = set()
    deadline = time.perf_counter() + seconds

    def client() -> None:
        while time.perf_counter() < deadline:
            with lock:
                item = next(nxt, None)
            if item is None:
                return
            rid, path = item
            r = fetch(host, port, path, rid)
            if r.body is not None:
                r.digest = hashlib.sha1(r.body).hexdigest()
            with lock:
                if r.path in kept and not r.path.startswith("/export"):
                    r.body = None
                kept.add(r.path)
                replies.append(r)

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return replies


def check_replies(replies: list[Reply], scratch: str) -> dict[int, str]:
    """Failed request ids with reasons: non-200 or refused, a page
    without both SVG charts and the composition section, bodies that
    differ between requests for the same page, or an export that does
    not open as XLSX/PDF."""
    from tests.xlsx_reader import read_workbook

    bad: dict[int, str] = {}
    first_digest: dict[str, str] = {}
    for r in sorted(replies, key=lambda r: r.rid):
        if r.status != 200:
            bad[r.rid] = r.error or f"HTTP {r.status}"
            continue
        if r.path.startswith("/export"):
            if r.body is None:
                continue
            if r.path.endswith(".pdf"):
                if not (r.body.startswith(b"%PDF-") and b"%%EOF" in r.body[-64:]):
                    bad[r.rid] = "export.pdf is not a PDF"
            else:
                p = os.path.join(scratch, f"check-{r.rid}.xlsx")
                with open(p, "wb") as fh:
                    fh.write(r.body)
                try:
                    if not any(read_workbook(p).values()):
                        bad[r.rid] = "export.xlsx has no rows"
                except (zipfile.BadZipFile, KeyError) as e:
                    bad[r.rid] = f"export.xlsx unreadable: {e}"
            continue
        if r.body is not None:
            doc = r.body.decode("utf-8", "replace")
            if doc.count("<svg") != 2 or "<h2>Index Composition</h2>" not in doc:
                bad[r.rid] = "page lacks its two charts or the composition section"
        want = first_digest.setdefault(r.path, r.digest)
        if r.digest != want:
            bad[r.rid] = "page body differs from an earlier reply for the same (k, date)"
    return bad


class Server:
    """The dashboard server as a child process, started through its
    own CLI, or through the benchmark's span-recording launcher when a
    `spans_path` is given."""

    def __init__(self, data_dir: str, workdir: str, env: dict, spans_path: str | None = None) -> None:
        if spans_path is None:
            cmd = [sys.executable, "-m", "marketviz_spark.pipelines.dashboard_server", data_dir, "0"]
        else:
            launcher = os.path.join(os.path.dirname(os.path.abspath(__file__)), "dash_traced.py")
            cmd = [sys.executable, launcher, data_dir, "0", spans_path]
        self.t_spawn = time.perf_counter()
        self.proc = subprocess.Popen(
            cmd, cwd=workdir, env=env, stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL, text=True,
        )
        self.host, self.port = self._wait_listening(timeout=120.0)

    def _wait_listening(self, timeout: float) -> tuple[str, int]:
        found: list[tuple[str, int]] = []

        def read() -> None:
            for line in self.proc.stdout:
                m = _READY.search(line)
                if m:
                    found.append((m.group(1), int(m.group(2))))
                    return

        t = threading.Thread(target=read, daemon=True)
        t.start()
        t.join(timeout)
        if not found:
            raise RuntimeError("dashboard server did not start listening")
        return found[0]

    def warm_up(self, paths: list[str], timeout: float = 120.0) -> float:
        """Seconds from spawn until the default page has answered 200
        and every warm-up path has been served."""
        deadline = time.perf_counter() + timeout
        while fetch(self.host, self.port, "/", -1).status != 200:
            if time.perf_counter() > deadline:
                raise RuntimeError("dashboard server never answered 200")
            time.sleep(0.1)
        for path in paths:
            r = fetch(self.host, self.port, path, -1)
            if r.status != 200:
                raise RuntimeError(f"warm-up request {path} failed: {r.error or r.status}")
        return time.perf_counter() - self.t_spawn

    def stop(self) -> None:
        from .procs import stop_tree

        stop_tree(self.proc)


SF = 0.01
# A run serves a fixed prefix of the stream, this many requests per
# second of --seconds (the current server takes about that long). A
# fixed prefix holds a fixed set of first visits, so the page-cache miss
# count is the same in every run; a time limit would cut the stream at a
# point that depends on timing, just before or after a run of misses.
REQUESTS_PER_SECOND = 7


def run(ctx):
    """One dashboard_zipf run: start and warm up the server, serve the
    stream prefix sized by `ctx.seconds` through the closed loop, stop
    the server, check every reply."""
    import json

    from . import datagen
    from .stats import Result, percentile
    from .trace import load, self_times

    res = Result()
    out = res.outcomes
    data_dir = os.path.join(ctx.workdir, "data")
    datagen.generate(data_dir, SF, ctx.seed)
    spans_path = os.path.join(ctx.workdir, "server-spans.json") if ctx.rec else None
    stream = request_stream(ctx.seed, max(1, round(ctx.seconds * REQUESTS_PER_SECOND)))
    server = Server(data_dir, ctx.workdir, ctx.env, spans_path)
    try:
        res.setup_s = server.warm_up(request_pool(ctx.seed)[1:WARM_PAGES] + EXPORTS)
        t = time.perf_counter()
        replies = closed_loop(server.host, server.port, stream, 10 * ctx.seconds)
        window = time.perf_counter() - t
    finally:
        server.stop()

    bad = check_replies(replies, ctx.workdir)
    for r in replies:
        if r.rid in bad:
            out.fail(bad[r.rid])
        else:
            out.ok()
            res.latencies.append(r.latency)
    res.throughput = len(res.latencies) / window
    ok = res.latencies or [float("nan")]
    res.named = {
        "dash_rps": (res.throughput, "1/s"),
        "dash_latency_p50_ms": (percentile(ok, 50.0) * 1000.0, "ms"),
        "dash_latency_p90_ms": (percentile(ok, 90.0) * 1000.0, "ms"),
        "dash_fail_ratio": (out.fail_ratio, "ratio"),
    }
    if ctx.rec is None:
        return res

    spans = load(spans_path)
    with open(spans_path + ".jobs") as fh:
        render_jobs = json.load(fh)
    in_window = {str(r.rid) for r in replies}
    spans = [s for s in spans if s.ctx in in_window]
    own = self_times(spans)
    by_rid = {r.rid: r for r in replies}

    def total(name: str) -> float:
        return sum(own[s.id] for s in spans if s.name == name)

    renders = [s for s in spans if s.name == "dashboard_server.render"]
    render_ctx = {s.ctx for s in renders}
    pages = sum(1 for r in replies if not r.path.startswith("/export"))
    collects = sum(1 for s in spans if s.name == "presentation.collect" and s.ctx in render_ctx)
    jobs = [(j, t) for c, j, t in render_jobs if c in in_window]
    n = max(len(renders), 1)
    res.spans = spans
    res.layers = {
        "dashboard_server.render_calls": float(len(renders)),
        "dashboard_server.page_cache_hit_ratio": 1.0 - len(renders) / pages if pages else 0.0,
        "dashboard_server.render_s": total("dashboard_server.render"),
        "dashboard_server.queue_wait_s": sum(
            by_rid[int(s.ctx)].latency - (s.end - s.start) for s in renders
        ),
        "charts.spec_s": total("charts.spec"),
        "presentation.collects_per_render": collects / n,
        "presentation.collect_s": total("presentation.collect"),
        "export.export_s": total("export.export"),
        "session.spark_jobs_per_render": sum(j for j, _ in jobs) / n,
        "session.spark_jobs": sum(j for j, _ in jobs) / n,
        "session.spark_tasks": sum(t for _, t in jobs) / n,
    }
    return res
