#!/usr/bin/env python3
"""MarketViz benchmark: one workload per run, in a fresh process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--spans-out <file.json>]

Workloads: dashboard_zipf, etl_refresh, query_mix (see BENCHMARK.json
and perfbench/README.md). Inputs are generated from --seed; each run
times a fixed amount of work sized by --seconds (about that long on a
4-CPU host), checks the program's outputs, prints every metric by name
with its unit, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 1 the run
first repeats itself untraced in a child process, then runs traced and
reports per-layer metrics plus the tracing overhead (traced minus
untraced end-to-end metrics).

Everything a run writes goes to a temporary directory under
.perfbench_tmp/ in the checkout, removed when the run ends.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from dataclasses import dataclass  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MODULES = {
    "dashboard_zipf": "dashboard",
    "etl_refresh": "etl",
    "query_mix": "query_mix",
}
# The program files a run needs besides perfbench/ itself.
REQUIRED = (
    "marketviz_spark/__init__.py",
    "tests/oracle_check.py",
    "tests/xlsx_reader.py",
)
DRIVER_MEM = "2g"
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "throughput_per_s": "1/s",
    "latency_p90_ms": "ms",
}
_LAYERS = {
    "dashboard_server.render_calls": "count",
    "dashboard_server.page_cache_hit_ratio": "ratio",
    "dashboard_server.render_s": "s",
    "dashboard_server.queue_wait_s": "s",
    "charts.spec_s": "s",
    "presentation.collects_per_render": "count",
    "presentation.collect_s": "s",
    "export.export_s": "s",
    "session.spark_jobs_per_render": "count",
    "ingest.fetch_s": "s",
    "ingest.rows": "count",
    "ingest.fetch_errors": "count",
    "upsert.write_s": "s",
    "upsert.files_written": "count",
    "upsert.bytes_written_per_input_byte": "ratio",
    "index.compute_s": "s",
    "streaming.batches": "count",
    "streaming.batch_ms_p50": "ms",
}


def per_layer() -> dict[str, str]:
    """Per-layer metric names and units, in BENCHMARK.json order."""
    from perfbench.query_mix import QUERY_NAMES

    return {
        **_LAYERS,
        **{f"query.{n}_s": "s" for n in QUERY_NAMES},
        "session.spark_jobs": "count",
        "session.spark_tasks": "count",
        "trace.spans": "count",
        **{f"trace.overhead_{m}": u for m, u in END_TO_END.items()},
    }


@dataclass
class Context:
    seed: int
    seconds: float
    workdir: str
    env: dict
    t0: float  # when this run's process (or traced phase) started
    rec: object  # trace.Recorder in traced runs, else None


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(MODULES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans-out", help="also write the traced run's spans here")
    return ap.parse_args(argv)


def run_env(workdir: str) -> dict:
    """Environment for this process and its children: every temporary
    file under the run directory, Spark sized to the CPUs this process
    may use, and the checkout importable by Spark's Python workers."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    path = env.get("PYTHONPATH")
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        PYTHONPATH=ROOT + (os.pathsep + path if path else ""),
        PYSPARK_PYTHON=sys.executable,
        PYTHONUNBUFFERED="1",
        # The program's default driver heap (16g) is as large as this
        # kind of host's memory. A fixed heap that the JVM touches up
        # front keeps peak memory comparable between runs instead of
        # tracking how far the collector let the heap grow; the metric
        # then moves with everything outside the JVM heap.
        SPARK_DRIVER_MEM=DRIVER_MEM,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(workdir, "spark-local"),
        SPARK_GRAFT_CONF=";".join([
            f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
            f"spark.sql.warehouse.dir={os.path.join(workdir, 'warehouse')}",
        ]),
    )
    return env


def untraced_metrics(args) -> dict | None:
    """The same run untraced, in a child process: the baseline the
    tracing overhead is measured against."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return None
    return {k: v["value"] for k, v in json.loads(lines[-1])["metrics"].items()}


def end_to_end(res, peak_mb: float) -> dict[str, float]:
    from perfbench.stats import percentile

    lat = res.latencies
    return {
        "setup_s": res.setup_s,
        "peak_rss_mb": peak_mb,
        "throughput_per_s": res.throughput,
        "latency_p90_ms": percentile(lat, 90.0) * 1000.0 if lat else 0.0,
    }


def report(args, res, e2e: dict, spans: list) -> None:
    """Human-readable lines; the JSON result line follows them."""
    from perfbench.stats import tail_percentile
    from perfbench.trace import self_time_by_name, total_by_name

    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds:g} trace {args.trace}")
    for name, value in e2e.items():
        print(f"  {name:<34} {value:14.4f} {END_TO_END[name]}")
    for name, (value, unit) in res.named.items():
        print(f"  {name:<34} {value:14.4f} {unit}")
    if res.latencies:
        n = len(res.latencies)
        tail = tail_percentile(n)
        note = f"p{tail:g}" if tail else "none, so latency_p90_ms rests on fewer than 10 samples beyond it"
        print(f"  latency samples n={n}; highest percentile with 10 samples beyond: {note}")
    out = res.outcomes
    print(f"  attempted {out.attempted} failed {out.failed}")
    for reason in out.reasons[:5]:
        print(f"  failure: {reason}")
    if spans:
        own, total = self_time_by_name(spans), total_by_name(spans)
        print("  span self time (s) / total (s) / count:")
        for name in sorted(total, key=lambda n: -own[n]):
            count = sum(1 for s in spans if s.name == name)
            print(f"    {name:<40} {own[name]:10.4f} {total[name]:10.4f} {count:6d}")


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing from {ROOT}: {', '.join(missing)}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    t0 = T0
    baseline = None
    if args.trace:
        baseline = untraced_metrics(args)
        t0 = time.perf_counter()

    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    try:
        env = run_env(workdir)
        os.environ.update(env)
        tempfile.tempdir = env["TMPDIR"]
        from perfbench.procs import PeakPss, stop_descendants
        from perfbench.trace import Recorder, dump

        rec = Recorder() if args.trace else None
        ctx = Context(args.seed, args.seconds, workdir, env, t0, rec)
        module = importlib.import_module(f"perfbench.{MODULES[args.workload]}")
        with PeakPss() as rss:
            res = module.run(ctx)
    finally:
        stop_descendants()
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass

    e2e = end_to_end(res, rss.peak_mb)
    spans = (rec.spans if rec else []) + res.spans
    report(args, res, e2e, spans)
    if args.trace:
        units = per_layer()
        metrics = {name: res.layers.get(name, 0.0) for name in units}
        metrics["trace.spans"] = float(len(spans))
        for name, value in e2e.items():
            metrics[f"trace.overhead_{name}"] = value - baseline[name] if baseline else 0.0
        if baseline is None:
            print("  untraced baseline run failed; overhead metrics are 0")
        for name, value in metrics.items():
            print(f"  {name:<40} {value:14.4f} {units[name]}")
        if args.spans_out:
            dump(spans, args.spans_out)
    else:
        metrics, units = e2e, END_TO_END
    out = res.outcomes
    # A run that attempted nothing reports one failed operation.
    attempted, failed = (out.attempted, out.failed) if out.attempted else (1, 1)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
