"""Dashboard server with spans: the traced run's stand-in for the
server CLI. Wraps the serving layers' public functions, runs the
server's own `main()`, and on SIGTERM writes the spans and per-render
Spark job counts to a JSON file before exiting.

Usage: python perfbench/dash_traced.py <data_dir> <port> <spans.json>
"""

from __future__ import annotations

import itertools
import json
import signal
import sys

from perfbench.trace import Recorder, dump, spark_work


def install(rec: Recorder, render_jobs: list) -> None:
    from pyspark import SparkContext

    from marketviz_spark.pipelines import (
        charts,
        dashboard_server,
        export,
        presentation,
        report_html,  # noqa: F401 — binds presentation helpers by name
    )

    for fn in ("index_chart_spec", "market_cap_pie_spec"):
        rec.wrap_everywhere(charts, fn, "charts.spec")
    for fn in ("presentation_frame", "presentation_pandas"):
        rec.wrap_everywhere(presentation, fn, "presentation.collect")
    for fn in ("export_xlsx", "export_pdf"):
        rec.wrap_everywhere(export, fn, "export.export")

    render = dashboard_server.render_dashboard_page
    renders = itertools.count()

    def traced_render(*args, **kwargs):
        sc = SparkContext._active_spark_context
        group = f"render-{next(renders)}"
        sc.setJobGroup(group, "dashboard render", False)
        try:
            with rec.span("dashboard_server.render"):
                return render(*args, **kwargs)
        finally:
            jobs, tasks = spark_work(sc, group)
            render_jobs.append((rec.context(), jobs, tasks))
            sc.setLocalProperty("spark.jobGroup.id", None)

    dashboard_server.render_dashboard_page = traced_render

    handler = dashboard_server.DashboardHandler
    do_get = handler.do_GET

    def traced_get(self):
        rec.set_context(self.headers.get("X-Request-Id"))
        with rec.span("dashboard_server.request"):
            return do_get(self)

    handler.do_GET = traced_get


def main() -> None:
    data_dir, port, spans_path = sys.argv[1:4]
    rec = Recorder()
    render_jobs: list = []
    install(rec, render_jobs)

    def stop(signum, frame):
        raise SystemExit(0)

    signal.signal(signal.SIGTERM, stop)
    from marketviz_spark.pipelines import dashboard_server

    sys.argv = [sys.argv[0], data_dir, port]
    try:
        dashboard_server.main()
    finally:
        dump(rec.spans, spans_path)
        with open(spans_path + ".jobs", "w") as fh:
            json.dump(render_jobs, fh)


if __name__ == "__main__":
    main()
