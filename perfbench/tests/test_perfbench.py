"""Tests of the benchmark's own logic; none of them starts Spark.

Run: python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import socket

import pytest

from perfbench import dashboard, datagen, etl, query_mix, run, stats, trace


# -- the percentile rule ------------------------------------------------

@pytest.mark.parametrize(
    "n, expected",
    [(0, None), (10, None), (99, None), (100, 90.0), (999, 90.0),
     (1000, 99.0), (9999, 99.0), (10000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, expected):
    assert stats.tail_percentile(n) == expected


def test_percentile_interpolates():
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 50.0) == 2.5
    assert stats.percentile([5.0], 90.0) == 5.0
    with pytest.raises(ValueError):
        stats.percentile([], 50.0)


# -- self time ------------------------------------------------------------

def _span(i, name, start, end, parent=None):
    return trace.Span(i, name, start, end, parent, None)


def test_self_time_subtracts_overlapping_children_once():
    spans = [
        _span(1, "root", 0.0, 10.0),
        _span(2, "a", 1.0, 4.0, 1),
        _span(3, "b", 3.0, 6.0, 1),  # overlaps a on [3, 4]
        _span(4, "c", 8.0, 12.0, 1),  # runs past its parent's end
        _span(5, "d", 2.0, 3.0, 2),  # grandchild: only a's time
    ]
    own = trace.self_times(spans)
    assert own[1] == pytest.approx(10.0 - 5.0 - 2.0)
    assert own[2] == pytest.approx(3.0 - 1.0)
    assert own[3] == pytest.approx(3.0)
    assert own[5] == pytest.approx(1.0)
    assert trace.self_time_by_name(spans)["root"] == pytest.approx(3.0)


def test_recorder_links_parents_and_contexts(tmp_path):
    rec = trace.Recorder()
    rec.set_context("req-7")
    with rec.span("outer") as outer:
        with rec.span("inner"):
            pass
    inner, outer_span = rec.spans
    assert inner.parent == outer.id and outer_span.parent is None
    assert {s.ctx for s in rec.spans} == {"req-7"}
    path = tmp_path / "spans.json"
    trace.dump(rec.spans, str(path))
    assert [s.name for s in trace.load(str(path))] == ["inner", "outer"]


def test_rebind_replaces_every_binding():
    import types

    mod = types.ModuleType("perfbench_fake_module")

    def original():
        return 1

    mod.f = original
    mod.alias = original
    trace.rebind(mod, "f", lambda: 2)
    assert mod.f() == 2 and mod.alias() == 2


# -- metric names ---------------------------------------------------------

def test_metric_names_are_valid_and_match_benchmark_json():
    for name in list(run.END_TO_END) + list(run.per_layer()):
        assert stats.valid_metric_name(name), name
    for bad in ("", "_lead", "has space", "a" * 65, "slash/name", "ünits"):
        assert not stats.valid_metric_name(bad)
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(run.per_layer().items())
    assert {w["name"] for w in spec["workloads"]} == set(run.MODULES)


# -- seeded generators ------------------------------------------------------

def test_request_stream_depends_only_on_seed():
    assert dashboard.request_stream(3, 500) == dashboard.request_stream(3, 500)
    assert dashboard.request_stream(3, 500) != dashboard.request_stream(4, 500)
    stream = dashboard.request_stream(3, 500)
    assert stream[dashboard.EXPORT_OFFSET] == "/export.xlsx"
    assert sum(p.startswith("/export") for p in stream) == 20
    assert stream.count("/") > stream.count(stream[1]) or stream[1] == "/"


def test_query_order_depends_only_on_seed():
    assert query_mix.pass_order(5, 2) == query_mix.pass_order(5, 2)
    assert sorted(query_mix.pass_order(5, 2)) == sorted(query_mix.QUERY_NAMES)
    assert query_mix.pass_order(5, 2) != query_mix.pass_order(6, 2)


def test_etl_inputs_depend_only_on_seed():
    a, b = etl.Plan(9, n_tickers=500), etl.Plan(9, n_tickers=500)
    assert a.failing == b.failing and len(a.failing) == 5
    assert (a.prices()[0] == b.prices()[0]).all()
    ta, touched = etl.refresh_batch(a, 3)
    assert ta.equals(etl.refresh_batch(b, 3)[0])
    assert ta.num_rows == 2 * (500 - 5) and len(set(touched)) == 2
    assert etl.Plan(10, n_tickers=500).failing != a.failing
    # every split falls before the days a refresh restates or adds
    assert a.split_day.max() < a.n_days // 2


def test_seeded_history_raises_for_failing_tickers():
    plan = etl.Plan(2, n_tickers=300)
    src = etl.SeededHistory(plan)
    bad = etl.ticker_name(min(plan.failing))
    with pytest.raises(ValueError):
        src.fetch(bad)
    good = src.fetch(etl.ticker_name(int(plan.good()[0])))
    assert len(good) == plan.n_days


def test_expected_index_is_topk_by_market_cap():
    plan = etl.Plan(4, n_tickers=30, n_days=4)
    idx = etl.expected_index(plan, 2)
    assert len(idx) == plan.n_days + 2
    assert all(len(c.split(",")) == etl.INDEX_K for c in idx["composition"])


def test_datagen_is_deterministic(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    datagen.generate(str(a), 0.001, 1)
    datagen.generate(str(b), 0.001, 1)
    for name in datagen.TABLES:
        assert (a / f"{name}.parquet").read_bytes() == (b / f"{name}.parquet").read_bytes()


# -- fail-ratio counting ------------------------------------------------------

def test_outcomes_count_failures_against_attempts():
    out = stats.Outcomes()
    out.ok()
    out.ok()
    out.fail("boom")
    assert (out.attempted, out.failed) == (3, 1)
    assert out.fail_ratio == pytest.approx(1 / 3)
    assert stats.Outcomes().fail_ratio == 1.0  # nothing attempted is not a success


def _closed_port() -> int:
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    return port


def test_refused_connections_count_as_failed(tmp_path):
    port = _closed_port()
    replies = dashboard.closed_loop("127.0.0.1", port, ["/"] * 5, seconds=5.0)
    assert len(replies) == 5 and all(r.status is None for r in replies)
    bad = dashboard.check_replies(replies, str(tmp_path))
    assert set(bad) == {r.rid for r in replies}
    assert all("Refused" in reason for reason in bad.values())


def test_page_checks_catch_broken_and_differing_bodies(tmp_path):
    good = b"<svg></svg><svg></svg><h2>Index Composition</h2>"
    replies = [
        dashboard.Reply(0, "/?k=1", 0.1, 200, digest="x", body=good),
        dashboard.Reply(1, "/?k=1", 0.1, 200, digest="y"),
        dashboard.Reply(2, "/?k=2", 0.1, 200, digest="z", body=b"<svg>"),
        dashboard.Reply(3, "/export.pdf", 0.1, 200, body=b"not a pdf"),
        dashboard.Reply(4, "/export.xlsx", 0.1, 200, body=b"not a zip"),
        dashboard.Reply(5, "/?k=3", 0.1, 500),
    ]
    assert set(dashboard.check_replies(replies, str(tmp_path))) == {1, 2, 3, 4, 5}
