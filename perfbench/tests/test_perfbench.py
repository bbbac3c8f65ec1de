"""Tests of the benchmark itself: generator determinism, the event-log
reader on a canned log, metric names, and BENCHMARK.json agreeing with
what ``run.py`` prints.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import protocol, run  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402
from perfbench.tracing import (  # noqa: E402
    EventLog,
    Span,
    closes,
    residual_s,
    self_time,
    span_parts,
    union_length,
)

CANNED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "canned_eventlog.json")
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[1]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    yield s
    s.stop()


def _rows(df):
    return [tuple(r) for r in df.orderBy("doc_id").collect()]


def test_pages_deterministic_per_seed_and_different_across_seeds(spark):
    from perfbench.inputs import pages

    a = _rows(pages(spark, 3, 300, dup_share=0.2))
    b = _rows(pages(spark, 3, 300, dup_share=0.2))
    c = _rows(pages(spark, 4, 300, dup_share=0.2))
    assert a == b
    assert a != c
    assert len({r[4] for r in a}) == 300  # no two pages share a text


def test_planted_pairs_are_near_duplicates(spark):
    from perfbench.inputs import pages, planted_pairs

    pairs = [tuple(r) for r in planted_pairs(spark, 5, 400, 0.3).collect()]
    assert pairs and all(b == a + 1 and b % 2 == 1 for a, b in pairs)
    text = dict(
        (r["doc_id"], r["text"])
        for r in pages(spark, 5, 400, dup_share=0.3).select("doc_id", "text").collect()
    )
    for a, b in pairs:
        wa, wb = text[a].split(), text[b].split()
        assert wb[: len(wa)] == wa and len(wb) == len(wa) + 1
    others = [i for i in range(1, 400, 2) if (i - 1, i) not in set(pairs)]
    assert sum(text[i].split()[2:5] == text[i - 1].split()[2:5] for i in others) == 0


def test_polygons_seeded():
    from perfbench.inputs import polygons

    assert polygons(1).equals(polygons(1))
    assert not polygons(1).equals(polygons(2))


def test_event_log_group_stats():
    log = EventLog(CANNED)
    g = log.group_stats({"perfbench-r-1"})
    assert (g.n_jobs, g.n_stages, g.n_tasks, g.failed_tasks) == (1, 2, 3, 0)
    assert union_length(g.stage_intervals) == pytest.approx(2.5)
    assert g.task_ms == 3200
    assert g.cpu_s == pytest.approx(1.3)
    assert g.gc_s == pytest.approx(0.03)
    assert (g.shuffle_write_bytes, g.shuffle_read_bytes) == (1200, 1200)
    assert g.task_skew == pytest.approx(1800 / 1400)
    assert 99 not in g.accums  # task-internal accumulators are not plan metrics


def test_event_log_sql_metrics():
    log = EventLog(CANNED)
    g = log.group_stats({"perfbench-r-1"})
    by_udf = log.python_ms_by_udf(g)
    assert sorted(by_udf.values()) == [500, 1500]
    refine = lambda n: "refine(" in n.desc  # noqa: E731
    assert log.input_rows(g, refine) == 100
    assert log.node_metric(g, "number of output rows", refine) == 40
    assert log.node_metric(g, "data sent to Python workers") == 4096
    assert log.unattributed_stage_s({"perfbench-r-1"}, [(1000.0, 1004.0)]) == pytest.approx(0.2)
    assert log.unattributed_stage_s({"perfbench-r-1"}, [(1000.0, 1001.0)]) == 0.0


def test_span_parts():
    log = EventLog(CANNED)
    g = log.group_stats({"perfbench-r-1"})
    span = Span(0, "operators.materialize", None, "r", 1000.0, 1003.0, "perfbench-r-1")
    parts, clamped = span_parts(span, 3.0, g, log, 2, {"refine": "geom", "_enc": "cells"})
    assert parts["session.driver"] == pytest.approx(0.5)
    assert parts["operators.jvm"] == pytest.approx(0.65)
    assert parts["geom.python"] == pytest.approx(0.7125)
    assert parts["cells.python"] == pytest.approx(0.2375)
    assert parts["session.idle"] == pytest.approx(0.9)
    assert sum(parts.values()) == pytest.approx(3.0) and clamped == 0.0


def test_closes_bounds_remainders_and_clamps():
    log = EventLog(CANNED)
    g = log.group_stats({"perfbench-r-1"})
    span = Span(0, "operators.materialize", None, "r", 1000.0, 1003.0, "perfbench-r-1")
    parts, clamped = span_parts(span, 3.0, g, log, 2, {})
    # 0.9 s of idle slots is 30% of the wall: the parts sum to it, yet do not close
    assert residual_s(parts) == pytest.approx(0.9)
    assert not closes(parts, clamped, 3.0)
    # with 4 slots the idle share only grows; with the measured task time
    # beyond 1 x the stage union, the clamp reports the dropped seconds
    parts, clamped = span_parts(span, 3.0, g, log, 1, {})
    assert parts["session.idle"] == 0.0 and clamped == pytest.approx(0.7)
    # stages that outlast the span's self time
    parts, clamped = span_parts(span, 2.0, g, log, 2, {})
    assert parts["session.driver"] == 0.0 and clamped == pytest.approx(0.5)
    assert closes({"session.driver": 1.0, "geom.python": 8.5, "session.idle": 0.5}, 0.4, 10.0)
    assert not closes({"session.driver": 1.0, "geom.python": 8.5, "session.idle": 0.5}, 0.6, 10.0)


def test_self_time_subtracts_children():
    parent = Span(0, "session.job", None, "r", 0.0, 10.0)
    kids = [Span(1, "a.x", 0, "r", 1.0, 4.0), Span(2, "b.y", 0, "r", 3.0, 5.0)]
    assert self_time(parent, kids) == pytest.approx(6.0)


def test_metric_names_and_units_are_valid():
    for name, unit in {**run.END_TO_END, **run.PER_LAYER}.items():
        assert NAME_RE.match(name), name
        assert UNIT_RE.match(unit), unit
    for name in run.PER_LAYER:
        assert name.split(".")[0] in run.LAYERS + ("trace",), name


def test_benchmark_json_matches_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert per_layer == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    assert "setup_s" in e2e and all(m["bound"] <= 0.25 for m in bench["end_to_end"])


def test_per_layer_metrics_prints_every_per_layer_name():
    class Stats:
        def node_metric(self, metric, match=None):
            return 1.0

        def input_rows(self, match):
            return 2.0

        def span_max_join_rows(self, name):
            return 3.0

    class Wl:
        n_docs = 10
        cover_build_s = 0.1

        def counters(self, stats):
            return {"operators.cover_rows": 5}

    values = run.per_layer_metrics([], Stats(), Wl(), 4, {}, 1.0, [1.0, 1.2], [1.1], 0.01)
    assert set(values) == set(run.PER_LAYER) | set(run.TABLE_ONLY)


def test_records_with_other_core_count_are_not_compared():
    a = {"workload": "geo_tile", "protocol": {"nproc": 4, "k": 4, "pyspark": "4.1.2"}}
    assert protocol.comparable(a, dict(a))[0]
    for key, value in (("nproc", 32), ("k", 2), ("pyspark", "3.5.0")):
        b = {"workload": "geo_tile", "protocol": {**a["protocol"], key: value}}
        ok, why = protocol.comparable(a, b)
        assert not ok and key in why
    assert not protocol.comparable(a, {**a, "workload": "corpus_graph"})[0]


def test_run_refuses_without_the_package(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    assert run.main(["--workload", "geo_tile", "--seed", "1"]) == 2


def test_run_with_every_job_failed_still_prints_the_result_line(capsys):
    assert run.report_failure(["Traceback ...", "Traceback ..."], 3) == 1
    out = capsys.readouterr()
    result = json.loads(out.out.strip().splitlines()[-1])
    assert result == {"correct": False, "attempted": 3, "failed": 3, "metrics": {}}
    assert out.err.count("FAILED:") == 2
