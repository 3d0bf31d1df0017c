"""Self-tests of the benchmark harness (no Spark session needed):

    python3 -m pytest perfbench/test_harness.py -q
"""

from __future__ import annotations

import json
import os
import sys
import time
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import harness  # noqa: E402
import trace  # noqa: E402

EVENT_LOG = os.path.join(HERE, "testdata", "eventlog_small.json")


# ---- tail percentile rule ------------------------------------------------


def test_tail_rank_keeps_ten_samples_beyond():
    assert harness.tail_rank(40) == 30  # p75: samples 31..40 lie beyond
    assert harness.tail_rank(100) == 90  # p90
    assert harness.tail_rank(11) == 1
    assert harness.tail_rank(10) == 10  # too few samples: the maximum
    assert harness.tail_rank(1) == 1


def test_tail_value_is_order_free():
    values = [float(v) for v in range(40, 0, -1)]
    assert harness.tail(values) == 30.0
    assert harness.tail([3.0, 1.0, 2.0]) == 3.0


# ---- event-log parser ------------------------------------------------------


def test_event_log_jobs_groups_and_task_totals():
    log = trace.parse_event_log(EVENT_LOG)
    groups = {j["group"] for j in log["jobs"].values()}
    assert {"pb0", "pb1"} <= groups
    pb0 = [j for j in log["jobs"].values() if j["group"] == "pb0"]
    assert sum(j["totals"]["tasks"] for j in pb0) > 0
    assert sum(j["totals"]["run_s"] for j in pb0) > 0
    assert sum(j["totals"]["shuffle_write_bytes"] for j in pb0) > 0
    assert all(j["totals"]["tasks_failed"] == 0 for j in log["jobs"].values())
    assert all(j["exec_id"] is not None for j in log["jobs"].values())


def test_event_log_python_node_rows_in():
    log = trace.parse_event_log(EVENT_LOG)
    pb1 = [j for j in log["jobs"].values() if j["group"] == "pb1"]
    plan = log["plans"][pb1[0]["exec_id"]]
    nodes = list(trace._walk(plan))
    py = [n for n in nodes if n["nodeName"] == "MapInPandas"]
    assert py, "the captured log has a MapInPandas node"
    # rows into the Python node = rows out of the first counting descendant
    child = next(n for c in py[0]["children"] for n in trace._walk(c) if trace._rows_metric(n))
    values = {trace._rows_metric(child): 1000}
    assert trace.python_rows_in(plan, values) == 1000
    assert trace.python_rows_in(plan, {}) == 0


def test_attribute_counts_jobs_in_span_and_ancestors():
    t = trace.Tracer(spark=None, enabled=True)
    with t.span("job"):
        with t.span("child"):
            pass
    t.alias("stream-run-id", 1)
    totals = {f: 1 for f in trace.TASK_FIELDS}
    jobs = {
        0: {"group": "pb1", "exec_id": 7, "totals": totals},
        1: {"group": "stream-run-id", "exec_id": None, "totals": totals},
        2: {"group": None, "exec_id": None, "totals": totals},
    }
    out = trace.attribute(t, jobs)
    assert out[1]["jobs"] == 2 and out[0]["jobs"] == 2
    assert out[0]["tasks"] == 2 and out[0]["exec_ids"] == {7}


def test_self_time_subtracts_child_cover():
    t = trace.Tracer(spark=None, enabled=True)
    t.spans = [
        {"id": 0, "name": "p", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b", "parent": 0, "start": 3.0, "end": 5.0},  # overlaps a
        {"id": 3, "name": "c", "parent": 0, "start": 8.0, "end": 9.0},
    ]
    assert trace.self_time(t, 0) == pytest.approx(10.0 - 4.0 - 1.0)


# ---- generator determinism -------------------------------------------------


@pytest.mark.parametrize("kind,params", [("elt", {}), ("corpus", {}), ("cdc", {"live_files": 3})])
def test_generator_same_seed_same_bytes(tmp_path, kind, params):
    a, pa_ = gen.ensure(str(tmp_path / "a"), kind, 5, **params)
    b, pb_ = gen.ensure(str(tmp_path / "b"), kind, 5, **params)
    c, pc_ = gen.ensure(str(tmp_path / "c"), kind, 6, **params)
    assert pa_ == pb_
    assert gen.fingerprint(a) == gen.fingerprint(b) == pa_["fingerprint"]
    for root, _, files in os.walk(a):
        for fn in files:
            p = os.path.join(root, fn)
            with open(p, "rb") as f1, open(os.path.join(b, os.path.relpath(p, a)), "rb") as f2:
                assert f1.read() == f2.read(), p
    assert pc_["fingerprint"] != pa_["fingerprint"]


def test_cdc_log_ts_strictly_increasing_per_key(tmp_path):
    d, props = gen.ensure(str(tmp_path), "cdc", 3, live_files=5)
    last: dict[int, int] = {}
    ops = []
    for sub in ("backlog", "live"):
        for fn in sorted(os.listdir(os.path.join(d, sub))):
            with open(os.path.join(d, sub, fn)) as f:
                for line in f:
                    p = json.loads(json.loads(line)["raw_message"])["payload"]
                    key = p["after"]["event_id"]
                    assert p["ts_ms"] > last.get(key, -1)
                    last[key] = p["ts_ms"]
                    ops.append(p["op"])
    assert len(last) == gen.CDC_KEYS
    assert ops[: gen.CDC_KEYS] == ["c"] * gen.CDC_KEYS  # inserts first
    assert set(ops[gen.CDC_KEYS:]) == {"u"}
    assert props["hot_update_share"] > 0.7


# ---- failed_frac accounting ------------------------------------------------


def test_failed_frac_counts_raise_and_wrong_result():
    right = ((10, 123), (2, 45), 2)
    script = iter([RuntimeError("forced"), ((10, 999), (2, 45), 2), right])

    class Scripted(harness.CorpusCuration):
        def job(self):
            time.sleep(0.2)
            step = next(script)
            if isinstance(step, Exception):
                raise step
            return step

        def expected(self):
            return right

    r = harness.Run()
    spark = SimpleNamespace(catalog=SimpleNamespace(clearCache=lambda: None))
    w = Scripted(r, spark, trace.Tracer(), "", {"rows": 10}, "")
    w.measure(0.5)  # jobs start at 0, 0.2, 0.4 s
    w.check()
    assert (r.attempted, r.failed) == (3, 2)
    assert r.failed_frac == pytest.approx(2 / 3)
    assert len(r.errors) == 2


# ---- BENCHMARK.json agrees with the harness ---------------------------------


def test_benchmark_json_lists_the_harness_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        b = json.load(f)
    assert [m["name"] for m in b["end_to_end"]] == list(harness.E2E)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == harness.E2E_UNITS
    assert [(m["name"], m["unit"]) for m in b["per_layer"]] == harness.PER_LAYER
    assert [w["name"] for w in b["workloads"]] == list(harness.WORKLOADS)
