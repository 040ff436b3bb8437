"""Tests of the benchmark itself (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import dashboard  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


# ---------------------------------------------------------------- generators


def test_dashboard_plan_is_deterministic_per_seed():
    a = gen.dashboard_plan(5, n_hosts=10, bulk_batches=2, batch_minutes=70, rounds=3)
    b = gen.dashboard_plan(5, n_hosts=10, bulk_batches=2, batch_minutes=70, rounds=3)
    c = gen.dashboard_plan(6, n_hosts=10, bulk_batches=2, batch_minutes=70, rounds=3)
    assert a.digest() == b.digest() != c.digest()
    la = [op["block"].lines(a.fleet) for op in a.ops if op["kind"] == "write"]
    lb = [op["block"].lines(b.fleet) for op in b.ops if op["kind"] == "write"]
    assert la == lb and la
    assert a.bulk[0].frame(a.fleet).equals(b.bulk[0].frame(b.fleet))


def test_dashboard_rounds_hold_every_kind_once():
    p = gen.dashboard_plan(1, n_hosts=5, bulk_batches=2, batch_minutes=70, rounds=4)
    n = len(gen.OP_KINDS)
    for r in range(4):
        assert sorted(op["kind"] for op in p.ops[r * n:(r + 1) * n]) == sorted(gen.OP_KINDS)


def test_corpus_is_deterministic_per_seed():
    a, b, c = gen.corpus(3, 600), gen.corpus(3, 600), gen.corpus(4, 600)
    assert a.digest() == b.digest() != c.digest()
    assert len(a.rows) == 600 and a.exact_clusters and a.near_clusters
    for cl in a.exact_clusters:
        assert len({a.rows[d][1] for d in cl}) == 1
        assert all(a.rows[d][2] in ("en", "de") for d in cl)


def test_line_protocol_carries_the_generated_values():
    fleet = gen.CpuFleet(2, n_hosts=3)
    block = gen.PointBlock(gen.T0_NS, fleet.ticks(2))
    lines = block.lines(fleet)
    assert len(lines) == block.n_points == 6
    head, body, ts = lines[4].split(" ")
    assert head.startswith("cpu,hostname=host_1,")
    assert int(ts) == gen.T0_NS + gen.TICK_NS
    vals = dict(kv.split("=") for kv in body.split(","))
    assert float(vals["usage_idle"]) == block.values[1, 1, gen.FIELDS.index("usage_idle")] / 100


# ---------------------------------------------------------------- statistics


@pytest.mark.parametrize("n", [0, 1, 9, 10, 11, 19, 20, 21, 39, 40, 41, 99, 100, 101, 999, 1000, 1001, 20_000])
def test_tail_leaves_ten_samples_beyond(n):
    values = [float((i * 7919) % (n + 3)) for i in range(n)]  # with ties
    t = stats.tail(values)
    assert t["n"] == n
    if t["value"] is None:
        # no ladder percentile leaves 10 samples above it
        assert n < 20 or sum(x > stats.percentile(values, 50) for x in values) < 10
        return
    assert sum(x > t["value"] for x in values) >= stats.TAIL_MIN_BEYOND
    higher = [p for p in stats.TAIL_LADDER if p > t["percentile"]]
    if higher:
        v = stats.percentile(values, higher[0])
        assert sum(x > v for x in values) < stats.TAIL_MIN_BEYOND


def test_tail_picks_the_highest_qualifying_percentile():
    values = [float(i) for i in range(1000)]
    assert stats.tail(values)["percentile"] == 99.0
    assert stats.tail(values[:100])["percentile"] == 90.0
    assert stats.tail(values[:20])["percentile"] == 50.0


# ---------------------------------------------------------------- spans


def test_self_time_of_nested_spans():
    s = [
        {"name": "a", "start": 0.0, "end": 10.0, "parent": None, "op": 1},
        {"name": "b", "start": 1.0, "end": 4.0, "parent": 0, "op": 1},
        {"name": "c", "start": 2.0, "end": 3.0, "parent": 1, "op": 1},
        {"name": "d", "start": 3.0, "end": 6.0, "parent": 0, "op": 1},
        {"name": "e", "start": 9.0, "end": 12.0, "parent": 0, "op": 1},  # overruns its parent
    ]
    assert spans.self_times(s) == pytest.approx([10 - (6 - 1) - 1, 2, 1, 3, 3])


def test_tracer_records_parents_of_wrapped_calls(monkeypatch):
    clock = iter(range(100))
    monkeypatch.setattr(spans.time, "time", lambda: float(next(clock)))

    class Mod:
        @staticmethod
        def f(x):
            return x + 1

    t = spans.Tracer()
    t.wrap(Mod, "f", "layer.f", after=lambda st, a, k: t.count("layer.calls", 1))
    t.op = 7
    with t.span("outer"):
        assert Mod.f(1) == 2
    outer, inner = t.spans
    assert inner["parent"] == 0 and inner["op"] == 7 and inner["name"] == "layer.f"
    assert t.counters["layer.calls"] == [(7, 1)]
    assert spans.self_times(t.spans) == [3.0 - 1.0, 1.0]


def test_spark_counters_attribute_jobs_to_windows():
    jobs = [
        {"submit": 1.0, "end": 2.0, "tasks": 4, "run_ms": 10.0},
        {"submit": 1.5, "end": 3.0, "tasks": 2, "run_ms": 5.0},
        {"submit": 5.0, "end": 6.0, "tasks": 1, "run_ms": 1.0},
    ]
    a, b = spans.attribute(jobs, [(0.5, 3.5), (4.0, 7.0)])
    assert a["jobs"] == 2 and a["tasks"] == 6 and a["run_ms"] == 15.0
    assert a["driver_ms"] == pytest.approx((3.5 - 0.5) * 1000 - 2000)
    assert b["jobs"] == 1 and b["driver_ms"] == pytest.approx(2000)


# ---------------------------------------------------------------- checks


def _as_response(want: dict) -> dict:
    series = []
    for (name, tags), (cols, rows) in want.items():
        s = {"name": name, "columns": cols, "values": [list(r) for r in rows]}
        if tags:
            s["tags"] = dict(tags)
        series.append(s)
    return {"results": [{"statement_id": 0, "series": series}]}


def test_answer_checks_reject_a_wrong_value():
    plan = gen.dashboard_plan(9, n_hosts=6, bulk_batches=2, batch_minutes=70, rounds=2)
    ref = dashboard.Reference(plan)
    for op in plan.ops:
        if op["kind"] == "write":
            ref.add(op["block"])
        elif gen.op_class(op["kind"]) == "influxql":
            want = ref.influx(op)
            resp = _as_response(want)
            assert dashboard.check_influx(resp, want) is None
            if want:
                series = resp["results"][0]["series"][0]
                row = series["values"][0]
                row[-1] = row[-1] + 0.5
                assert dashboard.check_influx(resp, want) is not None
        elif gen.op_class(op["kind"]) == "promql":
            want = ref.prom(op)
            assert want
            resp = {"status": "success", "data": {"resultType": "matrix", "result": [
                {"metric": dict(k), "values": [[float(t), repr(v)] for t, v in pts]}
                for k, pts in want.items()]}}
            assert dashboard.check_prom(resp, want) is None
            resp["data"]["result"][0]["values"].pop()
            assert dashboard.check_prom(resp, want) is not None


def test_recent_queries_see_trickle_writes():
    plan = gen.dashboard_plan(4, n_hosts=4, bulk_batches=2, batch_minutes=70, rounds=6)
    ref = dashboard.Reference(plan)
    for op in plan.ops:
        if op["kind"] == "write":
            ref.add(op["block"])
        elif op["kind"] == "lastpoint":
            want = ref.influx(op)
            assert {rows[0][0] for _, rows in want.values()} == {op["head_ns"]}


# ---------------------------------------------------------------- BENCHMARK.json


def _bench() -> dict:
    raw = (ROOT / "BENCHMARK.json").read_bytes()
    assert len(raw) <= 64 * 1024
    return json.loads(raw)


def test_benchmark_json_is_well_formed():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= len(b["command"]) <= 32 and all(isinstance(c, str) and len(c) <= 200 for c in b["command"])
    for arg in b["command"][1:]:
        assert not arg.startswith("/") and ".." not in arg.split("/")
        if "/" in arg:
            assert any(arg.startswith(p + "/") for p in b["paths"])
    assert 1 <= len(b["paths"]) <= 16
    for p in b["paths"]:
        assert re.fullmatch(r"[A-Za-z0-9_./-]{1,200}", p) and (ROOT / p).is_dir()
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    assert 2 <= len(b["workloads"]) <= 8
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and "\n" not in w["why"] and len(w["why"]) <= 200
    assert [w["name"] for w in b["workloads"]] == list(run.WORKLOADS)
    assert 1 <= len(b["end_to_end"]) <= 16 and 1 <= len(b["per_layer"]) <= 128
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in b["end_to_end"] + b["per_layer"]:
        assert m["better"] in ("lower", "higher") and UNIT.fullmatch(m["unit"])
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in b["end_to_end"])}]
    names = [x["name"] for x in b["workloads"] + b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))


def test_metric_names_use_the_allowed_characters():
    b = _bench()
    names = [x["name"] for x in b["workloads"] + b["end_to_end"] + b["per_layer"]]
    names += list(dashboard.LAYER_SPANS)
    import curation

    names += list(curation.LAYER_SPANS)
    names += [f"spark.{k}.{c}" for k in spans.SPARK_COUNTERS
              for c in ("write", "influxql", "promql", "curate")]
    for n in names:
        assert NAME.fullmatch(n), n
