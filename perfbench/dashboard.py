"""``dashboard`` workload: TSBS devops queries over InfluxQL and PromQL
with a real-time trickle of writes, sent one at a time (closed loop, one
client) through the program's API layer, and the reference answers they
are checked against.

The reference answers are computed with NumPy over the generated points
alone; they share no code with the program.
"""

from __future__ import annotations

import math
import os
import time
from collections import defaultdict

import numpy as np

from gen import (
    FIELDS, OP_KINDS, SEC, T0_NS, TAGS, DashboardPlan, PointBlock, op_class,
)

MIN = 60 * SEC


# --------------------------------------------------------------------------
# requests
# --------------------------------------------------------------------------


def influxql(op: dict) -> str:
    k, end = op["kind"], op["end_ns"]
    if k == "single_groupby":
        return (f"SELECT max(usage_user) FROM cpu WHERE hostname = '{op['host']}'"
                f" AND time >= {end - 30 * MIN} AND time < {end} GROUP BY time(1m)")
    if k == "double_groupby":
        return (f"SELECT mean({op['field']}) FROM cpu WHERE time >= {end - 60 * MIN}"
                f" AND time < {end} GROUP BY time(10m), hostname")
    if k == "high_cpu":
        return (f"SELECT * FROM cpu WHERE usage_user > 90.0 AND time >= {end - 60 * MIN}"
                f" AND time < {end} AND hostname = '{op['host']}'")
    if k == "lastpoint":
        return "SELECT last(usage_user) FROM cpu GROUP BY hostname"
    if k == "groupby_orderby_limit":
        return (f"SELECT max(usage_user) FROM cpu WHERE time < {end}"
                " GROUP BY time(1m) ORDER BY time DESC LIMIT 5")
    raise ValueError(k)


def promql(op: dict) -> str:
    if op["kind"] == "prom_max_over_time":
        return f'max_over_time(cpu_usage_user{{hostname="{op["host"]}"}}[5m])'
    if op["kind"] == "prom_avg_by_region":
        return "avg by (region) (cpu_usage_system)"
    raise ValueError(op["kind"])


def registry(spark, root: str):
    """PromQL metrics ``cpu_<field>`` whose loaders read the store."""
    from pyspark.sql import functions as F

    from opengemini_spark import storage
    from opengemini_spark.promql import MetricRegistry
    from opengemini_spark.promql.engine import Metric

    reg = MetricRegistry()
    for f in ("usage_user", "usage_system"):
        def loader(s, _sf, _f=f):
            m = storage.read_measurement(s, f"{root}/cpu")
            return m.select(
                "hostname", "region", F.expr("time_ns div 1000").alias("tu"),
                F.col(_f).alias("value"),
            )
        reg.register(f"cpu_{f}", Metric(loader, labels=["hostname", "region"]))
    return reg


# --------------------------------------------------------------------------
# reference answers
# --------------------------------------------------------------------------


class Reference:
    """The generated points written so far, as flat NumPy arrays."""

    def __init__(self, plan: DashboardPlan):
        self.fleet = plan.fleet
        self.region = np.array([t["region"] for t in plan.fleet.tags])
        self._blocks: list[PointBlock] = []
        self._flat = None
        for b in plan.bulk:
            self.add(b)

    def add(self, block: PointBlock) -> None:
        self._blocks.append(block)
        self._flat = None

    def flat(self):
        if self._flat is None:
            t = np.concatenate([np.repeat(b.times(), b.n_hosts) for b in self._blocks])
            h = np.concatenate([np.tile(np.arange(b.n_hosts), b.n_ticks) for b in self._blocks])
            v = np.concatenate([b.values.reshape(b.n_points, len(FIELDS)) for b in self._blocks]) / 100
            self._flat = (t, h, v)
        return self._flat

    def influx(self, op: dict) -> dict:
        """→ {(name, tags): (columns, rows)} of the expected response."""
        t, h, v = self.flat()
        k = op["kind"]
        uu = v[:, FIELDS.index("usage_user")]
        host = int(op["host"].split("_")[1])
        end = op.get("end_ns")
        if k == "single_groupby":
            rows = []
            for b in range(end - 30 * MIN, end, MIN):
                sel = (h == host) & (t >= b) & (t < b + MIN)
                rows.append([b, float(uu[sel].max()) if sel.any() else None])
            return {("cpu", ()): (["time", "max"], rows)}
        if k == "double_groupby":
            fv = v[:, FIELDS.index(op["field"])]
            out = {}
            lo = end - 60 * MIN
            # buckets align to the epoch, not to the window start; the
            # first and last ones only hold the part inside the window
            first = lo - (lo - T0_NS) % (10 * MIN)
            for hh in np.unique(h[(t >= lo) & (t < end)]):
                rows = []
                for b in range(first, end, 10 * MIN):
                    sel = (h == hh) & (t >= max(b, lo)) & (t < min(b + 10 * MIN, end))
                    rows.append([b, float(fv[sel].mean()) if sel.any() else None])
                out[("cpu", (("hostname", f"host_{hh}"),))] = (["time", "mean"], rows)
            return out
        if k == "high_cpu":
            sel = (h == host) & (t >= end - 60 * MIN) & (t < end) & (uu > 90.0)
            if not sel.any():
                return {}
            cols = ["time"] + sorted(TAGS + FIELDS)
            tags = self.fleet.tags[host]
            rows = []
            for i in np.flatnonzero(sel)[np.argsort(t[sel], kind="stable")]:
                row = {"time": int(t[i]), **tags,
                       **{f: float(v[i, j]) for j, f in enumerate(FIELDS)}}
                rows.append([row[c] for c in cols])
            return {("cpu", ()): (cols, rows)}
        if k == "lastpoint":
            out = {}
            for hh in np.unique(h):
                idx = np.flatnonzero(h == hh)
                i = idx[np.argmax(t[idx])]
                out[("cpu", (("hostname", f"host_{hh}"),))] = (
                    ["time", "last"], [[int(t[i]), float(uu[i])]])
            return out
        if k == "groupby_orderby_limit":
            rows = []
            for n in range(1, 6):
                b = end - n * MIN
                sel = (t >= b) & (t < b + MIN)
                rows.append([b, float(uu[sel].max()) if sel.any() else None])
            return {("cpu", ()): (["time", "max"], rows)}
        raise ValueError(k)

    def prom(self, op: dict) -> dict:
        """→ {labels: [(t_s, value)]} of the expected matrix."""
        t, h, v = self.flat()
        ts = t // SEC
        steps = range(op["start_s"], op["end_s"] + 1, op["step_s"])
        out: dict = {}
        if op["kind"] == "prom_max_over_time":
            host = int(op["host"].split("_")[1])
            uu = v[:, FIELDS.index("usage_user")]
            mine = h == host
            pts = []
            for s in steps:
                sel = mine & (ts > s - 300) & (ts <= s)
                if sel.any():
                    pts.append((s, float(uu[sel].max())))
            key = (("hostname", f"host_{host}"), ("region", str(self.region[host])))
            if pts:
                out[key] = pts
            return out
        if op["kind"] == "prom_avg_by_region":
            us = v[:, FIELDS.index("usage_system")]
            for s in steps:
                # the newest sample of each host inside the 5 m lookback
                win = np.flatnonzero((ts > s - 300) & (ts <= s))
                latest: dict[int, tuple[int, float]] = {}
                for i in win[np.argsort(t[win], kind="stable")]:
                    latest[int(h[i])] = (int(t[i]), float(us[i]))
                per_region = defaultdict(list)
                for hh, (_, val) in latest.items():
                    per_region[str(self.region[hh])].append(val)
                for r, vals in per_region.items():
                    out.setdefault((("region", r),), []).append((s, sum(vals) / len(vals)))
            return out
        raise ValueError(op["kind"])


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def check_influx(resp: dict, want: dict) -> str | None:
    """None if ``resp`` carries exactly the expected series, else why not."""
    if "error" in resp:
        return f"error: {resp['error']}"
    res = resp.get("results") or [{}]
    if "error" in res[0]:
        return f"error: {res[0]['error']}"
    got = {}
    for s in res[0].get("series", []):
        key = (s.get("name"), tuple(sorted((s.get("tags") or {}).items())))
        got[key] = (s["columns"], s["values"])
    if set(got) != set(want):
        return f"series {sorted(got)[:3]} != {sorted(want)[:3]}"
    for key, (cols, rows) in want.items():
        gcols, grows = got[key]
        if sorted(gcols) != sorted(cols):
            return f"{key}: columns {gcols}"
        order = [gcols.index(c) for c in cols]
        if len(grows) != len(rows):
            return f"{key}: {len(grows)} rows, want {len(rows)}"
        for gr, wr in zip(grows, rows):
            if not all(_close(gr[i], w) for i, w in zip(order, wr)):
                return f"{key}: row {gr} != {wr}"
    return None


def check_prom(resp: dict, want: dict) -> str | None:
    if resp.get("status") != "success":
        return f"error: {resp.get('error')}"
    if resp["data"]["resultType"] != "matrix":
        return f"resultType {resp['data']['resultType']}"
    got = {}
    for s in resp["data"]["result"]:
        labels = tuple(sorted((k, v) for k, v in s["metric"].items() if k != "__name__"))
        got[labels] = [(int(round(float(ts))), float(val)) for ts, val in s["values"]]
    if set(got) != set(want):
        return f"series {sorted(got)[:3]} != {sorted(want)[:3]}"
    for key, pts in want.items():
        g = got[key]
        if len(g) != len(pts) or not all(
            a[0] == b[0] and _close(a[1], b[1]) for a, b in zip(g, pts)
        ):
            return f"{key}: {g[:3]} != {pts[:3]}"
    return None


def rows_emitted(kind: str, resp: dict) -> int:
    if op_class(kind) == "influxql":
        return sum(len(s["values"]) for r in resp.get("results", [])
                   for s in r.get("series", []))
    if op_class(kind) == "promql":
        return sum(len(s["values"]) for s in resp.get("data", {}).get("result", []))
    return 0


# --------------------------------------------------------------------------
# the workload
# --------------------------------------------------------------------------


def count_files(root: str) -> int:
    return sum(
        1 for _, _, files in os.walk(root) for f in files if f.endswith(".parquet")
    )


class Dashboard:
    """Runs one :class:`DashboardPlan` against a fresh data root."""

    ROUND = len(OP_KINDS)

    def __init__(self, spark, plan: DashboardPlan, data_root: str, tracer=None):
        self.spark = spark
        self.plan = plan
        self.root = data_root
        self.tracer = tracer
        self.reg = registry(spark, data_root)
        # one record per executed op: kind, timed?, latency, response,
        # number of trickle writes the store held when it ran
        self.records: list[dict] = []
        self._writes_done = 0
        # request bodies are rendered before timing starts
        self._lines = {
            i: op["block"].lines(plan.fleet)
            for i, op in enumerate(plan.ops) if op["kind"] == "write"
        }

    def bulk_load(self) -> None:
        from opengemini_spark import storage

        for block in self.plan.bulk:
            df = self.spark.createDataFrame(block.frame(self.plan.fleet))
            df._og_tag_cols = list(TAGS)
            storage.write_measurement(df, f"{self.root}/cpu")

    def _call(self, i: int, op: dict):
        from opengemini_spark import api

        cls = op_class(op["kind"])
        if cls == "write":
            return api.handle_write(
                self.spark, self._lines[i], self.root, now_ns=op["head_ns"] + SEC,
            )
        if cls == "influxql":
            return api.handle_query(
                self.spark, "", influxql(op), data_root=self.root,
                now_ns=op["head_ns"] + SEC,
            )
        return api.handle_prom_query_range(
            self.spark, "", self.reg, promql(op), op["start_s"], op["end_s"], op["step_s"],
        )

    def run_op(self, i: int, timed: bool) -> None:
        op = self.plan.ops[i]
        span = {"write": "api.handle_write", "influxql": "api.handle_query",
                "promql": "api.handle_prom_query_range"}[op_class(op["kind"])]
        rec = {"i": i, "kind": op["kind"], "timed": timed,
               "writes_before": self._writes_done, "resp": None, "error": None}
        t_wall = time.time()
        t0 = time.perf_counter()
        try:
            if self.tracer is None:
                rec["resp"] = self._call(i, op)
            else:
                self.tracer.op = i
                with self.tracer.span(f"op.{op['kind']}"), self.tracer.span(span):
                    rec["resp"] = self._call(i, op)
        except Exception as e:  # a failed request is counted, the run goes on
            rec["error"] = f"{type(e).__name__}: {e}"
        finally:
            rec["latency_ms"] = (time.perf_counter() - t0) * 1000.0
            rec["window"] = (t_wall, time.time())
            if self.tracer is not None:
                self.tracer.op = None
        if op["kind"] == "write":
            self._writes_done += 1
        self.records.append(rec)

    def warm_up(self) -> None:
        """Round 0, untimed: the first call of each request kind pays for
        starting Python workers and compiling its plans."""
        for i in range(self.ROUND):
            self.run_op(i, timed=False)

    def run(self, seconds: float) -> float:
        """Whole rounds until ``seconds`` have passed, so every run holds
        each request kind equally often.  → timed wall seconds."""
        n = len(self.plan.ops) // self.ROUND
        t0 = time.perf_counter()
        for r in range(1, n):
            for i in range(r * self.ROUND, (r + 1) * self.ROUND):
                self.run_op(i, timed=True)
            if time.perf_counter() - t0 >= seconds:
                break
        return time.perf_counter() - t0

    # ---------------------------------------------------------------- checks

    def check(self) -> tuple[int, list[str]]:
        """Check every answer (warm-up included) and read the store back.
        → (failed checks, one message per failure)."""
        ref = Reference(self.plan)
        writes = [op["block"] for op in self.plan.ops if op["kind"] == "write"]
        applied = 0
        bad = []
        for rec in self.records:
            while applied < rec["writes_before"]:
                ref.add(writes[applied])
                applied += 1
            op = self.plan.ops[rec["i"]]
            why = rec["error"]
            if why is None:
                cls = op_class(op["kind"])
                if cls == "write":
                    n = op["block"].n_points
                    if rec["resp"] != {"written": {"cpu": n}}:
                        why = f"write response {rec['resp']}"
                elif cls == "influxql":
                    why = check_influx(rec["resp"], ref.influx(op))
                else:
                    why = check_prom(rec["resp"], ref.prom(op))
            rec["ok"] = why is None
            if why is not None:
                bad.append(f"op {rec['i']} {op['kind']}: {why}")
        while applied < self._writes_done:
            ref.add(writes[applied])
            applied += 1
        why = self.read_back(ref)
        if why:
            bad.append(f"read-back: {why}")
        return len(bad), bad

    def read_back(self, ref: Reference) -> str | None:
        """Point count and per-host, per-field sums of the whole store."""
        from pyspark.sql import functions as F

        from opengemini_spark import storage

        df = storage.read_measurement(self.spark, f"{self.root}/cpu")
        got = {
            r["hostname"]: r
            for r in df.groupBy("hostname").agg(
                F.count(F.lit(1)).alias("n"), *[F.sum(f).alias(f) for f in FIELDS]
            ).collect()
        }
        t, h, v = ref.flat()
        if sum(r["n"] for r in got.values()) != len(t):
            return f"{sum(r['n'] for r in got.values())} points, want {len(t)}"
        for hh in range(self.plan.fleet.n_hosts):
            row = got.get(f"host_{hh}")
            sel = h == hh
            if row is None or row["n"] != int(sel.sum()):
                return f"host_{hh}: point count"
            for j, f in enumerate(FIELDS):
                if not math.isclose(row[f], float(v[sel, j].sum()), rel_tol=1e-9):
                    return f"host_{hh}.{f}: sum {row[f]}"
        return None


# --------------------------------------------------------------------------
# traced mode
# --------------------------------------------------------------------------


def install_spans(tracer) -> None:
    """Wrap each layer at the name its callers look up."""
    from opengemini_spark import api, promql, storage
    from opengemini_spark.influxql.planner import Planner
    from opengemini_spark.promql import parser as prom_parser, shape as prom_shape

    def files_before(args, kwargs):
        return count_files(args[1])

    def files_written(before, args, kwargs):
        tracer.count("storage.files_per_write", count_files(args[1]) - before)

    tracer.wrap(api, "parse", "influxql.parse")
    tracer.wrap(api, "to_influx_json", "influxql.shape")
    tracer.wrap(api, "parse_line_protocol", "line_protocol.parse")
    tracer.wrap(api, "to_measurement_table", "line_protocol.pivot")
    tracer.wrap(Planner, "plan", "influxql.plan")
    tracer.wrap(storage, "write_measurement", "storage.write",
                before=files_before, after=files_written)
    tracer.wrap(storage, "read_measurement", "storage.read",
                before=lambda a, k: tracer.count("storage.files_per_read", count_files(a[1])))
    tracer.wrap(promql, "query_range", "promql.engine")
    tracer.wrap(prom_parser, "parse_promql", "promql.parse")
    tracer.wrap(prom_shape, "to_prom_matrix", "promql.shape")


#: per-layer metric → (span name, "self" or "total", op class it is per)
LAYER_SPANS = {
    "api.write.self_ms": ("api.handle_write", "self", "write"),
    "api.query.self_ms": ("api.handle_query", "self", "influxql"),
    "api.prom.self_ms": ("api.handle_prom_query_range", "self", "promql"),
    "line_protocol.parse_ms": ("line_protocol.parse", "total", "write"),
    "line_protocol.pivot_ms": ("line_protocol.pivot", "total", "write"),
    "storage.write_ms": ("storage.write", "total", "write"),
    "storage.read_ms": ("storage.read", "total", "query"),
    "influxql.parse_ms": ("influxql.parse", "total", "influxql"),
    "influxql.plan_ms": ("influxql.plan", "self", "influxql"),
    "influxql.shape_ms": ("influxql.shape", "total", "influxql"),
    "promql.parse_ms": ("promql.parse", "total", "promql"),
    "promql.engine_ms": ("promql.engine", "self", "promql"),
    "promql.shape_ms": ("promql.shape", "total", "promql"),
}
