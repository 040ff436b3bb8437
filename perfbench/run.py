"""Benchmark entry point.

    python3 perfbench/run.py --workload {dashboard,curate} --seed N \
        --seconds S --trace {0,1}

Run from the repository root.  Every workload runs in this one process
with one client that waits for each reply (closed loop); Spark gets
``local[nproc]``.  All inputs come from ``--seed``; scratch data lives in
``.perfbench/run-<pid>/`` and is removed at exit, and the last result and
(traced mode) the spans are kept under ``.perfbench/``.

The last line of standard output is the result: with ``--trace 0`` the
end-to-end metrics of ``BENCHMARK.json``, with ``--trace 1`` its
per-layer metrics.  The line before it is a fuller report: every metric
the workload defines, tail percentiles with their sample counts, input
digests, the correctness verdict and, in traced mode, the per-layer
numbers of every layer and the overhead against an untraced run of the
same workload and seed.
"""

from __future__ import annotations

import time

T_PROC0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".perfbench"
WORKLOADS = ("dashboard", "curate")

#: dashboard history: 2 bulk batches of 60 minutes of 100 hosts (72k points)
DASH_BULK_BATCHES = 2
DASH_BATCH_MINUTES = 60
#: curate corpus size in documents
CURATE_DOCS = 4_000


def _env(run_dir: Path) -> None:
    """Keep Spark, its Python workers and temp files inside the checkout."""
    cpus = str(len(os.sched_getaffinity(0)))
    for d in ("spark-local", "tmp", "warehouse"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # every JVM the launcher starts: temp files here, no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}"
    # Spark's Python workers import the program by module path
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = f"{ROOT}{os.pathsep}{pp}" if pp else str(ROOT)
    sys.path.insert(0, str(ROOT))


def _spark_conf(run_dir: Path) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # keep every job of a run in the status store (traced mode reads it)
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _stop_spark(spark) -> None:
    """Stop the session, the JVM and the JVM's Python workers, and wait
    until each has exited."""
    from pyspark import SparkContext

    from stats import descendants

    kids = descendants(os.getpid())
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = gw.proc
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while True:
        alive = [p for p in kids if _alive(p)]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, IndexError):
        return False


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------


def _ms_summary(prefix: str, values: list[float]) -> dict:
    from stats import median, tail

    t = tail(values)
    return {
        f"{prefix}_p50_ms": {"value": median(values), "unit": "ms", "n": len(values)},
        f"{prefix}_tail_ms": {"value": t["value"], "unit": "ms",
                              "percentile": t["percentile"], "n": t["n"]},
    }


def _peak_rss_mb() -> dict[str, float]:
    """High-water RSS of this driver process and of the gateway JVM."""
    from pyspark import SparkContext

    from stats import vm_hwm_mb

    return {"driver.peak_rss_mb": vm_hwm_mb(os.getpid()),
            "jvm.peak_rss_mb": vm_hwm_mb(SparkContext._gateway.proc.pid)}


def _dashboard(spark, args, data_root: str, tracer, res: dict) -> None:
    from dashboard import Dashboard, install_spans
    from gen import dashboard_plan, op_class

    plan = dashboard_plan(args.seed, bulk_batches=DASH_BULK_BATCHES,
                          batch_minutes=DASH_BATCH_MINUTES)
    res["input_digest"] = plan.digest()
    if tracer is not None:
        install_spans(tracer)
    d = Dashboard(spark, plan, data_root, tracer)
    t0 = time.perf_counter()
    d.bulk_load()
    t1 = time.perf_counter()
    d.warm_up()
    res["phases_s"] = {"load": t1 - t0, "warm_up": time.perf_counter() - t1}
    res["setup_s"] = time.perf_counter() - T_PROC0
    wall = d.run(args.seconds)
    res["rss"] = _peak_rss_mb()
    n_failed, bad = d.check()
    timed = [r for r in d.records if r["timed"]]
    by_cls: dict[str, list[float]] = {"write": [], "influxql": [], "promql": []}
    for r in timed:
        by_cls[op_class(r["kind"])].append(r["latency_ms"])
    m = {}
    m.update(_ms_summary("write", by_cls["write"]))
    m.update(_ms_summary("influxql", by_cls["influxql"]))
    m.update(_ms_summary("promql", by_cls["promql"]))
    m["queries_per_s"] = {"value": (len(by_cls["influxql"]) + len(by_cls["promql"])) / wall,
                          "unit": "queries/s"}
    res["op_latencies_ms"] = [[r["kind"], r["timed"], r["latency_ms"]] for r in d.records]
    res.update(
        ops=timed, wall=wall, metrics=m, problems=bad,
        attempted=len(d.records) + 1,
        failed=n_failed,
    )
    if tracer is not None:
        from dashboard import LAYER_SPANS
        res["layers"] = _dashboard_layers(spark, tracer, d, timed, LAYER_SPANS)


def _curate(spark, args, data_root: str, tracer, res: dict) -> None:
    from curation import Curation, install_spans
    from gen import corpus

    c = corpus(args.seed, CURATE_DOCS)
    res["input_digest"] = c.digest()
    if tracer is not None:
        install_spans(tracer)
    cur = Curation(spark, c, data_root, tracer)
    t0 = time.perf_counter()
    cur.store()
    t1 = time.perf_counter()
    cur.warm_up()
    res["phases_s"] = {"load": t1 - t0, "warm_up": time.perf_counter() - t1}
    res["setup_s"] = time.perf_counter() - T_PROC0
    wall = cur.run(args.seconds)
    res["rss"] = _peak_rss_mb()
    n_failed, bad = cur.check()
    timed = [p for p in cur.passes if p["timed"]]
    res["op_latencies_ms"] = [["curate", p["timed"], p["latency_ms"]] for p in cur.passes]
    from stats import median

    res.update(
        ops=timed, wall=wall, problems=bad,
        attempted=len(cur.passes) + 1, failed=n_failed,
        metrics={
            "docs_per_s": {
                "value": len(c.rows) / (median([p["latency_ms"] for p in timed]) / 1000.0),
                "unit": "docs/s", "n": len(timed),
            },
            "kept_docs": {"value": timed[0].get("n"), "unit": "docs"},
        },
    )
    if tracer is not None:
        from curation import LAYER_SPANS
        res["layers"] = _curate_layers(spark, tracer, timed, LAYER_SPANS)


# ------------------------------------------------------------------ traced


def _span_per_op(tracer, selfs, span: str, mode: str, ops: set) -> float | None:
    if not ops:
        return None
    tot = 0.0
    for s, st in zip(tracer.spans, selfs):
        if s["name"] == span and s["op"] in ops:
            tot += st if mode == "self" else s["end"] - s["start"]
    return tot * 1000.0 / len(ops)


def _spark_per_op(spark, timed: list[dict]) -> tuple[list[dict], list[dict]]:
    from spans import attribute, spark_jobs

    since = min(r["window"][0] for r in timed) * 1000.0 - 1.0
    jobs = spark_jobs(spark, since)
    return jobs, attribute(jobs, [r["window"] for r in timed])


def _common_spark(rows: list[dict], out: dict) -> None:
    from spans import SPARK_COUNTERS

    for k in SPARK_COUNTERS:
        if k in ("spill_bytes", "input_records"):
            continue
        out[f"spark.{k}_per_op"] = sum(r[k] for r in rows) / len(rows)


def _dashboard_layers(spark, tracer, d, timed, layer_spans) -> dict:
    from dashboard import rows_emitted
    from gen import op_class
    from spans import SPARK_COUNTERS, self_times

    selfs = self_times(tracer.spans)
    ids = {c: {r["i"] for r in timed if op_class(r["kind"]) == c}
           for c in ("write", "influxql", "promql")}
    ids["query"] = ids["influxql"] | ids["promql"]
    out: dict = {}
    for name, (span, mode, cls) in layer_spans.items():
        out[name] = _span_per_op(tracer, selfs, span, mode, ids[cls])
    for name, cls in (("storage.files_per_write", "write"), ("storage.files_per_read", "query")):
        vals = [v for op, v in tracer.counters.get(name, []) if op in ids[cls]]
        out[name] = sum(vals) / len(vals) if vals else None
    _, rows = _spark_per_op(spark, timed)
    _common_spark(rows, out)
    emitted = {"influxql": 0, "promql": 0}
    examined = {"influxql": 0.0, "promql": 0.0}
    for r, row in zip(timed, rows):
        cls = op_class(r["kind"])
        if cls in emitted and r["resp"] is not None:
            emitted[cls] += rows_emitted(r["kind"], r["resp"])
            examined[cls] += row["input_records"]
    out["influxql.rows_examined_per_row"] = examined["influxql"] / max(emitted["influxql"], 1)
    out["promql.rows_examined_per_point"] = examined["promql"] / max(emitted["promql"], 1)
    for cls in ("write", "influxql", "promql"):
        mine = [row for r, row in zip(timed, rows) if op_class(r["kind"]) == cls]
        for k in SPARK_COUNTERS:
            out[f"spark.{k}.{cls}"] = sum(row[k] for row in mine) / len(mine) if mine else None
    return out


def _curate_layers(spark, tracer, timed, layer_spans) -> dict:
    from spans import SPARK_COUNTERS, attribute, self_times

    selfs = self_times(tracer.spans)
    ids = {p["i"] for p in timed}
    out: dict = {}
    for name, (span, mode) in layer_spans.items():
        out[name] = _span_per_op(tracer, selfs, span, mode, ids)
    jobs, rows = _spark_per_op(spark, timed)
    cc = [(s["start"], s["end"]) for s in tracer.spans
          if s["name"] == "datapipe.components" and s["op"] in ids]
    out["datapipe.cc_jobs"] = sum(r["jobs"] for r in attribute(jobs, cc)) / len(ids)
    _common_spark(rows, out)
    for k in SPARK_COUNTERS:
        out[f"spark.{k}.curate"] = sum(r[k] for r in rows) / len(rows)
    return out


# --------------------------------------------------------------------------


def _result_line(bench: dict, res: dict, trace: bool) -> dict:
    """The contract line: every metric BENCHMARK.json lists for the mode."""
    if trace:
        src = {**res["layers"], **res["rss"], "session.start_ms": res["session_start_ms"]}
    else:
        src = res["e2e"]
    metrics = {}
    for m in bench["per_layer" if trace else "end_to_end"]:
        v = src.get(m["name"])
        if not isinstance(v, (int, float)):
            raise RuntimeError(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return {
        "correct": not res["problems"] and res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "opengemini_spark" / "__init__.py").is_file():
        print(f"no program to benchmark under {ROOT}", file=sys.stderr)
        return 2
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    run_dir = OUT / f"run-{os.getpid()}"
    _env(run_dir)
    from spans import Tracer

    tracer = Tracer() if args.trace else None
    res: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    spark = None
    try:
        from opengemini_spark.session import get_spark

        t0 = time.perf_counter()
        with tracer.span("session.start") if tracer else nullcontext():
            spark = get_spark(extra_conf=_spark_conf(run_dir))
        res["session_start_ms"] = (time.perf_counter() - t0) * 1000.0
        data_root = str(run_dir / "data")
        run = _dashboard if args.workload == "dashboard" else _curate
        run(spark, args, data_root, tracer, res)
        from stats import median

        lat = [r["latency_ms"] for r in res["ops"]]
        res["e2e"] = {"setup_s": res["setup_s"], "ops_per_s": len(lat) / res["wall"]}
        # reported, not gated: the median of one run's mixed requests and
        # the JVM's heap growth vary too much from run to run to bound
        res["extra"] = {"op_p50_ms": median(lat), "peak_rss_mb": sum(res["rss"].values())}
        line = _result_line(bench, res, bool(args.trace))
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    report = {
        k: res[k] for k in ("workload", "seed", "trace", "input_digest", "setup_s",
                            "session_start_ms", "phases_s", "rss", "attempted", "failed")
    }
    report["failed_frac"] = res["failed"] / res["attempted"]
    report["correct"] = line["correct"]
    report["problems"] = res["problems"][:20]
    report["timed_ops"] = len(res["ops"])
    report["timed_wall_s"] = res["wall"]
    report["op_latencies_ms"] = res["op_latencies_ms"]
    report["metrics"] = {
        **{k: {"value": v} for k, v in {**res["e2e"], **res["extra"]}.items()},
        **res["metrics"],
    }
    stem = f"{args.workload}-seed{args.seed}"
    if tracer is not None:
        report["layers"] = res["layers"]
        tracer.dump(str(OUT / f"spans-{stem}.json"))
        untraced = OUT / f"result-{stem}-trace0.json"
        if untraced.exists():
            base = json.loads(untraced.read_text())["metrics"]
            # (traced − untraced) / untraced, per end-to-end metric
            report["trace_overhead"] = {
                k: (v["value"] - base[k]["value"]) / base[k]["value"]
                for k, v in report["metrics"].items()
                if isinstance(v.get("value"), (int, float))
                and isinstance(base.get(k, {}).get("value"), (int, float))
                and base[k]["value"]
            }
    (OUT / f"result-{stem}-trace{args.trace}.json").write_text(json.dumps(report, indent=1))
    print(json.dumps({"report": report}))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
