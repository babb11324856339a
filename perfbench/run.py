#!/usr/bin/env python3
"""Benchmark of the IDR engine: the nightly refresh with the facility
events between nightly runs, and corpus curation.

Run from the root of a checkout:

    python3 perfbench/run.py --workload idr_nightly --seed 1 --seconds 5 --trace 0

Inputs are generated from ``--seed`` into ``.perfbench/inputs`` (once
per seed and size); each run works in a fresh ``.perfbench/runs/...``
directory that is removed at the end. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). The line before it holds the raw per-unit values.
The exit code is non-zero when any correctness check fails.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import measure as tr  # noqa: E402
import workloads  # noqa: E402

PROCESS_T0 = time.perf_counter() - tr.process_age_s()


def median(values: list[float]) -> float:
    """Median; failed units enter as the worst value (0 or infinity)."""
    return statistics.median(values) if values else math.inf


def start_session(run_dir: str, cpus: int):
    from idr_data_pipelines_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 1024**3
    heap_gb = max(1, min(4, int(ram_gb // 4)))
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": f"{heap_gb}g",
            "spark.local.dir": os.path.join(run_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # the heap starts at half its maximum, so peak memory follows
            # what the program holds rather than when G1 chose to grow
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap_gb * 512}m"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and every process still below us."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    me = os.getpid()
    deadline = time.time() + 10
    while True:
        rest = [p for p in tr.tree_pids(me) if p != me]
        if not rest:
            return
        if time.time() > deadline:
            for p in rest:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.1)
        for p in rest:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=workloads.DEFAULT_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "idr_data_pipelines_spark")):
        print(f"no idr_data_pipelines_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cls = workloads.WORKLOADS[args.workload]
    scratch = os.path.join(ROOT, ".perfbench")
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(time.time())}"
    run_dir = os.path.join(scratch, "runs", run_id)
    os.makedirs(run_dir)
    # scratch files of Python, the JVM and the workers stay in the run dir
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    cpus = len(os.sched_getaffinity(0))

    t = time.perf_counter()
    inputs_dir, info = cls.prepare(os.path.join(scratch, "inputs"), args.seed, args.seconds)
    gen_s = time.perf_counter() - t

    procs = tr.ProcTree()
    procs.start()
    spark = None
    detail: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "gen_s": gen_s}
    batch: list[dict] = []
    events: list[dict] = []
    errors: list[str] = []
    try:
        t = time.perf_counter()
        spark = start_session(run_dir, cpus)
        session_s = time.perf_counter() - t
        w = cls(spark, inputs_dir, run_dir, args.seed, args.seconds)
        errors = w.errors
        t = time.perf_counter()
        w.register(info)
        register_s = time.perf_counter() - t
        w.warm_up()
        setup_s = time.perf_counter() - PROCESS_T0 - gen_s
        detail.update(session_s=session_s, register_s=register_s, setup_s=setup_s)

        tracer = tr.Tracer(spark, run_id) if args.trace else None
        batch = time_units(
            w.unit, lambda: w.compare_digests(w.digests()), lambda *a: unit_layers(w, *a),
            procs, tracer, errors, w.min_units, args.seconds,
        )
        if w.events is not None:
            events = time_units(
                w.events.unit, lambda: True, lambda *a: unit_layers(w.events, *a),
                procs, tracer, errors, w.events.count,
            )

        try:
            w.check()
            if tracer is not None and isinstance(w, workloads.CorpusCuration):
                detail["pairs"] = w.pair_counts()
        except Exception:
            errors.append(traceback.format_exc(limit=5))
        detail["digests"] = dict(w.first_digests or {})
        if w.events is not None:
            detail["digests"]["dimension"] = w.events.digest
        if tracer is not None:
            tracer.close()
            detail["spans"] = len(tracer.spans)
            write_spans(scratch, run_id, tracer.spans)
    except Exception:
        errors.append(traceback.format_exc(limit=8))
        setup_s = math.inf
    finally:
        stop_session(spark)
        procs.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = len(batch) + len(events)
    failed = sum(not r["ok"] for r in batch + events)
    correct = not errors and failed == 0 and attempted > 0
    # per timed unit; a failed unit enters as the worst value
    walls = [r["wall"] if r["ok"] else math.inf for r in batch]
    event_walls = [r["wall"] if r["ok"] else math.inf for r in events]
    rates = [r["rows"] / r["wall"] if r["ok"] else 0.0 for r in batch]
    cpus = [r["cpu"] / (r["rows"] / 1e6) if r["ok"] else math.inf for r in batch]
    psss = [r["pss"] if r["ok"] else math.inf for r in batch]
    detail.update(
        unit_walls_s=walls, event_walls_s=event_walls,
        host_probe_s=[r["probe"] for r in batch + events], errors=errors,
        unit_rows_per_s=rates, unit_cpu_s_per_mrow=cpus, unit_peak_pss_mb=psss,
        run_peak_pss_mb=procs.peak_pss_kb / 1024,
    )
    if args.trace:
        metrics = layer_metrics(batch, events, detail)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "rows_per_s": (median(rates), "1/s"),
            # a facility event's latency, or a pass's where there are none
            "event_p50_s": (median(event_walls or walls), "s"),
            "cpu_s_per_mrow": (median(cpus), "s/Mrow"),
            "peak_pss_mb": (median(psss), "MB"),
        }
    out = {
        "correct": correct,
        "attempted": max(attempted, 1),
        # a failed set-up or end-of-run check counts as one failed unit
        "failed": failed or (0 if correct else 1),
        "metrics": {
            k: {"value": finite(v), "unit": u} for k, (v, u) in metrics.items()
        },
    }
    os.makedirs(os.path.join(scratch, "results"), exist_ok=True)
    with open(os.path.join(scratch, "results", f"{run_id}.json"), "w") as f:
        json.dump({"detail": detail, "result": out}, f, default=str)
    print(json.dumps({"detail": detail}, default=lambda v: str(v)))
    print(json.dumps(out))
    return 0 if correct else 1


def time_units(unit, ok, layers, procs, tracer, errors: list[str],
               min_units: int, seconds: float = 0.0) -> list[dict]:
    """Run ``unit`` at least ``min_units`` times and until ``seconds``
    have passed. One record per unit: the host probe before it, its
    wall, input rows, CPU seconds of the process tree and peak PSS, and
    whether it ran and ``ok`` accepted its outputs. In a traced run
    every second unit is traced and its record holds ``layers``."""
    records: list[dict] = []
    t_start = time.perf_counter()
    while len(records) < min_units or time.perf_counter() - t_start < seconds:
        traced = tracer is not None and len(records) % 2 == 1
        rec = {"probe": tr.host_probe_s(), "ok": False}
        if traced:
            mark0, first_span = tracer.mark(), len(tracer.spans)
        procs.start_window()
        cpu0 = procs.cpu_s()
        t0 = time.perf_counter()
        try:
            rows = unit(tracer if traced else None)
            rec.update(wall=time.perf_counter() - t0, rows=rows,
                       cpu=procs.cpu_s() - cpu0, pss=procs.window_peak_mb())
            rec["ok"] = ok()
        except Exception:
            errors.append(traceback.format_exc(limit=5))
        if traced:
            rec["layers"] = layers(tracer, mark0, first_span)
        records.append(rec)
    return records


def finite(v: float) -> float:
    """JSON has no infinity; a failed timing is reported as 1e9."""
    return v if math.isfinite(v) else 1e9


def unit_layers(w, tracer, mark0: dict, first_span: int) -> dict[str, float]:
    """Per-layer values of one traced unit of ``w`` (a workload or its
    facility events)."""
    state_dir = getattr(w, "dim_dir", None)
    vals = tracer.unit_totals(mark0, tracer.mark(), state_dir)

    def spans(prefix: str) -> dict[str, float]:
        return tracer.span_totals(first_span, prefix)

    vals["sources.resolve_s"] = spans("sources.resolve")["s"]
    vals["pipelines.build_s"] = spans("pipelines.build")["s"]
    for name in ("mmd", "vls", "covid", "hts"):
        vals[f"plans.run_s.{name}"] = spans(f"plans.run.{name}")["s"]
    vals["plans.py4j_calls"] = spans("plans.runner")["py4j"]
    build_jobs = spans("pipelines.build.frame")["jobs"]
    if isinstance(w, workloads.CorpusCuration):
        for name in w.ENTRIES:
            vals[f"queries.build_s.{name}"] = spans(f"queries.build.{name}")["s"]
            vals[f"queries.action_s.{name}"] = spans(f"queries.action.{name}")["s"]
        build = spans("queries.build.")
        vals["driver.py4j_calls_build"] = build["py4j"]
        build_jobs = build["jobs"]
    vals["spark.jobs_during_build"] = build_jobs
    handle, drain = spans("streaming.handle"), spans("streaming.drain")
    vals["streaming.handle_s"] = handle["s"] - drain["s"]
    vals["streaming.drain_s"] = drain["s"]
    if isinstance(w, workloads.FacilityEvents):
        vals.update(w.state_counters())
    return vals


def layer_metrics(batch: list[dict], events: list[dict], detail: dict):
    """Median over traced units of every per-layer metric: ``streaming.*``
    over the traced facility events, the rest over the traced passes."""
    out: dict[str, tuple[float, str]] = {}
    for name, unit in workloads.PER_LAYER:
        recs = events if name.startswith("streaming.") else batch
        vals = [r["layers"].get(name, 0.0) for r in recs if "layers" in r]
        out[name] = (statistics.median(vals) if vals else 0.0, unit)
    out["session.start_s"] = (detail.get("session_s", 0.0), "s")
    out["host.probe_s"] = (statistics.median(detail["host_probe_s"]) if detail["host_probe_s"] else 0.0, "s")
    for k, v in detail.get("pairs", {}).items():
        out[k] = (v, out[k][1])
    traced = [r["wall"] for r in batch if "layers" in r and r["ok"]]
    untraced = [r["wall"] for r in batch if "layers" not in r and r["ok"]]
    ratio = statistics.median(traced) / statistics.median(untraced) if traced and untraced else 0.0
    out["trace.overhead_ratio"] = (ratio, "ratio")
    return out


def write_spans(scratch: str, run_id: str, spans: list[dict]) -> None:
    os.makedirs(os.path.join(scratch, "traces"), exist_ok=True)
    with open(os.path.join(scratch, "traces", f"{run_id}.jsonl"), "w") as f:
        for i, s in enumerate(spans):
            f.write(json.dumps({"id": i, **s}) + "\n")


if __name__ == "__main__":
    sys.exit(main())
