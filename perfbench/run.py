#!/usr/bin/env python3
"""Benchmark of the spark-kg package: one command for every workload.

    python3 perfbench/run.py --workload kg_flagship --seed 1 --seconds 5 --trace 0

Workloads (see ``BENCHMARK.json`` for why each was chosen):
  kg_flagship    run_pipeline over a generated span corpus, to the triple count
  near_dup_scan  MinHash, SimHash, cluster and embedding near-dup operators;
                 its traced run also replays a delta sequence through
                 incremental extraction and streaming near-dedup
                 (``workloads.delta_ingest``) for the incremental layers

One process, one ``local[<cores>]`` Spark session, closed-loop calls
from the driver thread. The inputs are generated from ``--seed`` (and
cached, see ``inputs.py``); the package only receives the inputs.

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` runs half the window untraced and half traced (spans
around the benchmark's calls, Spark job groups, the Spark event log),
then the single-core kernel timings, and reports the per-layer metrics,
including the tracing overhead (traced minus untraced wall).

Human-readable lines come first; the last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}. Every repetition's output
is checked; a failed check or an exception counts as a failed operation.
Everything the run writes goes under ``.perfbench/`` in the checkout:
the input cache, Spark's scratch and event logs, and a full report
(``.perfbench/out/``) with every repetition, the host weather and, for
traced runs, every span.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

import eventlog as EV
import host
import inputs
import kernels
import workloads
from metrics import END_TO_END, PER_LAYER, PHASE_STATS, PHASES
from spans import Tracer
from workloads import median

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
WORKLOAD_NAMES = ("kg_flagship", "near_dup_scan")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env(run_dir: Path, cores: int) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and let the workers import the package."""
    for d in ("tmp", "spark-local", "eventlog"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "TMPDIR": str(run_dir / "tmp"),
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })


def _session(run_dir: Path, cores: int, trace: bool):
    from ontology_learning_spark.session import build_session

    conf = {
        "spark.local.dir": str(run_dir / "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(run_dir / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = build_session(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark, shut the JVM gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that ignores EOF is killed
            proc.kill()
            proc.wait(timeout=30)


def _measure(w, seconds: float, state: dict, on_first=None) -> None:
    """Closed-loop repetitions until ``seconds`` have passed (at least one).
    ``on_first`` runs once, right after the run's first repetition."""
    t0 = time.time()
    while True:
        try:
            r = w.rep()
        except Exception:  # noqa: BLE001 - a failed operation is data, not a crash
            state["attempted"] += 1
            state["failed"] += 1
            state["errors"].append(traceback.format_exc())
            return
        state["reps"].append(r)
        state["attempted"] += r["attempted"]
        state["failed"] += min(len(r["failures"]), r["attempted"])
        state["errors"].extend(r["failures"])
        if on_first is not None and len(state["reps"]) == 1:
            on_first()
        if time.time() - t0 >= seconds:
            return


def _ingest(spark, seed: int, tracer, run_dir: Path, state: dict) -> dict:
    """Run and check the delta-ingest sequence once; its operations count
    in the run's attempted/failed like the workload's own."""
    paths, meta, _ = inputs.load("delta_ingest", seed, WORK / "cache")
    try:
        r = workloads.delta_ingest(spark, paths, meta, tracer, run_dir / "ingest")
    except Exception:  # noqa: BLE001 - a failed operation is data, not a crash
        state["attempted"] += 1
        state["failed"] += 1
        state["errors"].append(traceback.format_exc())
        return {}
    state["attempted"] += r["attempted"]
    state["failed"] += min(len(r["failures"]), r["attempted"])
    state["errors"].extend(r["failures"])
    state["ingest"] = {k: v for k, v in r.items() if k not in ("failures", "layer")}
    return r["layer"]


def _trace_metrics(spans, untraced: list, traced: list, cores: int,
                   run_dir: Path) -> tuple[dict, dict]:
    jobs, stages = EV.read_dir(run_dir / "eventlog")
    # only the traced half has spans: earlier work is not "unattributed"
    t_traced = min((s.start_ms for s in spans), default=0.0)
    jobs = [u for u in jobs if u.submit_ms >= t_traced]
    stages = [u for u in stages if u.submit_ms >= t_traced]
    direct, lost = EV.attribute(spans, jobs, stages)
    incl = EV.inclusive(spans, direct)
    out = {name: 0.0 for name, *_ in PER_LAYER}

    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    for p in PHASES:
        ss = by_name.get(f"pipeline.{p}", [])
        if not ss:
            continue
        out[f"pipeline.{p}.wall_s"] = median([s.wall_s for s in ss])
        for stat, _unit in PHASE_STATS[1:]:
            out[f"pipeline.{p}.{stat}"] = median([incl[s.id][stat] for s in ss])
    runs = by_name.get("pipeline.run_pipeline", [])
    if runs:
        out["pipeline.idle_core_frac"] = median(
            [1.0 - incl[s.id]["core_s"] / (s.wall_s * cores) for s in runs])
    out["trace.overhead_s"] = median(traced) - median(untraced)
    report = [{
        "id": s.id, "name": s.name, "parent": s.parent, "pool": s.pool,
        "start_ms": s.start_ms, "end_ms": s.end_ms, "wall_s": s.wall_s,
        "self_s": EV.self_time_s(s, spans), "direct": direct[s.id], "inclusive": incl[s.id],
    } for s in spans]
    return out, {"spans": report, "unattributed": lost,
                 "event_log_jobs": len(jobs), "event_log_stages": len(stages)}


def main(argv=None) -> int:
    args = _args(argv)
    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        import ontology_learning_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    run_dir = WORK / "run" / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    _prepare_env(run_dir, cores)

    # inputs before any timing: generation (on a cache miss) is not set-up
    paths, meta, cache_status = inputs.load(args.workload, args.seed, WORK / "cache")

    t_start = time.time()
    spark = _session(run_dir, cores, bool(args.trace))
    start_s = time.time() - t_start
    try:
        tracer = Tracer(spark.sparkContext, enabled=False)
        w = workloads.WORKLOADS[args.workload](spark, paths, meta, args.seed, tracer,
                                               run_dir / "work")
        w.load()
        t_warm = time.time()
        w.prepare()
        w.warm()
        warm_s = time.time() - t_warm

        # peak RSS is read after the first timed repetition, so it does
        # not grow with the number of repetitions a window holds
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        rss = []
        first = lambda: rss.append(host.peak_rss_mb(jvm_pid))  # noqa: E731
        state = {"reps": [], "attempted": 0, "failed": 0, "errors": []}
        c0 = host.cpu_counters()
        if args.trace:
            _measure(w, args.seconds / 2, state, first)
            n_untraced = len(state["reps"])
            tracer.enabled = True
            _measure(w, args.seconds / 2, state)
        else:
            _measure(w, args.seconds, state, first)
            n_untraced = len(state["reps"])
        weather = host.weather(c0, host.cpu_counters())

        layer = {}
        if args.trace and state["reps"]:
            layer.update(kernels.run(spark, workloads._catalog_surfaces(), tracer))
            layer.update(w.layer_metrics())
            if args.workload == "near_dup_scan":
                layer.update(_ingest(spark, args.seed, tracer, run_dir, state))
    finally:
        _stop(spark)

    reps = state["reps"]
    if not n_untraced:
        print("perfbench: no untraced repetition completed:\n" + "\n".join(state["errors"]),
              file=sys.stderr)
        return 1
    untraced = [r["wall_s"] for r in reps[:n_untraced]]
    e2e = {
        "setup_s": start_s + warm_s,
        "wall_s": median(untraced),
        "items_per_s": median([r["items"] / r["wall_s"] for r in reps[:n_untraced]]),
    }
    per_layer, trace_report = {}, {}
    if args.trace:
        per_layer, trace_report = _trace_metrics(
            tracer.spans, untraced, [r["wall_s"] for r in reps[n_untraced:]], cores, run_dir)
        per_layer.update(layer)
        per_layer["session.start_s"] = start_s
        per_layer["session.warmup_s"] = warm_s
        per_layer["jvm.peak_rss_mb"] = rss[0]
        unknown = set(per_layer) - {n for n, *_ in PER_LAYER}
        if unknown:
            raise KeyError(f"per-layer metrics missing from metrics.PER_LAYER: {unknown}")

    units = {n: u for n, u, *_ in END_TO_END} | {n: u for n, u, *_ in PER_LAYER}
    alias = {"kg_flagship": {"items_per_s": "triples_per_s"}}.get(args.workload, {})
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} cores={cores} "
          f"input cache={cache_status} repetitions={len(reps)} (untraced {n_untraced}; "
          f"timings are medians over the untraced ones)")
    for name, value in e2e.items():
        extra = f"  (= {alias[name]})" if name in alias else ""
        print(f"  {name:<14} {value:12.4f} {units[name]}{extra}")
    print(f"  {'peak_rss_mb':<14} {rss[0]:12.4f} MB  (driver JVM after the first repetition; "
          f"reported as jvm.peak_rss_mb)")
    print(f"  {'error_rate':<14} {state['failed'] / state['attempted']:12.4f} ratio  "
          f"({state['failed']} failed / {state['attempted']} attempted)")
    print(f"  host steal {weather['steal_pct']:.1f}%  idle {weather['idle_pct']:.1f}% "
          f"over the timed repetitions")
    for err in state["errors"][:5]:
        print(f"  FAILED: {err.strip().splitlines()[-1][:300]}")
    if args.trace:
        print(f"  trace overhead {per_layer['trace.overhead_s']:+.3f} s on wall_s; "
              f"{len(tracer.spans)} spans")
        if "ingest" in state:
            ing = state["ingest"]
            print(f"  {'delta_p50_s':<14} {median(ing['steps']):12.4f} s  (traced delta ingest, "
                  f"n={len(ing['steps'])}; sequence wall {ing['wall_s']:.4f} s)")

    out_dir = WORK / "out"
    out_dir.mkdir(parents=True, exist_ok=True)
    (out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(json.dumps({
        "workload": args.workload, "seed": args.seed, "cores": cores, "cache": cache_status,
        "end_to_end": e2e, "session_start_s": start_s, "warmup_s": warm_s,
        "peak_rss_mb": rss[0],
        "per_layer": per_layer, "weather": weather,
        "attempted": state["attempted"], "failed": state["failed"], "errors": state["errors"],
        "reps": [{k: v for k, v in r.items() if k != "failures"} for r in reps],
        "ingest": state.get("ingest"),
        **trace_report,
    }, indent=1, default=str))
    shutil.rmtree(run_dir, ignore_errors=True)

    chosen = per_layer if args.trace else e2e
    print(json.dumps({
        "correct": state["failed"] == 0,
        "attempted": state["attempted"],
        "failed": state["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
