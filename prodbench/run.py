"""Production-tick benchmark for the Spark MIKE engine.

    python3 prodbench/run.py --workload production_hour --seed 1 --seconds 4 --trace 0

Run from the repository root.  One process, one ``local[nproc]``
session, operations back to back (a closed loop with one client).  The
seed drives every generated input.  After set-up and the workload's
warm-up operations, operations run until the workload's maximum count
has run, or ``--seconds`` have passed and its minimum count has run
(``production_hour`` and ``catalog_mix`` time one cold operation each);
their outputs are checked after the timed loop.  NOTES.md gives the
reasons behind the workloads and metrics.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  A traced run traces every
timed operation, writes its spans to ``.prodbench/traces/`` and reports
the time the operations spent on tracing alone.  The line before it is
a readable summary with sample counts and the core count.

Everything the run writes stays under ``.prodbench/`` in the
repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

import spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "curw_mike_data_handler_spark"

# Both are CPU seconds at a fixed host speed (``spans.HostSpeed``).
# Wall (set-up wall, ``op_s_p50``) and the unscaled CPU seconds are in
# the summary line, not here: over ten seeds on a shared 4-core host
# the quartile spread of wall reached 0.12-0.42 of the median and that
# of CPU seconds 0.08-0.23, past or near the largest bound a regression
# gate may use; scaled CPU seconds spread by 0.05-0.12.
END_TO_END = {"setup_s": "s", "cpu_s_per_op": "s"}

MERGE = "sources.ParquetMergeTable.merge"
JOBS = ("rainfall", "tide", "discharge", "rf_obs", "all_stations_raw", "extract")
PLANS = (
    "prepare_rainfall_input",
    "prepare_tide_input",
    "prepare_discharge_input",
    "prepare_obs_rainfall_input",
    "prepare_all_stations_raw",
    "upsert_forecast",
)
OPERATORS = (
    "spine_align_long",
    "resample_sum_right_closed",
    "weighted_group_sum",
    "nearest_k_stations",
    "pivot_wide",
    "melt_long",
)


def layer_metrics(pinned) -> dict[str, tuple[str, str, str]]:
    """Per-layer metric → (unit, span name, measure).  Span measures
    are per traced operation (summed over the operation's calls, then
    the median over operations); the span name ``""`` marks a metric
    measured otherwise."""
    m = {"session.get_spark.s": ("s", "", ""), "catalog.import.s": ("s", "", "")}
    for j in JOBS:
        m[f"jobs.{j}.main.s"] = ("s", f"jobs.{j}.main", "s")
        m[f"jobs.{j}.main.self_s"] = ("s", f"jobs.{j}.main", "self_s")
    m["jobs.tide.cold_process.s"] = ("s", "", "")
    for p in PLANS:
        m[f"plans.{p}.s"] = ("s", f"plans.{p}", "s")
        m[f"plans.{p}.spark_jobs"] = ("count", f"plans.{p}", "jobs")
    for o in OPERATORS:
        m[f"operators.{o}.s"] = ("s", f"operators.{o}", "s")
    sel = "operators.robust.select_values_at_ranks"
    m.update(
        {
            f"{sel}.calls": ("count", sel, "calls"),
            f"{sel}.s": ("s", sel, "s"),
            f"{sel}.spark_jobs": ("count", sel, "jobs"),
            f"{sel}.stages": ("count", sel, "stages"),
            "sources.write_single_csv.s": ("s", "sources.write_single_csv", "s"),
            "sources.write_single_csv.tasks": ("count", "sources.write_single_csv", "tasks"),
            "sources.write_single_csv.cpu_s": ("s", "sources.write_single_csv", "cpu_s"),
            "sources.read_wide_matrix.s": ("s", "sources.read_wide_matrix", "s"),
            "sources.read_wide_matrix.spark_jobs": ("count", "sources.read_wide_matrix", "jobs"),
            f"{MERGE}.calls": ("count", MERGE, "calls"),
            f"{MERGE}.s": ("s", MERGE, "s"),
            f"{MERGE}.written_mb": ("MB", MERGE, "output_mb"),
            f"{MERGE}.write_amp": ("ratio", "", ""),
            "sources.fcst_data.bytes_per_row": ("B/row", "", ""),
            "sources.latest_fgt_view.s": ("s", "sources.latest_fgt_view", "s"),
            "sources.latest_fgt_view.rows_scanned_per_row_returned": ("ratio", "", ""),
        }
    )
    for q in pinned:
        m[f"catalog.{q}.build_s"] = ("s", f"catalog.{q}.build", "s")
        m[f"catalog.{q}.plan_s"] = ("s", f"catalog.{q}.plan", "s")
        m[f"catalog.{q}.exec_s"] = ("s", f"catalog.{q}.exec", "s")
        m[f"catalog.{q}.tasks"] = ("count", f"catalog.{q}.", "tasks")
    for k, unit in (("cpu_s", "s"), ("gc_s", "s"), ("shuffle_mb", "MB"), ("spill_mb", "MB")):
        m[f"catalog.pass.{k}"] = (unit, "catalog_mix.op", {"shuffle_mb": "shuffle_write_mb"}.get(k, k))
    m["trace.overhead_s"] = ("s", "", "")
    return m


def span_measure(tracer, name: str, measure: str, op: int) -> float:
    """Sum of ``measure`` over the operation's spans called ``name`` (a
    name ending in ``.`` matches every span under that prefix)."""
    total = 0.0
    for s in tracer.spans:
        if s["op"] != op or not (s["name"] == name or (name.endswith(".") and s["name"].startswith(name))):
            continue
        if measure == "s":
            total += s["end"] - s["start"]
        elif measure == "calls":
            total += 1
        elif measure == "self_s":
            total += s["self_s"]
        else:
            total += s["spark"][measure]
    return total


def finished(w, n_ops: int, elapsed: float, seconds: float) -> bool:
    """The timed loop ends at the workload's ``max_ops``, or once
    ``seconds`` have passed and ``min_ops`` operations have run."""
    return n_ops == w.max_ops or (elapsed >= seconds and n_ops >= w.min_ops)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(work: str) -> int:
    """Point every temporary and Spark scratch directory into ``work``,
    make the package importable here and in Spark's Python workers;
    return the core count."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(nproc),
            "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark"),
            # every JVM started from here, the cold-process job's too:
            # temporary files in ``work``, no /tmp/hsperfdata_*
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)
    return nproc


def start_session(work: str):
    from curw_mike_data_handler_spark.session import get_spark

    spark = get_spark(
        "prodbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # every job of the run must stay visible to the REST API
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    exit (it leaves when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def process_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of this Python process (plan construction, collects,
    driver-side loops) plus the JVM's process tree (Catalyst, the
    executors, Python workers)."""
    return time.process_time() + spans.tree_cpu_s(jvm_pid)


def run(args, work: str, nproc: int) -> tuple[dict, dict]:
    import workloads
    from pyspark import SparkContext

    w = workloads.WORKLOADS[args.workload](args.seed)
    speed = spans.HostSpeed()

    # --- set-up: session start (JVM launch included), inputs, warm-up ----
    t_run = t0 = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    w.make_inputs(os.path.join(work, "inputs"))
    inputs_s = time.perf_counter() - t0
    w.spark, sc = spark, spark.sparkContext
    jvm_pid = SparkContext._gateway.proc.pid
    import_s = w.import_catalog() if hasattr(w, "import_catalog") else 0.0
    tracer = spans.Tracer(sc)
    if args.trace:
        tracer.instrument(w.layer_targets() + workloads.common_targets())
    t0 = time.perf_counter()
    sc.setLocalProperty(spans.GROUP_KEY, "warmup")
    for i in range(w.warmups):
        w.prepare(i)
        w.op(i, tracer)
    warm_s = time.perf_counter() - t0
    setup_wall_s = session_s + inputs_s + import_s + warm_s
    # CPU from this process's start (interpreter, imports, input
    # generation) and from the JVM's launch, to the end of the warm-up
    setup_cpu_s = process_cpu_s(jvm_pid)
    setup_s, setup_loop_s = speed.scale(setup_cpu_s, t_run, time.perf_counter())

    # --- timed loop (every operation traced when --trace 1) --------------
    ops, failed = [], set()
    t_start = time.perf_counter()
    i = w.warmups
    while True:
        w.prepare(i)
        sc.setLocalProperty(spans.GROUP_KEY, f"op-{i}")
        tracer.op, tracer.active = i, bool(args.trace)
        cpu0 = process_cpu_s(jvm_pid)
        t0 = time.perf_counter()
        try:
            if args.trace:
                with tracer.span(f"{w.name}.op"):
                    w.op(i, tracer)
            else:
                w.op(i, tracer)
        except Exception:  # an operation that raises is counted, the run goes on
            traceback.print_exc()
            failed.add(i)
        t1 = time.perf_counter()
        raw = process_cpu_s(jvm_pid) - cpu0
        scaled, loop = speed.scale(raw, t0, t1)
        ops.append({"op": i, "s": t1 - t0, "raw_cpu_s": raw, "cpu_s": scaled, "loop_s": loop})
        tracer.active = False
        i += 1
        if finished(w, len(ops), time.perf_counter() - t_start, args.seconds):
            break
    sc.setLocalProperty(spans.GROUP_KEY, None)
    speed.close()

    # --- checks, outside the timed regions -----------------------------
    try:
        errors = {k: v for k, v in w.check().items() if v}
    except Exception:
        traceback.print_exc()
        errors = {ops[-1]["op"]: ["output check raised"]}
    failed |= set(errors)

    per_group = spans.stage_metrics_by_group(sc)
    walls = [o["s"] for o in ops]
    measured = [o["op"] for o in ops]
    p50_cpu = spans.p50([o["cpu_s"] for o in ops])
    if not args.trace:
        executor_cpu = [per_group.get(f"op-{i}", {}).get("cpu_s", 0.0) for i in measured]
        metrics = {"setup_s": setup_s, "cpu_s_per_op": p50_cpu["value"]}
        units = END_TO_END
    else:
        tracer.attach(per_group)
        executor_cpu = [span_measure(tracer, f"{w.name}.op", "cpu_s", op) for op in measured]
        defs = layer_metrics(workloads.PINNED)
        special = {
            "session.get_spark.s": session_s,
            "catalog.import.s": import_s,
            "trace.overhead_s": spans.median([tracer.overhead[op] for op in measured]),
            **w.extra_trace(tracer, work),
        }
        metrics, units = {}, {}
        for name, (unit, span, measure) in defs.items():
            units[name] = unit
            if span:
                metrics[name] = spans.median([span_measure(tracer, span, measure, op) for op in measured])
            else:
                metrics[name] = special.get(name, 0.0)
        os.makedirs(os.path.join(ROOT, ".prodbench", "traces"), exist_ok=True)
        tracer.dump(os.path.join(ROOT, ".prodbench", "traces", f"{w.name}-seed{args.seed}.json"))

    attempted = len(ops) + w.warmups
    summary = {
        "workload": w.name,
        "seed": args.seed,
        "nproc": nproc,
        "setup_s": {"value": setup_s, "unit": "s", "samples": 1, "cpu_s": setup_cpu_s, "wall_s": setup_wall_s},
        "cpu_s_per_op": p50_cpu,
        "loop_ms": {"setup": setup_loop_s * 1e3, "ops": [round(o["loop_s"] * 1e3, 4) for o in ops]},
        "failed_ratio": {"value": len(failed) / attempted, "unit": "ratio", "failed": len(failed), "attempted": attempted},
        **w.summary(walls),
        "op_s": [round(x, 4) for x in walls],
        "op_s_p50": spans.median(walls),
        "op_cpu_s": [round(o["cpu_s"], 3) for o in ops],
        "op_raw_cpu_s": [round(o["raw_cpu_s"], 3) for o in ops],
        "executor_cpu_s_per_op": spans.median(executor_cpu),
        "setup": {"session_s": session_s, "inputs_s": inputs_s, "import_s": import_s, "warm_up_s": warm_s},
        "errors": errors,
    }
    stop_session(spark)

    result = {
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return result, summary


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"prodbench: no {PKG} package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"prodbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".prodbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        nproc = prepare_environment(work)
        result, summary = run(args, work, nproc)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("prodbench summary: " + json.dumps(summary, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
