"""Benchmark entry point.

    python3 perfbench/run.py --workload full_run --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. One driver thread
issues one operation at a time (a closed loop) on ``local[<cores>]``. With
``--trace 0`` the last stdout line holds the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics of a separate traced pass.
Earlier stdout lines carry the environment and per-operation details.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

import ledger  # this directory is sys.path[0] when run as a script

# fixture builds per run; setup_s reports their median
SETUP_REPEATS = 3
LAYER_METRICS = ("wall_s", "jobs", "stages", "records_read", "shuffle_bytes", "task_cpu_s")
LAYERS = (
    "sources",
    "rules.preflight",
    "operators.validate",
    "operators.uniqueness",
    "operators.referential",
    "operators.convchecks",
    "operators.checks",
    "operators.expectations",
    "operators.drift",
    "operators.completeness",
    "plans.pipeline",
    "plans.checkpoint",
)
LAYER_EXTRAS = {
    "operators.convchecks.task_max_over_p50": "ratio",
    "operators.convchecks.task_records_max_over_p50": "ratio",
    "plans.pipeline.records_read_per_row": "ratio",
    "plans.pipeline.output_records": "count",
    "plans.pipeline.driver_gap_s": "s",
    "plans.pipeline.resume_s": "s",
    "plans.checkpoint.files": "count",
    "trace.overhead_frac": "ratio",
}
# layers whose calls together make up one operation of the workload
OP_LAYERS = {
    "full_run": ("plans.pipeline",),
    "column_scan": (
        "operators.validate",
        "operators.uniqueness",
        "operators.referential",
    ),
}
UNITS = {"wall_s": "s", "task_cpu_s": "s", "shuffle_bytes": "bytes"}
# End-to-end metrics in the result line (BENCHMARK.json's end_to_end).
# Wall time and task CPU per operation (op_s_p50, rows_per_s,
# cpu_s_per_mrow) and the driver's peak RSS go to the details line only: on
# a shared host they spread between runs of the same code by close to or
# beyond the largest bound a metric may have.
GATED = ("setup_s", "records_read_per_row", "shuffle_bytes_per_row", "jobs_per_op")


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(OP_LAYERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def import_program(root: str):
    """Import the package from the checkout at ``root`` and nowhere else."""
    if not os.path.isfile(os.path.join(root, "ndap_data_validator_spark", "__init__.py")):
        fail(f"no ndap_data_validator_spark package under {root}; run from the "
             "root of a checkout")
    sys.path.insert(0, root)
    import ndap_data_validator_spark as pkg

    if os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__))) != root:
        fail(f"imported {pkg.__file__}, not the checkout's package")


def start_spark(work: str, cores: int):
    from ndap_data_validator_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def driver_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def canary_s(spark, cores: int) -> float:
    """Wall time of a fixed-cost job: a host-contention stamp."""
    t = time.perf_counter()
    spark.range(0, 4_000_000, numPartitions=cores).selectExpr(
        "max(xxhash64(id))"
    ).collect()
    return time.perf_counter() - t


def measure(wl, store, seconds: float):
    """Closed loop: one operation at a time, each under its own job group,
    until the next one would overrun ``seconds``."""
    sc = wl.spark.sparkContext
    ops = []
    t0 = time.perf_counter()
    while True:
        group = f"op-{len(ops)}"
        sc.setJobGroup(group, f"{wl.name} operation {len(ops)}", False)
        t_op = time.perf_counter()
        rec = {"op": len(ops), "ok": False}
        try:
            result = wl.operation(group)
            rec["wall_s"] = time.perf_counter() - t_op
            counters = store.counters(group)
            rec.update(
                jobs=counters["jobs"],
                stages=counters["stages"],
                records_read=counters["records_read"],
                shuffle_bytes=counters["shuffle_bytes"],
                task_cpu_s=counters["task_cpu_s"],
            )
            wl.check(result)
            rec["ok"] = True
        except Exception as e:  # a failed operation is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
            traceback.print_exc(file=sys.stderr)
        rec["cycle_s"] = time.perf_counter() - t_op
        ops.append(rec)
        elapsed = time.perf_counter() - t0
        if elapsed + ledger.median([o["cycle_s"] for o in ops]) > seconds:
            return ops


def end_to_end(ops, rows: int, setup_s: float, rss_mb: float) -> dict:
    good = [o for o in ops if o["ok"]]
    if not good:
        raise RuntimeError("no operation succeeded")
    op_s = ledger.median([o["wall_s"] for o in good])
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "cpu_s_per_mrow": {
            "value": ledger.median([o["task_cpu_s"] for o in good]) / rows * 1e6,
            "unit": "s/Mrow",
        },
        "records_read_per_row": {
            "value": ledger.median([o["records_read"] for o in good]) / rows,
            "unit": "ratio",
        },
        "shuffle_bytes_per_row": {
            "value": ledger.median([o["shuffle_bytes"] for o in good]) / rows,
            "unit": "B/row",
        },
        "jobs_per_op": {
            "value": ledger.median([o["jobs"] for o in good]),
            "unit": "count",
        },
        "op_s_p50": {"value": op_s, "unit": "s"},
        "rows_per_s": {"value": rows / op_s, "unit": "rows/s"},
        "driver_peak_rss_mb": {"value": rss_mb, "unit": "MB"},
    }


def traced(wl, store):
    """Run the workload's layer calls under spans and job groups; return
    the per-layer metrics, the spans and the raw counters."""
    sc = wl.spark.sparkContext
    tracer = ledger.Tracer()
    layers = {}
    read_s = 0.0

    def layer(name, fn, task_skew=False):
        nonlocal read_s
        group = f"trace-{len(layers)}-{name}"
        sc.setJobGroup(group, name, False)
        with tracer.span(name) as span:
            out = fn()
        t = time.perf_counter()
        layers[name] = (span, store.counters(group, task_skew=task_skew))
        read_s += time.perf_counter() - t
        return out

    with tracer.span(f"{wl.name}.traced"):
        wl.traced_layers(layer)

    self_s = tracer.self_times()
    metrics = {}
    for name in LAYERS:
        span, c = layers.get(name, (None, {}))
        for m in LAYER_METRICS:
            v = self_s[span.span_id] if (m == "wall_s" and span) else c.get(m, 0)
            metrics[f"{name}.{m}"] = {"value": v, "unit": UNITS.get(m, "count")}
    extra = {k: 0 for k in LAYER_EXTRAS}
    if "operators.convchecks" in layers:
        c = layers["operators.convchecks"][1]
        for k in ("task_max_over_p50", "task_records_max_over_p50"):
            extra[f"operators.convchecks.{k}"] = c[k]
    if "plans.pipeline" in layers:
        span, c = layers["plans.pipeline"]
        extra["plans.pipeline.records_read_per_row"] = c["records_read"] / wl.rows
        extra["plans.pipeline.output_records"] = c["output_records"]
        extra["plans.pipeline.driver_gap_s"] = (span.end - span.start) - (
            ledger.clipped_union(c["job_intervals"], span.start, span.end)
        )
        extra["plans.pipeline.resume_s"] = self_s[layers["plans.pipeline.resume"][0].span_id]
    if "plans.checkpoint" in layers:
        extra["plans.checkpoint.files"] = wl.checkpoint_files
    # spans wrap exactly the calls an untraced run times, so what tracing
    # adds to a run is the counter reads between the calls
    traced_op_s = sum(self_s[layers[n][0].span_id] for n in OP_LAYERS[wl.name])
    extra["trace.overhead_frac"] = read_s / traced_op_s
    for k, unit in LAYER_EXTRAS.items():
        metrics[k] = {"value": extra[k], "unit": unit}
    spans = [s.as_dict() for s in tracer.spans]
    return metrics, spans, {n: c for n, (_, c) in layers.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    import_program(root)
    from workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the launcher JVM that spark-submit starts first would otherwise write
    # its perf-data file outside the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    spark = None
    try:
        t = time.perf_counter()
        spark = start_spark(work, cores)
        session_s = time.perf_counter() - t
        store = ledger.StatusStore(spark)
        wl = WORKLOADS[args.workload](spark, work, args.seed)

        fixture_s = []
        for k in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.build_fixture(k)
            fixture_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t
        t = time.perf_counter()
        for k in range(wl.warmup_ops):
            wl.check(wl.operation(f"warmup-{k}"))
        warmup_s = time.perf_counter() - t
        setup_s = session_s + ledger.median(fixture_s) + prepare_s + warmup_s

        env = {
            "nproc": cores,
            "master": spark.sparkContext.master,
            "spark_version": spark.version,
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "seed": args.seed,
            "workload": args.workload,
            "fixture_rows": wl.rows,
            "fixture_files": wl.files,
            "session_start_s": session_s,
            "fixture_build_s": fixture_s,
            "prepare_s": prepare_s,
            "warmup_s": warmup_s,
            "canary_before_s": canary_s(spark, cores),
        }

        if args.trace:
            metrics, spans, counters = traced(wl, store)
            attempted, failed = 1, 0
            with open(os.path.join(
                out_dir, f"trace-{args.workload}-seed{args.seed}.json"
            ), "w") as f:
                json.dump({"env": env, "spans": spans, "counters": counters,
                           "metrics": metrics}, f, indent=1)
        else:
            ops = measure(wl, store, args.seconds)
            attempted = len(ops)
            failed = sum(1 for o in ops if not o["ok"])
            figures = end_to_end(
                ops, wl.rows, setup_s, driver_peak_rss_mb(spark)
            )
            metrics = {k: v for k, v in figures.items() if k in GATED}
            walls = [o["wall_s"] for o in ops if o["ok"]]
            tail = ledger.tail_percentile(walls)
            details = {
                "figures": figures,
                "ops": ops,
                "failed_frac": failed / attempted,
                "op_s_tail": None if tail is None else
                {"percentile": tail[0], "value": tail[1], "n": tail[2]},
            }
            print(json.dumps({"details": details}))
        env["canary_after_s"] = canary_s(spark, cores)
        print(json.dumps({"env": env}))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
