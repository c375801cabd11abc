#!/usr/bin/env python3
"""Benchmark of the urban-mobility engine: one workload per run.

    python3 perfbench/run.py --workload daily_ingest --seed 1 \
        --seconds 5 --trace 0

Runs from the root of a source checkout, builds its inputs from the
seed, measures one closed loop with one client on local[<cores>], checks
the outputs, and prints as its last stdout line one JSON object with
`correct`, `attempted`, `failed` and `metrics`.  `--trace 0` reports the
end-to-end metrics; `--trace 1` reports the per-layer metrics and writes
the run's spans to `.perfbench_out/`.  Everything the run writes stays
under the checkout (`.perfbench_work/`, removed at exit, and
`.perfbench_out/`).  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)  # the package and bench.py live at the root

import consult  # noqa: E402
import daily  # noqa: E402
import registry  # noqa: E402
from tracing import (  # noqa: E402
    AmbientMeter,
    Tracer,
    lakehouse_shims,
    tree_peak_rss_mb,
    tree_pids,
)

WORKLOADS = {"daily_ingest": daily, "consult_serving": consult}

# name → unit.  BENCHMARK.json lists the same names (a self-test holds
# them equal) with each metric's direction and bound.
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_geomean_s": "s",
    "rows_per_s": "1/s",
    "bytes_per_input_byte": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units: dict[str, str] = {}
    for q in sorted(registry.EXPECTED_ROWS):
        units[f"queries.{q}.builder_s"] = "s"
        units[f"catalyst.{q}.plan_s"] = "s"
        units[f"spark.{q}.execute_s"] = "s"
        units[f"spark.{q}.jobs"] = "count"
    for k in ("stages", "tasks", "failed_tasks"):
        units[f"spark.{k}"] = "count"
    units["spark.shuffle_write_bytes"] = "bytes"
    units["spark.spill_bytes"] = "bytes"
    for stage in daily.STAGES:
        units[f"pipeline.{stage}_s_p50"] = "s"
    for stage in daily.STAGES:
        units[f"pipeline.{stage}_growth"] = "ratio"
    units["pipeline.batch_growth"] = "ratio"
    units["spark.tasks_per_batch"] = "count"
    units["spark.jobs_per_batch"] = "count"
    units.update({
        "lakehouse.commits": "count",
        "lakehouse.commit_s_p50": "s",
        "lakehouse.commit_growth": "ratio",
        "lakehouse.read_changes_s_p50": "s",
        "lakehouse.read_s_p50": "s",
        "lakehouse.reads_per_batch": "count",
        "lakehouse.reads_per_request": "count",
        "lakehouse.data_files": "count",
        "lakehouse.log_bytes": "bytes",
        "lakehouse.bytes_written": "bytes",
    })
    for kind in consult.KINDS:
        units[f"pipeline.consult_{kind}_s_p50"] = "s"
    units.update({
        "catalyst.consult.plan_s_p50": "s",
        "spark.consult.execute_s_p50": "s",
        "spark.consult.jobs_per_request": "count",
        "host.ambient_cores": "cores",
        "host.peak_rss_mb": "MB",
        "trace.overhead": "ratio",
    })
    return units


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str):
    from urban_mobility_data_lakehouse_spark.session import get_spark

    n = cores()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_confs={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file under the system temp directory
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, end its JVM, and wait until every process the run
    started (the JVM and its Python workers) has exited."""
    from pyspark import SparkContext

    started = set(tree_pids()) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()  # no py4j call may reach the JVM after it exits
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while (alive := [p for p in started if _alive(p)]) and \
            time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return False
    return s[s.rindex(")") + 2] != "Z"


def report(result: dict, units: dict[str, str], values: dict) -> str:
    """The result line: outcome counts and every metric with its unit."""
    return json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {
            k: {"value": values[k], "unit": u} for k, u in units.items()
        },
    })


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="minimum measured time; the workload's fixed "
                         "unit of work runs at least once")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    mod = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # Spark's scratch space; the variable outranks spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")

    t0 = time.perf_counter()
    spark = start_spark(work)
    try:
        state = mod.setup(spark, work, args.seed)
        setup_s = time.perf_counter() - t0
        tracer = Tracer() if args.trace else None
        ambient = AmbientMeter()
        with lakehouse_shims(tracer) if tracer else nullcontext():
            result = mod.run(spark, state, work, args.seed, args.seconds, tracer)
        ambient_cores = ambient.cores()
        peak_rss_mb = tree_peak_rss_mb()
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for e in result["errors"]:
        print(f"# FAILED {e}", file=sys.stderr)
    if args.trace:
        units = per_layer_units()
        values = dict.fromkeys(units, 0.0)  # a layer the workload never enters
        values.update(result["per_layer"])
        values["host.ambient_cores"] = ambient_cores
        values["host.peak_rss_mb"] = peak_rss_mb
        _write_artifact(args, values, setup_s, result, tracer)
    else:
        units = END_TO_END
        values = dict(result["e2e"], setup_s=setup_s)
        # recorded on every run; never used to drop or retry a sample
        print(f"# host.ambient_cores {ambient_cores:.3f}", file=sys.stderr)
    print(report(result, units, values))
    return 0


def _write_artifact(args, values, setup_s, result, tracer) -> None:
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-seed{args.seed}.trace.json")
    with open(path, "w") as f:
        json.dump({
            "workload": args.workload,
            "seed": args.seed,
            "cores": cores(),
            "setup_s": setup_s,
            "metrics": values,
            "errors": result["errors"],
            **result["artifact"],
            "spans": tracer.spans,
        }, f, indent=1, default=str)
    print(f"# trace written to {os.path.relpath(path, ROOT)}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
