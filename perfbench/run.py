"""Run one workload of the CDC-path benchmark.

    python3 perfbench/run.py --workload tail_mor --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout: the engine is imported from
``./jitsu_spark`` and all working files go under ``./.perfbench/``. The last
line of standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Names and units are those listed in
``BENCHMARK.json``. Exits 0 only when every state check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.getcwd()
WATCHDOG_S = 175  # a run must end within 180 s


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["backlog_cow", "tail_mor"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def declared_metrics(trace: int) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def start_spark(work: str):
    """Local session with the engine's defaults; every working path of the
    JVM and of Python points inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata files in the system temp directory, from the launcher
    # JVM or the driver JVM
    no_perf = "-XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " " + no_perf
    ).strip()
    from jitsu_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cores=4,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {no_perf}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return gw, getattr(gw, "proc", None)


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM it launched has exited."""
    gw, proc = jvm_process()
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def watchdog() -> threading.Timer:
    def fire():
        print(f"perfbench: run exceeded {WATCHDOG_S} s, aborting", file=sys.stderr)
        _, proc = jvm_process()
        if proc is not None:
            proc.kill()
            proc.wait()
        os._exit(3)

    timer = threading.Timer(WATCHDOG_S, fire)
    timer.daemon = True
    timer.start()
    return timer


def main(argv=None) -> int:
    t_start = time.time()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "jitsu_spark", "__init__.py")):
        print(f"perfbench: no jitsu_spark package under {ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    declared = declared_metrics(args.trace)
    sys.path.insert(0, ROOT)
    from perfbench.timeline import Tracer
    from perfbench.workloads import WORKLOADS, Run

    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace}")
    timer = watchdog()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        spark = start_spark(work)
        session_s = time.time() - t_start
        run = Run(spark, work, args.seed, args.seconds, Tracer(bool(args.trace)))
        run.notes.append(f"session start: {session_s:.2f} s")
        WORKLOADS[args.workload](run, t_start)
    except Exception:  # noqa: BLE001 - report and fail the run, print no result
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        timer.cancel()

    trace_path = (os.path.join(base, f"trace-{args.workload}-seed{args.seed}.json")
                  if args.trace else None)
    return report(run, declared, trace_path, t_start)


def report(run, declared: dict[str, str], trace_path: str | None, t_start: float) -> int:
    """Print the run's notes, its metrics and, last, the JSON result line:
    the end-to-end metrics, or with a ``trace_path`` the per-layer ones,
    whose spans go to that file.

    A run that could not measure a declared metric (a tail that did not
    keep up, every timed call failed) still prints its result, with the
    metrics it has, and exits 1."""
    run.e2e["ok_ops_ratio"] = ((run.attempted - run.failed) / max(run.attempted, 1), "ratio")
    run.notes.append(f"run wall: {time.time() - t_start:.2f} s")
    for note in run.notes:
        print(note)
    for name, (value, unit) in sorted(run.e2e.items()):
        print(f"metric {name} {value} {unit}")
    if trace_path:
        run.layer["harness.trace_overhead_ms"] = run.tracer.hook_s * 1e3
        run.tracer.dump(trace_path, run.layer)
        print(f"spans written to {os.path.relpath(trace_path, ROOT)}")
        for name, value in sorted(run.layer.items()):
            print(f"layer {name} {value}")
        metrics = {n: {"value": run.layer[n], "unit": u} for n, u in declared.items()
                   if n in run.layer}
    else:
        metrics = {n: {"value": run.e2e[n][0], "unit": u} for n, u in declared.items()
                   if n in run.e2e and run.e2e[n][1] == u}
    missing = sorted(set(declared) - set(metrics))
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
    print(json.dumps({
        "correct": run.correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0 if run.correct and not missing else 1


if __name__ == "__main__":
    sys.exit(main())
