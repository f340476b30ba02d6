#!/usr/bin/env python3
"""Benchmark driver for the azure_etl_spark engine.

    python3 perfbench/run.py --workload medallion_batch --seed 1 --seconds 8 --trace 0

Run from the root of a source checkout. One Python driver starts one
Spark driver on ``local[N]``, N = the CPUs this process may run on,
through the engine's own ``session_builder`` (engine defaults; only the
console progress bar is turned off so stdout carries result lines, and
traced runs turn on an uncompressed event log). The workload runs as a
closed loop with a single caller: each iteration starts after the
previous result is complete and checked. The loop runs until
``--seconds`` have passed, at least one iteration.

Inputs are the fixture tables under ``perfbench/fixtures``; ``--seed``
picks only the inputs a workload derives from them. Expected outputs are
computed first, untimed. Set-up, timed as ``setup_s``: launch the JVM,
start the session and build the workload's inputs. There is no warm-up:
the first iteration is the first pass of a fresh session, as for a batch
job submitted on its own, and pays the session's code generation, JIT
compilation and Python worker start-up.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer metrics of ``BENCHMARK.json``.

``--scale tiny`` measures on the sf0.001 tables and ``--plant-wrong
<part>`` corrupts one expected value of that part; ``selfcheck.py`` uses
both to prove the metrics and output checks work.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
E2E_UNITS = {"wall_s": "s", "cpu_s": "s", "setup_s": "s"}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "tiny"), default="bench")
    ap.add_argument("--plant-wrong", metavar="PART",
                    help="corrupt one expected value of this part")
    return ap.parse_args(argv)


# ------------------------------------------------------------ /proc

def _stat(pid: int):
    """(ppid, cpu seconds incl. reaped children) of ``pid`` from /proc."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    ticks = os.sysconf("SC_CLK_TCK")
    # fields[0] is state; utime, stime, cutime, cstime are 11..14
    return int(fields[1]), sum(int(x) for x in fields[11:15]) / ticks


def process_tree(root_pid: int) -> dict[int, float]:
    """CPU seconds of ``root_pid`` and every live descendant."""
    info = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                info[int(name)] = _stat(int(name))
            except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
                continue
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in info.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        if pid in info:
            out[pid] = info[pid][1]
            todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(jvm_pid: int) -> float:
    """CPU of the Python driver, the driver JVM and its Python workers."""
    self_cpu = sum(os.times()[:2])
    return self_cpu + sum(process_tree(jvm_pid).values())


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# ------------------------------------------------------------ session

def keep_scratch_inside(work: str) -> None:
    """Point Spark's local dirs, the JVM's and Python's temp dirs into
    ``work``, so a run writes nothing outside its checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        p for p in (
            os.environ.get("SPARK_SUBMIT_OPTS"),
            f"-Djava.io.tmpdir={tmp}",
            "-XX:-UsePerfData",  # no hsperfdata file in the system temp dir
        ) if p
    )


def start_session(trace_dir: str | None):
    from azure_etl_spark.session import session_builder

    cpus = len(os.sched_getaffinity(0))
    builder = session_builder(
        app_name="azure-etl-spark-perfbench", master=f"local[{cpus}]"
    ).config("spark.ui.showConsoleProgress", "false")
    if trace_dir is not None:
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + trace_dir)
            .config("spark.eventLog.compress", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def shutdown_jvm(pid: int | None) -> None:
    """Stop the session, the py4j gateway and the JVM with its Python
    workers, and wait for all of them to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    tree = list(process_tree(pid)) if pid else []
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    for p in tree:
        while os.path.exists(f"/proc/{p}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, 9)
            except ProcessLookupError:
                pass


# ------------------------------------------------------------ main loop

def iterate(wl, spark, inputs, expected, out_root, tracer, pid):
    """One closed-loop iteration; returns (wall s, cpu s, result, errors)."""
    from workloads import dir_bytes

    os.makedirs(out_root)
    tracer.begin_iteration()
    cpu0 = cpu_seconds(pid)
    t0 = time.perf_counter()
    try:
        result = wl.run(spark, inputs, out_root, tracer)
        wall = time.perf_counter() - t0
        cpu = cpu_seconds(pid) - cpu0
    except Exception:
        traceback.print_exc()
        return None, None, None, ["iteration raised"]
    finally:
        tracer.end_iteration()
    try:
        errs = wl.check(spark, expected, result, out_root)
    except Exception:
        traceback.print_exc()
        errs = ["output check raised"]
    result["bytes_written"] = dir_bytes(out_root)
    shutil.rmtree(out_root, ignore_errors=True)
    for e in errs:
        print(f"[{wl.name}] output check failed: {e}", file=sys.stderr)
    return wall, cpu, result, errs


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import azure_etl_spark  # noqa: F401  (fail fast outside a checkout)

    from tracing import Tracer, per_iteration
    from workloads import WORKLOADS, median

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    tiny = args.scale == "tiny"
    expected = wl.expect(args.seed, tiny)
    if args.plant_wrong:
        wl.parts[args.plant_wrong].plant_wrong(expected[args.plant_wrong])

    work = os.path.join(ROOT, ".perfbench_work", f"{wl.name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    trace_dir = os.path.join(work, "eventlog") if args.trace else None
    if trace_dir:
        os.makedirs(trace_dir)
    keep_scratch_inside(work)
    pid = None
    try:
        t0 = time.perf_counter()
        spark = start_session(trace_dir)
        pid = jvm_pid(spark)
        t1 = time.perf_counter()
        inputs = wl.prepare(spark, args.seed, tiny)
        t2 = time.perf_counter()
        setup = {"setup_s": t2 - t0, "session_s": t1 - t0, "inputs_s": t2 - t1}
        print(f"[{wl.name}] set-up {setup}", file=sys.stderr)

        tracer = Tracer(spark=spark, enabled=bool(args.trace),
                        default_label=wl.default_label)
        if args.trace:
            wl.instrument(tracer)
        walls, cpus, results = [], [], []
        attempted = failed = 0
        start = time.perf_counter()
        while attempted == 0 or time.perf_counter() - start < args.seconds:
            wall, cpu, result, errs = iterate(
                wl, spark, inputs, expected, os.path.join(work, f"out{attempted}"),
                tracer, pid,
            )
            attempted += 1
            failed += bool(errs)
            parts = {k: round(sum(tracer.spans[-1].get(k, ())), 3) for k in wl.parts}
            print(f"[{wl.name}] iteration {attempted}: wall {wall} s, cpu {cpu} s, "
                  f"parts {parts}", file=sys.stderr)
            if result is not None:
                walls.append(wall)
                cpus.append(cpu)
                results.append(result)
        tracer.unpatch()
        rss = peak_rss_mb(pid) + peak_rss_mb(os.getpid())

        if args.trace:
            spark.stop()  # flushes the event log
            stats = per_iteration(tracer, trace_dir)
            metrics = layer_metrics(wl, tracer, stats, results, walls, setup, rss)
        else:
            e2e = {"wall_s": median(walls), "cpu_s": median(cpus),
                   "setup_s": setup["setup_s"]}
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    finally:
        shutdown_jvm(pid)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))

    print(json.dumps({"workload": wl.name, "seed": args.seed, "samples": len(walls)}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


# per-layer metrics shared by every workload
COMMON_UNITS = {
    "trace.wall_s": "s",
    "setup.session_s": "s",
    "setup.inputs_s": "s",
    "mem.peak_rss_mb": "MB",
    "files.bytes_written_mb": "MB",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.python_bytes": "bytes",
    "spark.executor_cpu_s": "s",
    "spark.driver_gap_s": "s",
}


def listed_per_layer() -> dict[str, str]:
    """name -> unit of the per-layer metrics listed in BENCHMARK.json."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def layer_metrics(wl, tracer, stats, results, walls, setup, rss) -> dict:
    from workloads import median

    values = {
        "trace.wall_s": median(walls),
        "setup.session_s": setup["session_s"],
        "setup.inputs_s": setup["inputs_s"],
        "mem.peak_rss_mb": rss,
        "files.bytes_written_mb": median(r["bytes_written"] for r in results) / 1e6,
        "spark.jobs": median(s.total("jobs") for s in stats),
        "spark.tasks": median(s.total("tasks") for s in stats),
        "spark.shuffle_write_bytes": median(s.total("shuffle_write_bytes") for s in stats),
        "spark.python_bytes": median(s.total("python_bytes") for s in stats),
        "spark.executor_cpu_s": median(s.total("executor_cpu_ns") for s in stats) / 1e9,
        "spark.driver_gap_s": median(s.driver_gap_s for s in stats),
    }
    values.update(wl.layers(tracer, stats, results))
    units = {**listed_per_layer(), **COMMON_UNITS, **wl.layer_units}
    # a layer this workload does not run reads 0 (no work done there)
    return {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit in units.items()
    }


if __name__ == "__main__":
    sys.exit(main())
