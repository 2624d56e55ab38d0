"""Lakehouse benchmark: one workload per run, untraced or traced.

    python3 perfbench/run.py --workload tpch_sf0.01 --seed 1 --seconds 5 --trace 0

Run from the repository root. The run makes its inputs from ``--seed``
under ``.perfbench_run/`` (deleted at start and end), starts the
production ``get_session`` profile sized for the host, scans each input
once, runs the workload's fixed pass and then further ops until
``--seconds`` have elapsed, checks every op's output, and prints one JSON
line: end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. It exits 1 if any output check fails and 2, printing no
result, if the run cannot complete.
"""

from __future__ import annotations

import argparse
import contextlib
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

import tracing
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
#: driver heap sized for a 4-core / 15 GB host (the get_session default
#: of 48g exceeds it); the JVM's peak RSS here is 2.5-3 GB
DRIVER_MEM = "3g"
#: a fixed-size heap and young generation, so the JVM's peak RSS follows
#: the data it holds rather than the collector's adaptive resizing
DRIVER_JAVA_OPTIONS = "-Xms3g -Xmn1g"

#: end-to-end metrics (name -> unit) of an untraced run
END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "write_bytes_per_input_byte": "ratio",
}
LAYER_UNITS = {name: unit for name, unit, _better in tracing.ALL_LAYER_METRICS}


def process_start_time() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def process_tree(root_pid: int) -> dict[int, int]:
    """``root_pid`` and its live descendants, each with its user + system
    CPU ticks including what it collected from exited children."""
    children: dict[int, list[int]] = {}
    cpu: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        cpu[pid] = sum(int(x) for x in fields[11:15])
    tree, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        if pid in cpu:
            tree[pid] = cpu[pid]
            todo.extend(children.get(pid, []))
    return tree


def tree_cpu_s(root_pid: int) -> float:
    return sum(process_tree(root_pid).values()) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM")


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def shuffle_write_bytes(spark) -> int:
    """Shuffle bytes written since the session started (executor summaries
    are cumulative and outlive the job and stage retention limits)."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    execs = jsc.statusStore().executorList(False)
    return sum(execs.apply(i).totalShuffleWrite() for i in range(execs.size()))


def sentinel_s(spark) -> float:
    """bench.py's host-weather job: a fixed range-sum whose time moves only
    with host load. Reported for diagnosis; it adjusts no metric."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(0, 20_000_000, 1, 32).select(F.sum("id")).write.format("noop").mode(
        "overwrite"
    ).save()
    return time.perf_counter() - t0


def log_errors(path: str, offset: int) -> list[str]:
    """log4j ERROR lines and Python tracebacks written after ``offset``."""
    with open(path, errors="replace") as f:
        f.seek(offset)
        lines = f.read().splitlines()
    out = []
    for i, line in enumerate(lines):
        if " ERROR " in line:
            out.append(line)
        elif line.startswith("Traceback (most recent call last)"):
            # name the traceback by its last line, the exception
            end = next((j for j in range(i + 1, len(lines)) if not lines[j].startswith(" ")), i)
            out.append(lines[end])
    return out


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q * len(ordered)) - 1)]


def configure_env() -> int:
    ncpu = len(os.sched_getaffinity(0))
    tmp = os.path.join(RUN_DIR, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(ncpu),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(RUN_DIR, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return ncpu


def stop_spark(spark, jvm_pid: int) -> None:
    """Stop the session, then wait for the JVM and the Python workers it
    started to exit."""
    from pyspark import SparkContext

    started = set(process_tree(jvm_pid))
    gateway = SparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while (alive := [p for p in started if os.path.exists(f"/proc/{p}")]):
        if time.monotonic() > deadline:
            for p in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            break
        time.sleep(0.1)


def run(args) -> tuple[dict, dict, dict]:
    started = process_start_time()
    ncpu = configure_env()
    log_path = os.path.join(RUN_DIR, "spark.log")
    log_fd = os.open(log_path, os.O_CREAT | os.O_WRONLY | os.O_APPEND)
    os.dup2(log_fd, 2)

    sys.path.insert(0, ROOT)
    from breweries_case_spark.session import get_session

    phases = {"imported": time.time() - started}
    spark = get_session(
        app_name=f"perfbench-{args.workload}",
        extra_configs={"spark.driver.extraJavaOptions": DRIVER_JAVA_OPTIONS},
    )
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    try:
        phases["session"] = time.time() - started
        wl = workloads.WORKLOADS[args.workload](spark, RUN_DIR, args.seed)
        wl.prepare()
        phases["inputs"] = time.time() - started
        wl.warm()
        setup_s = time.time() - started

        tracer = tracing.Tracer(spark) if args.trace else tracing.NullTracer()
        if args.trace:
            tracer.install()
        weather = [sentinel_s(spark)]
        shuffle0 = shuffle_write_bytes(spark)
        cpu0 = tree_cpu_s(os.getpid())
        log_offset = os.path.getsize(log_path)

        ops, latencies, raised = [], [], set()
        pending = wl.fixed()
        extra = 0
        window_start = time.perf_counter()
        # the window excludes counter collection, which runs between ops
        while pending or (
            time.perf_counter() - window_start - tracer.collect_s < args.seconds
        ):
            if pending:
                op = pending.pop(0)
            else:
                op = wl.extra(extra)
                extra += 1
            ops.append(op)
            t0 = time.perf_counter()
            try:
                with tracer.op():
                    op.fn(tracer)
            except Exception:
                raised.add(len(ops) - 1)
                traceback.print_exc()
            latencies.append(time.perf_counter() - t0)
            tracer.collect()
        wall_s = sum(latencies)

        cpu_s = tree_cpu_s(os.getpid()) - cpu0
        peak_rss_mb = vm_hwm_mb(jvm_pid)
        errors = log_errors(log_path, log_offset)
        written = sum(dir_bytes(d) for d in wl.table_dirs)
        shuffled = shuffle_write_bytes(spark) - shuffle0
        weather.append(sentinel_s(spark))

        failed = wl.check(ops)
        for i in raised:
            failed[i] = "raised"
        diag = {
            "workload": args.workload,
            "seed": args.seed,
            "cpus": ncpu,
            "driver_memory": DRIVER_MEM,
            "ops": [
                {"op": op.name, "s": round(lat, 4), **({"failed": failed[i]} if i in failed else {})}
                for i, (op, lat) in enumerate(zip(ops, latencies))
            ],
            "op_samples": len(latencies),
            "op_p90_s": percentile(latencies, 0.9),
            "failed_op_frac": len(failed) / len(ops),
            "table_bytes": written,
            "shuffle_write_bytes": shuffled,
            "input_bytes": wl.input_bytes,
            "sentinel_s": [round(w, 4) for w in weather],
            "setup_phases_s": {k: round(v, 3) for k, v in phases.items()},
            "log_errors": len(errors),
            "log_error_examples": sorted(set(errors))[:5],
        }
        if args.trace:
            metrics = tracer.layer_metrics()
            metrics["pipelines.corpus.accepted_per_input"] = (
                wl.accepted_per_input(ops) if hasattr(wl, "accepted_per_input") else 0.0
            )
            metrics["io.snapshots.bytes_committed"] = float(written)
            metrics["session.log_error_lines"] = float(len(errors))
            metrics["unattributed.spark_jobs"] = float(tracer.unattributed_jobs)
            metrics["trace.wall_s"] = wall_s
            metrics["trace.span_overhead_s"] = tracer.bookkeeping_s
            diag["trace"] = {
                "missing": tracer.missing,
                "collect_s": round(tracer.collect_s, 3),
                "unknown_stage_lookups": tracer.unknown_stage_lookups,
            }
        else:
            metrics = {
                "setup_s": setup_s,
                "wall_s": wall_s,
                "op_p50_s": statistics.median(latencies),
                "cpu_s": cpu_s,
                "peak_rss_mb": peak_rss_mb,
                "write_bytes_per_input_byte": (written + shuffled) / wl.input_bytes,
            }
        return metrics, diag, failed
    finally:
        stop_spark(spark, jvm_pid)


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    real_stderr = os.fdopen(os.dup(2), "w")
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    try:
        metrics, diag, failed = run(args)
    except Exception:
        traceback.print_exc(file=real_stderr)
        log = os.path.join(RUN_DIR, "spark.log")
        if os.path.exists(log):
            with open(log, errors="replace") as f:
                real_stderr.write("".join(f.readlines()[-40:]))
        real_stderr.flush()
        return 2
    finally:
        shutil.rmtree(RUN_DIR, ignore_errors=True)
    print(json.dumps(diag, default=str))
    for i, reason in sorted(failed.items()):
        real_stderr.write(f"check failed: op {i} {diag['ops'][i]['op']}: {reason}\n")
    real_stderr.flush()
    units = END_TO_END_UNITS if not args.trace else LAYER_UNITS
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": len(diag["ops"]),
                "failed": len(failed),
                "metrics": {
                    k: {"value": v, "unit": units[k]} for k, v in metrics.items()
                },
            }
        )
    )
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
