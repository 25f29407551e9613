"""Closed-loop benchmark of the pyrdf2vec_spark pipeline.

One workload per process: one client submits identical jobs back to back
through the package's public API, checks each job's outputs against
computations made apart from the program, and prints one JSON object as
the last line of standard output.

    python3 pipebench/run.py --workload transcripts_build --seed 1 \
        --seconds 1 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics (see README.md). Run it from the root of a checkout; everything
it writes stays under ``.pipebench_work/`` there and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

import tracing
from workloads import WORKLOADS, files_written

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "3g"  # fits beside other tenants of a 15 GB machine


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n))
        for d, _, fs in os.walk(path) for n in fs
    )


def start_spark(work: str, traced: bool):
    from pyrdf2vec_spark import get_spark

    # no JVM perf-data file in the host's /tmp
    java_opts = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    conf = {"spark.sql.warehouse.dir": f"{work}/warehouse"}
    if traced:
        os.makedirs(f"{work}/events")
        java_opts += f" -Xlog:gc:file={work}/gc.log"
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/events",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    conf["spark.driver.extraJavaOptions"] = java_opts
    return get_spark("pipebench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait until every child has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc = gateway.proc
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while (left := tracing.descendants(os.getpid())) and time.time() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while tracing.descendants(os.getpid()):
        time.sleep(0.2)


def run(args, work: str) -> dict:
    t_proc = time.time() - tracing.process_age_s()
    # the program under test is the checkout's own package, never one
    # installed elsewhere
    if not os.path.isfile(os.path.join(ROOT, "pyrdf2vec_spark", "__init__.py")):
        raise SystemExit(f"pipebench: no pyrdf2vec_spark package in {ROOT}")
    sys.path.insert(0, ROOT)
    os.makedirs(f"{work}/tmp")
    os.environ.update({
        "TMPDIR": f"{work}/tmp",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": f"{work}/local",
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    steal0, load0 = tracing.host_cpu(), tracing.load_average()
    wl = WORKLOADS[args.workload](work, args.seed)
    own_s = 0.0  # the benchmark's own work: inputs and checks

    t = time.time()
    wl.make_inputs()
    input_s = time.time() - t
    own_s += input_s

    fails: list[str] = []
    jobs: list[dict] = []
    spark = start_spark(work, args.trace)
    tracer = tracing.Tracer(spark) if args.trace else None
    try:
        wl.setup(spark)
        t = time.time()
        fails += wl.check_setup()
        own_s += time.time() - t
        setup_s = time.time() - t_proc - own_s
        timed_s = 0.0
        while not jobs or timed_s < args.seconds:
            n = len(jobs)
            out = f"{work}/job{n}"
            if tracer:
                tracer.job = n
                tracer.install()
            cpu0, t0 = tracing.tree_cpu_s(), time.time()
            try:
                pipe = wl.job(out)
            finally:
                wall = time.time() - t0
                cpu = tracing.tree_cpu_s() - cpu0
                if tracer:
                    tracer.uninstall()
                    tracer.job = None
            t = time.time()
            written = _du(out)
            counts = {"storage.files_written": files_written(out)}
            job_fails, failed = wl.check(pipe, out, counts)
            fails += [f"job {n}: {m}" for m in job_fails]
            if tracer:
                wl.traced_counts(pipe, out, counts)
            jobs.append({"wall": wall, "cpu": cpu, "bytes": written,
                         "failed": failed, "counts": counts})
            timed_s += wall
            shutil.rmtree(out)
            own_s += time.time() - t
    finally:
        stop_spark(spark)
    steal1 = tracing.host_cpu()
    if tracer:
        metrics = per_layer(work, tracer, jobs, fails)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "job_s": (statistics.median(j["wall"] for j in jobs), "s"),
            "job_cpu_s": (statistics.median(j["cpu"] for j in jobs), "s"),
            "written_bytes": (statistics.median(j["bytes"] for j in jobs),
                              "bytes"),
        }
    diag = {
        "workload": args.workload, "seed": args.seed,
        "jobs": [(round(j["wall"], 3), round(j["cpu"], 3)) for j in jobs],
        "input_s": round(input_s, 3),
        "own_s": round(own_s, 3),
        "steal_pct": round(100 * (steal1[0] - steal0[0])
                           / max(1, steal1[1] - steal0[1]), 3),
        "load_avg": [load0, tracing.load_average()],
        "failures": fails[:20],
    }
    if tracer:
        # Spark's output metrics beside the bytes found on disk
        diag["storage_bytes_vs_disk"] = [
            (j["counts"]["storage.bytes_written"], j["bytes"]) for j in jobs]
    print(json.dumps({"diagnostics": diag}))
    return {
        "correct": not fails,
        "attempted": len(jobs),
        "failed": sum(j["failed"] for j in jobs),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def per_layer(work, tracer, jobs, fails) -> dict:
    """Medians over the traced jobs of the per-layer metrics."""
    (events,) = os.listdir(f"{work}/events")
    spark_jobs = tracing.read_event_log(f"{work}/events/{events}")
    rows = []
    for n, j in enumerate(jobs):
        j["counts"].update(tracing.reduce_job(tracer.spans, spark_jobs, n))
        j["counts"]["trace.overhead_s"] = tracer.overhead_s[n]
        rows.append(j["counts"])
        if j["counts"]["walks.tokens_spark"] != j["counts"]["walks.tokens"]:
            fails.append(
                f"job {n}: walks.tokens: Spark and DuckDB counts differ: "
                f"{j['counts']['walks.tokens_spark']} vs {j['counts']['walks.tokens']}")
    heap = tracing.peak_live_heap_mb(f"{work}/gc.log")
    return {
        k: (heap if k == "jvm.live_heap_mb"
            else statistics.median(r[k] for r in rows), tracing.unit(k))
        for k in tracing.PER_LAYER
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    work_root = os.path.join(ROOT, ".pipebench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:  # another run's directory is still there
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
