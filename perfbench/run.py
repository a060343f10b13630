"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 22 --trace 0

Run it from the root of a checkout: it imports the package from there and
keeps every file it writes under ``.perfbench/`` in that checkout. With
``--trace 0`` the result holds the end-to-end metrics, with ``--trace 1``
the per-layer metrics of a traced run. Each run also writes a record with
calibration fields and the workload's detail figures to
``.perfbench/results/`` (and, when traced, its spans to
``.perfbench/traces/``). See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shlex
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "server2_vector_search_server_spark"
WORKLOADS = ("serve", "pipeline")
CPUS = 4
DRIVER_MEMORY = "2g"


def listed(kind: str) -> list[dict]:
    """The ``end_to_end`` or ``per_layer`` metrics of ``BENCHMARK.json``,
    which owns every metric's name and unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)[kind]


def cpu_reference_s() -> float:
    """Seconds for SHA-256 over 64 MiB on one core, best of 3: a fixed
    amount of work that tells how fast this machine was at run time."""
    blob = b"\x5a" * (1 << 20)
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(64):
            h.update(blob)
        h.digest()
        best = min(best, time.perf_counter() - t)
    return best


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal, ...), in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests meanwhile."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process (VmHWM), in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def configure_environment(work: str) -> None:
    """Keep Spark's and Python's temporary files inside ``work``, and fix the
    session shape: local[4], and a JVM heap fixed at 2 GiB, since a heap
    that grows on demand ends each run at a different size, and GC cost and
    peak memory follow it. Must run before pyspark starts its JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["SPARK_GRAFT_SILVER_ROOT"] = os.path.join(work, "silver")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ.pop("SPARK_MASTER", None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote("spark.sql.warehouse.dir="
                              + os.path.join(work, "warehouse")),
        "--driver-java-options",
        # no hsperfdata file: the JVM would write it under the system /tmp
        shlex.quote(f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData "
                    f"-Djava.io.tmpdir={tmp}"),
        "pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()     # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}; run from a "
              "full checkout", file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    calibration = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "loadavg_before": os.getloadavg(), "nproc": os.cpu_count(),
        "cpus_allowed": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
    }
    calibration["cpu_ref_s"] = cpu_reference_s()
    ticks = cpu_ticks()
    sys.path[:0] = [ROOT, HERE]

    import layers
    import workloads
    from cpu import CpuMeter
    from spans import Tracer, WorkMeter

    tracer = Tracer() if args.trace else None
    spark = work_meter = None
    try:
        configure_environment(work)
        from pyspark import __version__ as spark_version

        from server2_vector_search_server_spark import session

        calibration["spark"] = spark_version
        if tracer is not None:
            layers.instrument(tracer)
        ctx = workloads.Context(spark=None, seed=args.seed,
                                seconds=args.seconds, work=work,
                                tracer=tracer)
        ctx.request("setup")
        t = time.perf_counter()
        if tracer is not None:
            with tracer.span("session.get_spark"):
                spark = session.get_spark("perfbench")
            tracer.bind(spark)
        else:
            spark = session.get_spark("perfbench")
        spark_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        jvm_pid = spark.sparkContext._gateway.proc.pid
        work_meter = WorkMeter(spark)
        ctx.spark, ctx.cpu, ctx.counts = spark, CpuMeter(jvm_pid), work_meter
        measured = getattr(workloads, args.workload)(ctx)
        peak_rss_mb = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        e2e = {
            "setup_s": spark_s + measured.setup_s,
            "py4j_calls_per_op": measured.py4j_calls_per_op,
            "spark_jobs_per_op": measured.jobs_per_op,
            "peak_rss_mb": peak_rss_mb,
        }
        detail = dict(measured.detail, main_op_ms=measured.main_op_ms,
                      main_op_cpu_ms=measured.main_op_cpu_ms,
                      cpu_ms_per_op=measured.cpu_ms_per_op,
                      spark_start_s=spark_s,
                      workload_setup_s=measured.setup_s,
                      error_rate=ctx.ledger.error_rate)
        if tracer is not None:
            values = layers.per_layer(tracer, ctx.requests, measured, detail)
            names = listed("per_layer")
        else:
            values, names = e2e, listed("end_to_end")
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in names}
        calibration["loadavg_after"] = os.getloadavg()
        calibration["steal_share"] = steal_share(ticks, cpu_ticks())
        tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        if tracer is not None:
            os.makedirs(os.path.join(out_dir, "traces"), exist_ok=True)
            tracer.dump(os.path.join(out_dir, "traces", f"{tag}.json"),
                        calibration=calibration)
        record = {"calibration": calibration,
                  "end_to_end": e2e,
                  "detail": detail,
                  "attempted": ctx.ledger.attempted,
                  "failed": ctx.ledger.failed,
                  "problems": ctx.ledger.problems[:50]}
        os.makedirs(os.path.join(out_dir, "results"), exist_ok=True)
        with open(os.path.join(out_dir, "results", f"{tag}.json"), "w") as fh:
            json.dump(record, fh, indent=1, default=str)
    finally:
        if work_meter is not None:
            work_meter.close()
        if tracer is not None:
            tracer.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"detail": detail, "calibration": calibration,
                      "problems": ctx.ledger.problems[:10]}, default=str))
    print(json.dumps({"correct": ctx.ledger.failed == 0,
                      "attempted": ctx.ledger.attempted,
                      "failed": ctx.ledger.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
