"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload live_wordcount --seed 1 \
        --seconds 8 --trace 0

Run from the repository root.  The last line of standard output is the
result: `{"correct", "attempted", "failed", "metrics"}` with every
end-to-end metric of BENCHMARK.json (`--trace 0`) or every per-layer
metric (`--trace 1`).  The line before it holds every metric the run
measured, the per-span self times of a traced run, and the run's
provenance.  Exit status is non-zero only when the run could not happen
(unknown workload, library missing).
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "2g"


def _pin_environment(workdir: str, cpus: int) -> None:
    """Session settings fixed by the benchmark, before pyspark starts:
    cores, driver heap, and every scratch location inside `workdir`."""
    local = os.path.join(workdir, "spark-local")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        # the status tracker must keep every job of the run
        "--conf spark.ui.retainedJobs=1000000",
        "--conf spark.ui.retainedStages=1000000",
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        "pyspark-shell"])


def _remove_stale(base: str) -> None:
    """Remove the work directories of earlier runs that were killed
    before they could clean up (`<workload>-<pid>`, pid not running)."""
    if not os.path.isdir(base):
        return
    for name in os.listdir(base):
        pid = name.rpartition("-")[2]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)


def _git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import pathway_spark
    except ImportError as exc:
        print(f"pathway_spark is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(pathway_spark.__file__).startswith(ROOT + os.sep):
        print("pathway_spark resolves outside the checkout", file=sys.stderr)
        return 2

    from perfbench import measure, workloads

    cpus = len(os.sched_getaffinity(0))
    # the run may write only inside the checkout, so its scratch lives
    # there too, in a git-ignored directory removed when the run ends
    base = os.path.join(ROOT, ".perfbench_run")
    _remove_stale(base)
    workdir = os.path.join(base, f"{args.workload}-{os.getpid()}")
    _pin_environment(workdir, cpus)
    os.chdir(workdir)
    spark = None
    try:
        t0 = time.perf_counter()
        from pathway_spark.session import get_spark
        spark = get_spark("perfbench", cpus=cpus)
        spark.sparkContext.setLogLevel("ERROR")
        get_spark_s = time.perf_counter() - t0
        session_s = time.perf_counter() - PROCESS_START
        run = workloads.Run(spark, seed=args.seed, seconds=args.seconds,
                            trace=bool(args.trace), workdir=workdir)
        workloads.WORKLOADS[args.workload](run)

        jvm_mb = measure.jvm_peak_rss_mb(spark)
        py_mb = measure.py_peak_rss_mb()
        # set-up as CPU time, which the host's load moves far less than
        # wall-clock time; the wall-clock figure is reported beside it
        run.e2e["setup_s"] = (run.setup_cpu_s, "s")
        run.e2e["setup_wall_s"] = (session_s + run.setup_wall_s, "s")
        run.e2e["peak_rss_mb"] = (jvm_mb + py_mb, "MB")
        run.e2e["busy_s"] = (run.busy_s, "s")
        run.e2e["cpu_s"] = (measure.median_total(run.op_cpu), "s")
        run.e2e["cpu_sum_s"] = (sum(map(sum, run.op_cpu.values())), "s")
        run.layer.update({
            "session.get_spark_s": (get_spark_s, "s"),
            "jvm.peak_rss_mb": (jvm_mb, "MB"),
            "py.peak_rss_mb": (py_mb, "MB"),
            "spark.failed_tasks": (run.groups.failed_tasks(), "count"),
            "failed_ops_ratio": (run.failed / max(1, run.attempted),
                                 "ratio"),
        })
        if args.trace:
            run.layer.update(run.span_metrics())
        provenance = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "git_commit": _git_commit(), "nproc": cpus,
            "driver_mem": DRIVER_MEM,
            "pyspark": __import__("pyspark").__version__,
            "java": spark._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "session_s": session_s,
            "workload_config": run.info,
        }
    finally:
        if spark is not None:
            _stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass                # another run still uses it

    # a layer the workload does not exercise reports 0
    measured = {**run.e2e, **run.layer}
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": measured.get(m["name"], (0.0,))[0],
                           "unit": m["unit"]} for m in wanted}
    detail = {
        "provenance": provenance,
        "attempted": run.attempted, "failed": run.failed,
        "all_metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in sorted(measured.items())},
    }
    if args.trace:
        detail["spans"] = run.span_summary
    print(json.dumps(detail))
    print(json.dumps({"correct": run.failed == 0,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
