"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout.  One process, one Spark session on
``local[$SPARK_GRAFT_CPUS]`` (default: half the cores), one client in a
closed loop.  A run measures a fixed number of the workload's cycles: the
fewest that take at least ``seconds`` on a 4-vCPU host.  Human-readable lines (run metadata, every metric with its unit and
every output-check verdict) come first; the last line of standard output is
one JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs one
more cycle untimed, then an untraced phase, a traced phase with the span
wrappers of ``perfbench/trace.py`` installed, and another untraced phase,
each of the cycles that take at least ``seconds / 3``.  It reports the
per-layer metrics and the tracing overhead (per operation kind, median
traced minus median untraced wall), and writes every span to
``.perfbench/out/trace_<workload>_<seed>.json``.

Scratch data lives in ``.perfbench/work`` and is removed at exit; temporary
files of the engine and of Spark are kept there too (``TMPDIR``,
``java.io.tmpdir``, ``SPARK_LOCAL_DIRS``).
"""

from __future__ import annotations

import argparse
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("nightly_load", "registry_mix")


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def _prepare_env(work: str) -> None:
    """Set before the JVM and any Python worker start: workers import the
    package through PYTHONPATH, and every temporary file stays in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # Half the cores run tasks; the rest are left to the driver process, the
    # JVM's compiler and GC threads and the Python workers.  On a virtual
    # machine whose host is oversubscribed, the host takes time away from
    # busy cores, and a task it stops stalls the stage that waits for it:
    # with a task thread on every core, the figures followed the host more
    # than the program.
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = os.environ.get("SPARK_GRAFT_CPUS") or str(max(1, cores // 2))
    # Every JVM, the spark-submit launcher included, would otherwise keep a
    # performance-data file under /tmp while it runs.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp}' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def _steal_s() -> float:
    """CPU time stolen from this VM by its host so far (from /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _peak_rss_mb(pid: int) -> float | None:
    """Peak resident memory of one process (VmHWM), from /proc."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return None


def _metadata(spark, args) -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    jvm = spark.sparkContext._jvm
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "JAVA_TOOL_OPTIONS": os.environ.get("JAVA_TOOL_OPTIONS"),
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "commit": commit,
    }


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for every process they
    started (the PySpark worker pool outlives the JVM by a moment)."""
    from pyspark import SparkContext

    from perfbench.harness import descendants

    started = descendants(os.getpid())
    try:
        _stop_jvm(spark, SparkContext._gateway)
    finally:
        deadline = time.monotonic() + 15
        while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in started):
            time.sleep(0.1)
        for pid in started:
            try:
                os.kill(pid, signal.SIGKILL)
            except (ProcessLookupError, PermissionError):
                pass


def _stop_jvm(spark, gateway) -> None:
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # A terminated run still stops its JVM and removes its scratch.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "trafsys_data_transfer_spark")):
        _fail(f"no trafsys_data_transfer_spark package under {ROOT}; run from a source checkout")
    work = os.path.join(STATE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work)
    sys.path.insert(0, ROOT)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    from pyspark import SparkContext

    from perfbench import report
    from perfbench.harness import Ctx, NullTracer

    load_start, steal_start = os.getloadavg(), _steal_s()
    t0 = time.perf_counter()
    from trafsys_data_transfer_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        meta = _metadata(spark, args)
        meta["loadavg_start"] = load_start
        ctx = Ctx(spark=spark, seed=args.seed, work=work,
                  fixtures=os.path.join(HERE, "fixtures"), tracer=NullTracer())
        wl = _workload(args.workload, ctx)
        wl.setup()
        wl.in_setup = False
        tracing = None
        if args.trace:
            from perfbench import trace

            # The JVM is still speeding up over the first cycles: one more
            # cycle untimed, then untraced, traced and untraced phases, so
            # that untraced cycles on both sides of the traced one cancel
            # most of the remaining drift in the overhead.
            phase = wl.cycles_for(args.seconds / 3)
            wl.phase = "warm"
            wl.run_cycles(1)
            wl.phase = "timed"
            wl.run_cycles(phase)
            tracing = trace.install(ctx, f"{args.workload}-{args.seed}")
            wl.phase = "traced"
            try:
                wl.run_cycles(phase)
            finally:
                tracing.uninstall()
            wl.phase = "timed"
            wl.run_cycles(phase)
        else:
            wl.run_cycles(wl.cycles_for(args.seconds))
        wl.final_checks()
        jvm = getattr(SparkContext._gateway, "proc", None)
        meta["peak_rss_mb"] = {
            "python": _peak_rss_mb(os.getpid()),
            "jvm": _peak_rss_mb(jvm.pid) if jvm is not None else None,
        }
    finally:
        _stop(spark)
    meta["loadavg_end"] = os.getloadavg()
    meta["cpu_steal_s"] = _steal_s() - steal_start
    result = report.summarize(wl, session_s, tracing)
    report.emit(meta, wl, result, tracing, STATE, args)
    return 0


def _workload(name: str, ctx):
    if name == "nightly_load":
        from perfbench.nightly import NightlyLoad

        return NightlyLoad(ctx)
    from perfbench.registry_mix import RegistryMix

    return RegistryMix(ctx)


if __name__ == "__main__":
    raise SystemExit(main())
