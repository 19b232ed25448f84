"""Reference-flow benchmark for data_lakehouse_platform_spark.

    python3 perfbench/run.py --workload analyst_stream --seed 1 --seconds 18 --trace 0

Workloads (see README.md): ``analyst_stream`` (the order stream, then
closed-loop passes over registry queries) and ``medallion_daily``
(a full load and an incremental day on the medallion lake, gold fact
on delta_lite).  The untraced run prints the end-to-end metrics;
``--trace 1`` prints the per-layer metrics derived from spans and
Spark counters and writes the spans to
``.bench_build/perfbench/spans-<workload>-<seed>.jsonl``.
Human-readable report lines go first; the last stdout line is one
JSON object.  Exit code 0 only when every output matched its check.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "data_lakehouse_platform_spark"

sys.path.insert(0, str(HERE))

import measure  # noqa: E402
import refdata  # noqa: E402

SETUP_REPS = 3


class Ctx:
    """What a workload gets: the session, the seed, the measuring
    window, a private work directory and the recorders."""

    def __init__(self, spark, seed, seconds, work, tracer, counters):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.counters = counters
        self.span = tracer.span


def _export_env(work: Path) -> int:
    """Pin parallelism to this box and keep every file the session
    writes inside ``work``; returns the CPU count used."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_SHUFFLE"] = str(cpus)
    # Python workers (the eventlog source, pandas UDFs) import the
    # package too: export the checkout root, not just sys.path.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    # no hsperfdata file under /tmp: the JVM writes only inside ``work``
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return cpus


def _git_commit() -> str:
    if not (ROOT / ".git").exists():
        return "unknown"
    try:
        return subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _on_term(*_) -> None:
    """A terminated run still cleans up: SIGTERM unwinds through the
    ``finally`` blocks, and a second SIGTERM cannot cut them short."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(143)


def _stop_gateway() -> None:
    """End the driver JVM (and with it the Python workers) and wait
    for it, instead of leaving it to interpreter exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is None or proc is None:
        return
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"expected one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]

    signal.signal(signal.SIGTERM, _on_term)
    work = ROOT / ".bench_build" / "perfbench" / f"{args.workload}-{os.getpid()}"
    if work.exists():
        shutil.rmtree(work)
    cpus = _export_env(work)
    sys.path.insert(0, str(ROOT))

    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cpus,
        "git_commit": _git_commit(),
        "input_fingerprint": refdata.fingerprint(),
        "loadavg_before": measure.loadavg(),
    }
    # Drawing the seeded inputs from the reference tables is the
    # benchmark's own work: done once, outside the set-up timer.
    drawn = wl.draw(args.seed, refdata.load())
    jiffies0 = measure.cpu_jiffies()
    tracer = measure.Tracer(enabled=bool(args.trace))
    spark = None
    try:
        with measure.RssSampler() as rss:
            t0 = time.perf_counter()
            with tracer.span("session.start"):
                from data_lakehouse_platform_spark.session import get_spark

                spark = get_spark(f"perfbench-{args.workload}")
                spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t0
            stamp["spark_master"] = spark.sparkContext.master
            ctx = Ctx(spark, args.seed, args.seconds, work, tracer,
                      measure.SparkCounters(spark, bool(args.trace)))
            prep_times = []
            for rep in range(SETUP_REPS):
                t = time.perf_counter()
                with tracer.span("setup.prepare"):
                    inputs = wl.prepare(ctx, drawn, rep)
                prep_times.append(time.perf_counter() - t)
            res = wl.run(ctx, inputs)
        res.e2e["setup_s"] = session_s + measure.median(prep_times)
        res.layers["mem.peak_rss_mb"] = rss.peak_mb
        res.report.append(f"  peak_rss_mb {rss.peak_mb:.1f} MB (driver JVM + Python workers)")
        res.layers["session.start_s"] = session_s
        if args.trace:
            res.layers.update(_trace_summary(tracer, res))
            tracer.dump(str(work.parent / f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        try:
            if spark is not None:
                try:
                    spark.stop()
                finally:
                    _stop_gateway()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    jiffies1 = measure.cpu_jiffies()
    total = sum(jiffies1.values()) - sum(jiffies0.values())
    stamp["loadavg_after"] = measure.loadavg()
    stamp["steal_jiffies"] = jiffies1["steal"] - jiffies0["steal"]
    stamp["steal_frac"] = round(stamp["steal_jiffies"] / total, 4) if total else 0.0

    for line in res.report:
        print(line)
    print("stamp " + json.dumps(stamp, sort_keys=True))
    names = workloads.TRACE_METRICS if args.trace else workloads.E2E_METRICS
    source = res.layers if args.trace else res.e2e
    metrics = {n: {"value": float(source.get(n, 0.0)), "unit": u} for n, u in names.items()}
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    sys.stdout.flush()
    return 0 if res.failed == 0 else 1


def _trace_summary(tracer: measure.Tracer, res) -> dict[str, float]:
    """Self time per layer (span names are ``<layer>.<call>``) plus
    the tracer's own bookkeeping cost and the traced end-to-end
    figures, which against an untraced run give the tracing overhead."""
    out: dict[str, float] = {}
    for name, secs in measure.self_times(tracer.spans).items():
        key = f"self.{name.split('.')[0]}_s"
        out[key] = out.get(key, 0.0) + secs
    out["trace.spans"] = len(tracer.spans)
    out["trace.bookkeeping_s"] = tracer.bookkeeping_s
    for name, value in res.e2e.items():
        out[f"traced.{name}"] = value
    return out


if __name__ == "__main__":
    sys.exit(main())
