"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 16 --trace 0

Works from any working directory. Each run is hermetic: its inputs,
index roots, Spark local dirs, warehouse and temp files live in one
run directory under ``.perfbench_runs/`` next to this package, deleted
at exit. The engine runs as a user gets it: ``get_spark()`` defaults,
``SPARK_GRAFT_CPUS`` equal to the CPUs this process may use, and no
other ``SPARK_GRAFT_*`` override.

Order of a run: generate the inputs from ``--seed``; compute the DuckDB
references; start the session and set the workload up; run the timed
window untraced. With ``--trace 1`` the window is split untraced /
traced / untraced (half, whole, half) on the same session, and the run
reports the per-layer metrics of the traced part, with the tracing
overhead measured against the untraced parts.

stdout: a ``# `` header line (workload, seed, nproc, versions), one
``report`` JSON line with every metric of the run by name and unit,
and last the result line ``{"correct", "attempted", "failed",
"metrics"}``. ``setup_s`` runs from process start to the first timed
op, less input generation and DuckDB references.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "write_p50_s": "s",
    "space_amp": "ratio",
    "failed_frac": "ratio",
    "peak_rss_mb": "MB",
    # context, reported by single workloads
    "spark_vs_duckdb": "ratio",
    "generator_lag_max_s": "s",
    "rate_per_s": "1/s",
    "deltas_folded": "count",
}
# printed in the result line with --trace 0. The rest are report-only:
# they do not exist on every workload, are 0 on a good run, or (the
# JVM's heap sizing in peak_rss_mb) spread wider run to run than any
# bound a gate could hold.
GATED = ("setup_s", "ops_per_s", "query_p50_s")
P90_MIN_SAMPLES = 100


def process_start() -> float:
    """This process's start time on the ``time.perf_counter`` clock."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.perf_counter() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (the JVM and its Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def rss_mb(pids: list[int]) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total / 2**20


class RssSampler:
    """Peak RSS of this process plus its descendants, sampled between ops."""

    MIN_INTERVAL_S = 0.2

    def __init__(self):
        self.peak = 0.0
        self._last = 0.0

    def __call__(self) -> None:
        now = time.perf_counter()
        if now - self._last < self.MIN_INTERVAL_S:
            return
        self._last = now
        me = os.getpid()
        self.peak = max(self.peak, rss_mb([me] + descendants(me)))


def hermetic_env(run_dir: str, cpus: int) -> None:
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_INDEX_ROOT=os.path.join(run_dir, "index"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(run_dir, "warehouse"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=tmp,
        # Python workers import the engine from this checkout
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )


def stop_spark(spark) -> None:
    """Stop the session and the JVM, then wait for every child to end."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 20
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for p in descendants(os.getpid()):
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    while descendants(os.getpid()) and time.time() < deadline + 10:
        time.sleep(0.1)


def quantile(xs: list[float], q: float) -> float:
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1] if len(xs) > 1 else xs[0]


def main(argv: list[str] | None = None) -> int:
    t_proc = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the checkout root, not this script's directory, heads the path
    sys.path[0] = ROOT
    cpus = len(os.sched_getaffinity(0))
    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs)
    hermetic_env(run_dir, cpus)
    # a terminated run still stops the JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        import duckdb
        import pyspark

        from perfbench import datagen
        from perfbench import workloads as wl
        from perfbench.tracing import LAYERS, Tracer, layer_metrics

        workload = wl.WORKLOADS[args.workload]()
        sf_dir = os.path.join(run_dir, "data")

        t = time.perf_counter()
        workload.make_inputs(datagen.write_tables(sf_dir, workload.sf, args.seed), run_dir, args.seed)
        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{os.path.join(run_dir, 'tmp')}'")
        for name in datagen.TABLES:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')")
        workload.reference(con)
        excluded = time.perf_counter() - t

        from morphl_community_edition_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark()
        session_s = time.perf_counter() - t
        sample_rss = RssSampler()
        ctx = wl.Context(spark, run_dir, sf_dir, args.seed, cpus, sample_rss)
        t = time.perf_counter()
        workload.setup(ctx, Tracer(spark, False))
        warmup_s = time.perf_counter() - t
        setup_s = time.perf_counter() - t_proc - excluded

        # with --trace 1: untraced, traced, untraced; the overhead is
        # read against both untraced neighbours, so warm-up drift cancels
        ops = workload.window(ctx, Tracer(spark, False), args.seconds / (2 if args.trace else 1))
        traced: list = []
        after: list = []
        if args.trace:
            tracer = Tracer(spark, True)
            gc0 = tracer.gc_seconds()
            traced = workload.window(ctx, tracer, args.seconds)
            gc_s = (tracer.gc_seconds() - gc0) / len(traced)
            after = workload.window(ctx, Tracer(spark, False), args.seconds / 2)
        verdicts = workload.check(ctx, ops + traced + after)
        extra = workload.summary(ctx, ops)
        lat = workload.latencies(ops)
        report = {
            "setup_s": setup_s,
            "ops_per_s": extra.pop("ops_per_s"),
            "query_p50_s": statistics.median(lat),
            "failed_frac": verdicts.count(False) / len(verdicts),
            "peak_rss_mb": sample_rss.peak,
        }
        if len(lat) >= P90_MIN_SAMPLES:
            report["query_p90_s"] = quantile(lat, 0.9)
        report.update(extra)
        layers = {}
        if args.trace:
            untraced = statistics.fmean(o.wall for o in ops + after)
            layers = layer_metrics(traced, {
                "session.start_s": session_s,
                "session.warmup_s": warmup_s,
                "jvm.gc_s": gc_s,
                "trace.overhead_frac": statistics.fmean(o.wall for o in traced) / untraced - 1.0,
            })
        header = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": cpus, "sf": workload.sf, "ops": len(ops),
            "traced_ops": len(traced), "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
        }
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still be using it
            os.rmdir(runs)

    print("# perfbench " + " ".join(f"{k}={v}" for k, v in header.items()))
    units = {**E2E_UNITS, **{k: LAYERS[k][0] for k in layers}}
    print("report " + json.dumps({
        **header,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in {**report, **layers}.items()},
        # per-layer metric -> [unit, end-to-end metric it should move, workload]
        **({"layers": LAYERS} if args.trace else {}),
    }))
    shown = layers if args.trace else {k: report[k] for k in GATED}
    print(json.dumps({
        "correct": verdicts.count(False) == 0,
        "attempted": len(verdicts),
        "failed": verdicts.count(False),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
