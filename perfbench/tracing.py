"""Outside-in layer trace.

Spans are recorded by the benchmark around its own calls into the
engine; nothing inside the engine is instrumented. Each op carries the
spans it went through (``build``, ``optimize``, ``physical``, ``exec``
for DataFrame ops; one ``fold``/``compact`` span for write ops) and,
right after it ends, the counters Spark keeps for it:

- jobs, stages and tasks of the op's two job groups (``<op>-build`` for
  jobs launched while the DataFrame is built, ``<op>-exec`` for the
  collect), read from the status store before it can evict them;
- scan files/bytes and whole-stage-codegen subtrees walked off the
  executed (final adaptive) plan, exchanges via ``plans.inspect``;
- the session's persisted RDDs (``localCheckpoint``/``persist`` pins)
  and the JVM's cumulative GC time.

The untraced tracer does none of this: its spans are a shared no-op
context, so the end-to-end numbers are measured without tracing.
"""

from __future__ import annotations

import contextlib
import statistics
import threading
import time

LAYER_SPANS = ("build", "optimize", "physical", "exec", "fold", "compact")

# |wall - sum of an op's spans| must stay within this share of the
# op's wall time, plus a fixed allowance for the Python glue between
# spans, for the op to count as reconciled.
RECONCILE_REL = 0.05
RECONCILE_ABS_S = 0.005

# per-layer metric -> (unit, end-to-end metric it should move, workload
# it should move it on): the prediction each layer's number is read against
LAYERS = {
    "session.start_s": ("s", "setup_s", "all"),
    "session.warmup_s": ("s", "setup_s", "all"),
    "queries.build_s": ("s", "ops_per_s", "olap"),
    "queries.build_jobs": ("count", "ops_per_s", "olap"),
    "plans.optimize_s": ("s", "ops_per_s", "olap"),
    "plans.physical_s": ("s", "ops_per_s", "olap"),
    "plans.exchanges": ("count", "ops_per_s", "olap"),
    "plans.codegen_stages": ("count", "ops_per_s", "olap"),
    "exec.s": ("s", "ops_per_s", "olap"),
    "exec.jobs": ("count", "ops_per_s", "olap"),
    "exec.stages": ("count", "ops_per_s", "olap"),
    "exec.tasks": ("count", "ops_per_s", "olap"),
    "exec.failed_tasks": ("count", "ops_per_s", "olap"),
    "exec.driver_gap_s": ("s", "query_p50_s", "serve"),
    "exec.shuffle_write_bytes": ("bytes", "ops_per_s", "olap"),
    "exec.spill_bytes": ("bytes", "ops_per_s", "olap"),
    "exec.scan_bytes": ("bytes", "ops_per_s", "olap"),
    "exec.scan_files": ("count", "ops_per_s", "olap"),
    "exec.rows_scanned_per_row_returned": ("ratio", "ops_per_s", "olap"),
    "serve.call_s": ("s", "query_p50_s", "serve"),
    "serve.exec_s": ("s", "query_p50_s", "serve"),
    "serve.jobs": ("count", "query_p50_s", "serve"),
    "serve.files_read": ("count", "query_p50_s", "serve"),
    "serve.queue_wait_s": ("s", "query_p50_s", "serve"),
    "serve.generator_lag_s": ("s", "query_p50_s", "serve"),
    "fold.s": ("s", "write_p50_s", "serve"),
    "fold.bytes_written_per_input_byte": ("ratio", "space_amp", "serve"),
    "compact.s": ("s", "write_p50_s", "serve"),
    "compact.bytes_rewritten": ("bytes", "space_amp", "serve"),
    "read.slices": ("count", "query_p50_s", "serve"),
    "read.s": ("s", "query_p50_s", "serve"),
    "storage.pinned_rdds": ("count", "peak_rss_mb", "serve"),
    "storage.pinned_bytes": ("bytes", "peak_rss_mb", "serve"),
    "jvm.gc_s": ("s", "query_p50_s", "serve"),
    "trace.overhead_frac": ("ratio", "-", "all"),
    "trace.reconciled_frac": ("ratio", "-", "all"),
}

_NULL_SPAN = contextlib.nullcontext()


class Op:
    """One timed operation: its kind, wall time, spans and counters."""

    __slots__ = ("kind", "name", "seq", "wall", "spans", "counts", "result", "expect", "df", "exec_ms")

    def __init__(self, kind: str, name: str, seq: int):
        self.kind, self.name, self.seq = kind, name, seq
        self.wall = 0.0
        self.spans: dict[str, float] = {}
        self.counts: dict[str, float] = {}
        self.result = None
        self.expect = None
        self.df = None  # the planned DataFrame, kept until its counters are read
        self.exec_ms = (0.0, 0.0)  # epoch ms bounds of the exec span


class Tracer:
    """Records spans and Spark counters per op when ``on``; otherwise a no-op."""

    def __init__(self, spark, on: bool):
        self.on = on
        self.spark = spark
        self._local = threading.local()
        self._seq = 0
        self._lock = threading.Lock()
        if on:
            sc = spark.sparkContext
            self._sc = sc
            self._jsc = sc._jsc.sc()
            self._store = self._jsc.statusStore()
            self._bus = self._jsc.listenerBus()

    def new_op(self, kind: str, name: str) -> Op:
        with self._lock:
            self._seq += 1
            return Op(kind, name, self._seq)

    @contextlib.contextmanager
    def op(self, op: Op):
        """Time ``op`` end to end; when tracing, tag its jobs and read its counters."""
        self._local.op = op
        if self.on:
            self._sc.setJobGroup(f"pb-{op.seq}-build", op.name)
        t0 = time.perf_counter()
        try:
            yield op
        finally:
            op.wall = time.perf_counter() - t0
            self._local.op = None
            if self.on:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._read_counters(op)

    def span(self, name: str):
        if not self.on:
            return _NULL_SPAN
        return self._span(name)

    @contextlib.contextmanager
    def _span(self, name: str):
        op = self._local.op
        if name == "exec":
            self._sc.setJobGroup(f"pb-{op.seq}-exec", op.name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            op.spans[name] = op.spans.get(name, 0.0) + time.perf_counter() - t0
            if name == "exec":
                end = time.time() * 1000.0
                op.exec_ms = (end - op.spans["exec"] * 1000.0, end)

    def plan(self, df) -> None:
        """Force optimization and physical planning as two spans, so the
        collect that follows only executes."""
        if not self.on:
            return
        qe = df._jdf.queryExecution()
        with self._span("optimize"):
            qe.optimizedPlan()
        with self._span("physical"):
            qe.executedPlan()
        self._local.op.df = df

    # --- counters -------------------------------------------------------

    def _read_counters(self, op: Op) -> None:
        self._bus.waitUntilEmpty(30_000)
        tracker = self._sc.statusTracker()
        c = op.counts
        df, op.df = op.df, None
        for phase in ("build", "exec"):
            jobs = tracker.getJobIdsForGroup(f"pb-{op.seq}-{phase}")
            c[f"{phase}_jobs"] = len(jobs)
            intervals = []
            for jid in jobs:
                jd = self._store.job(jid)
                sub, done = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime(), done.get().getTime()))
                stage_ids = jd.stageIds()
                for i in range(stage_ids.size()):
                    self._add_stage(c, stage_ids.apply(i))
            if phase == "exec" and "exec" in op.spans:
                c["driver_gap_s"] = max(
                    0.0,
                    op.spans["exec"] - _covered_ms(intervals, *op.exec_ms) / 1000.0,
                )
        if df is not None:
            from morphl_community_edition_spark.plans.inspect import count_exchanges

            c["exchanges"] = count_exchanges(df)
            walk = {"files": 0, "files_bytes": 0, "codegen": 0}
            _walk_plan(df._jdf.queryExecution().executedPlan(), walk)
            c["scan_files"] = walk["files"]
            c["scan_bytes"] = walk["files_bytes"]
            c["codegen_stages"] = walk["codegen"]
        c["pinned_rdds"] = self._sc._jsc.getPersistentRDDs().size()
        c["pinned_bytes"] = sum(i.memSize() + i.diskSize() for i in self._jsc.getRDDStorageInfo())

    def _add_stage(self, c: dict, stage_id: int) -> None:
        try:
            s = self._store.lastStageAttempt(stage_id)
        except Exception:  # noqa: BLE001 - a stage that never ran has no attempt
            return
        if str(s.status()) in ("SKIPPED", "PENDING"):
            return
        for key, value in (
            ("stages", 1),
            ("tasks", s.numTasks()),
            ("failed_tasks", s.numFailedTasks()),
            ("shuffle_write_bytes", s.shuffleWriteBytes()),
            ("spill_bytes", s.memoryBytesSpilled() + s.diskBytesSpilled()),
            ("rows_scanned", s.inputRecords()),
        ):
            c[key] = c.get(key, 0) + value

    def gc_seconds(self) -> float:
        beans = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0


def _covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    covered, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            covered += b - a
            end = b
    return covered


def _walk_plan(node, acc: dict) -> None:
    """Sum scan files/bytes and count codegen subtrees of an executed plan,
    descending through adaptive wrappers and query stages; a reused
    exchange is counted where it was first built."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _walk_plan(node.executedPlan(), acc)
    if name.endswith("QueryStageExec"):
        return _walk_plan(node.plan(), acc)
    if name == "ReusedExchangeExec":
        return
    if name == "WholeStageCodegenExec":
        acc["codegen"] += 1
    if name.endswith("ScanExec"):
        metrics = node.metrics()
        for key, slot in (("numFiles", "files"), ("filesSize", "files_bytes")):
            m = metrics.get(key)
            if m.isDefined():
                acc[slot] += m.get().value()
    children = node.children()
    for i in range(children.size()):
        _walk_plan(children.apply(i), acc)


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def reconciled(op: Op) -> bool:
    spent = sum(op.spans.get(s, 0.0) for s in LAYER_SPANS)
    return abs(op.wall - spent) <= RECONCILE_REL * op.wall + RECONCILE_ABS_S


def layer_metrics(ops: list[Op], extra: dict[str, float]) -> dict[str, float]:
    """Per-op means of every layer metric over the traced window.

    Metrics of a layer the workload never enters are 0: that layer was
    bypassed, which is the prediction for it on that workload.
    """
    frames = [o for o in ops if "exec" in o.spans]
    queries = [o for o in frames if o.kind == "query"]
    served = [o for o in frames if o.kind == "serve"]
    folds = [o for o in ops if o.kind == "fold"]
    compacts = [o for o in ops if o.kind == "compact"]
    reads = [o for o in ops if o.kind == "read"]

    def cnt(group, key):
        return _mean(o.counts.get(key, 0) for o in group)

    def span(group, *keys):
        return _mean(sum(o.spans.get(k, 0.0) for k in keys) for o in group)

    rows_scanned = sum(o.counts.get("rows_scanned", 0) for o in frames)
    rows_returned = sum(len(o.result) for o in frames if not isinstance(o.result, Exception))
    out = {
        "queries.build_s": span(queries, "build"),
        "queries.build_jobs": cnt(queries, "build_jobs"),
        "plans.optimize_s": span(frames, "optimize"),
        "plans.physical_s": span(frames, "physical"),
        "plans.exchanges": cnt(frames, "exchanges"),
        "plans.codegen_stages": cnt(frames, "codegen_stages"),
        "exec.s": span(frames, "exec"),
        "exec.jobs": _mean(o.counts.get("build_jobs", 0) + o.counts.get("exec_jobs", 0) for o in ops),
        "exec.stages": cnt(ops, "stages"),
        "exec.tasks": cnt(ops, "tasks"),
        "exec.failed_tasks": cnt(ops, "failed_tasks"),
        "exec.driver_gap_s": cnt(frames, "driver_gap_s"),
        "exec.shuffle_write_bytes": cnt(ops, "shuffle_write_bytes"),
        "exec.spill_bytes": cnt(ops, "spill_bytes"),
        "exec.scan_bytes": cnt(frames, "scan_bytes"),
        "exec.scan_files": cnt(frames, "scan_files"),
        "exec.rows_scanned_per_row_returned": rows_scanned / max(1, rows_returned),
        "serve.call_s": span(served, "build", "optimize", "physical"),
        "serve.exec_s": span(served, "exec"),
        "serve.jobs": _mean(o.counts.get("build_jobs", 0) + o.counts.get("exec_jobs", 0) for o in served),
        "serve.files_read": cnt(served, "scan_files"),
        "serve.queue_wait_s": cnt(served, "queue_wait_s"),
        "serve.generator_lag_s": cnt(served, "generator_lag_s"),
        "fold.s": span(folds, "fold"),
        "fold.bytes_written_per_input_byte": _mean(
            o.counts["bytes_written"] / o.counts["bytes_in"] for o in folds
        ),
        "compact.s": span(compacts, "compact"),
        "compact.bytes_rewritten": cnt(compacts, "bytes_written"),
        "read.slices": cnt(reads, "slices"),
        "read.s": _mean(o.wall for o in reads),
        "storage.pinned_rdds": max((o.counts.get("pinned_rdds", 0) for o in ops), default=0),
        "storage.pinned_bytes": max((o.counts.get("pinned_bytes", 0) for o in ops), default=0),
        "trace.reconciled_frac": _mean(1.0 if reconciled(o) else 0.0 for o in ops),
    }
    out.update(extra)
    return out
