"""The benchmark's workloads: ``olap`` and ``serve``.

Each workload generates its inputs from the run's seed, computes its
DuckDB references before set-up, builds what it serves during set-up,
then runs a timed window of ops and checks every result afterwards.

- ``olap``: the seven ``bench.HEADLINE`` queries at sf0.1, closed loop,
  one client, one seeded permutation per cycle; every op rebuilds,
  re-plans and re-executes its DataFrame. Loads the queries, plans and
  exec layers; bypasses serving structures and folds.
- ``serve``: an open loop at a fixed rate over structures built in
  set-up from sf0.1 inputs: point lookups with seeded keys, the q151
  BM25 serve over its persisted text index, reads of a q159-shaped
  summary rollup, and writes that fold seeded lineitem deltas into that
  rollup and a q168-shaped histogram rollup and compact both. Small
  reads dominated by per-request work on the Spark driver, job count
  and file pruning, contending on one scheduler with each other and
  with folds; no big scans or shuffles.
"""

from __future__ import annotations

import os
import queue
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow.parquet as pq

import bench
from morphl_community_edition_spark.functions.rounding import sql_davg, sql_dsum, sql_scaled_long
from morphl_community_edition_spark.operators import incremental_agg as agg
from morphl_community_edition_spark.operators.point_lookup import point_lookup, write_serving_table
from morphl_community_edition_spark.queries import ORACLE_SQL, QUERIES
from tools.localcheck import canon_hash

from perfbench.tracing import Op, Tracer


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Context:
    """What a workload sees: the session, its inputs and the run's services."""

    def __init__(self, spark, run_dir: str, sf_dir: str, seed: int, cpus: int, sample_rss):
        self.spark = spark
        self.run_dir = run_dir
        self.sf_dir = sf_dir
        self.rng = np.random.default_rng(seed + 1)
        self.cpus = cpus
        self.sample_rss = sample_rss


def frame_op(tracer: Tracer, kind: str, name: str, build) -> Op:
    """Build a DataFrame, plan it and collect it to pandas as one op.

    A raised exception is kept as the op's result and counts as a failure."""
    op = tracer.new_op(kind, name)
    try:
        with tracer.op(op):
            with tracer.span("build"):
                df = build()
            tracer.plan(df)
            with tracer.span("exec"):
                op.result = df.toPandas()
    except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
        op.result = e
    return op


def write_op(tracer: Tracer, kind: str, name: str, work) -> Op:
    """Run ``work()`` as one op with a single span named after its kind."""
    op = tracer.new_op(kind, name)
    try:
        with tracer.op(op), tracer.span(kind):
            work()
    except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
        op.result = e
    return op


def hash_ok(op: Op, expected_hash: str) -> bool:
    return not isinstance(op.result, Exception) and canon_hash(op.result) == expected_hash


def duck_hash(con, sql: str) -> str:
    return canon_hash(con.execute(sql).df())


def raise_failed(ops: list[Op]) -> None:
    for op in ops:
        if isinstance(op.result, Exception):
            raise op.result


class Olap:
    """One client running seeded permutations of the headline queries.

    A window is a whole number of cycles, sized from ``seconds`` by
    CYCLE_S rather than by the clock, so every run does the same work
    and every query runs equally often."""

    sf = 0.1
    names = tuple(bench.HEADLINE.values())
    CYCLE_S = 5.0  # one warm cycle of the seven queries on 4 cores

    def make_inputs(self, tables: dict, run_dir: str, seed: int) -> None:
        pass

    def reference(self, con) -> None:
        self.expected = {k: duck_hash(con, ORACLE_SQL[k]) for k in self.names}
        self.duck_s = {}
        for k in self.names:  # timed warm, for the Spark/DuckDB context ratio
            t = time.perf_counter()
            con.execute(ORACLE_SQL[k]).fetchall()
            self.duck_s[k] = time.perf_counter() - t

    def setup(self, ctx: Context, tracer: Tracer) -> None:
        # first runs compile each query's code; overlapping them shortens
        # set-up. One more serial cycle takes the window past the steepest
        # part of the JIT warm-up, where run-to-run spread is widest.
        with ThreadPoolExecutor(ctx.cpus) as ex:
            raise_failed(list(ex.map(lambda k: self._op(ctx, tracer, k), self.names)))
        raise_failed(self.window(ctx, tracer, 0.0))

    def _op(self, ctx: Context, tracer: Tracer, k: str) -> Op:
        return frame_op(tracer, "query", k, lambda: QUERIES[k](ctx.spark, ctx.sf_dir))

    def window(self, ctx: Context, tracer: Tracer, seconds: float) -> list[Op]:
        ops: list[Op] = []
        for _ in range(max(1, round(seconds / self.CYCLE_S))):
            for i in ctx.rng.permutation(len(self.names)):
                ops.append(self._op(ctx, tracer, self.names[i]))
                ctx.sample_rss()
        return ops

    def check(self, ctx: Context, ops: list[Op]) -> list[bool]:
        return [hash_ok(o, self.expected[o.name]) for o in ops]

    def latencies(self, ops: list[Op]) -> list[float]:
        return [o.wall for o in ops]

    def summary(self, ctx: Context, ops: list[Op]) -> dict[str, float]:
        spark_s = sum(statistics.median(o.wall for o in ops if o.name == k) for k in self.names)
        return {
            "ops_per_s": len(ops) / sum(o.wall for o in ops),
            "spark_vs_duckdb": spark_s / sum(self.duck_s.values()),
        }


class Serve:
    """Open loop: requests fall due at RATE_PER_S in the fixed order of
    BLOCK whatever the engine does, queue to up to nproc sender threads,
    and are timed from their due time, so a stall also delays the
    requests behind it. Only the inputs (lookup keys, delta batches)
    come from the seed, so every run offers the same load.

    Request kinds: L point lookup of KEYS_PER_LOOKUP keys, H q151 BM25
    serve, R summary-rollup read, F fold of the next delta into both
    rollups, C compaction of both rollups. R, F and C hold one lock
    (compaction deletes the slices a concurrent read may be scanning),
    so each R sees a known number of folded deltas."""

    sf = 0.1
    # Lookups are most of the reads and run beside the short F and R
    # requests; the long H and C close the block. Placed mid-block, the
    # lookups queued behind H and C neared half of all reads whenever
    # the machine slowed, and the read median jumped between clean and
    # queued lookups.
    BLOCK = "LLLFLLLRLLLLLFLLLRLLLLLLHC"
    # about half of one client's capacity on BLOCK on 4 slow cores
    # (L ~0.25 s, H ~2.5 s, R ~0.9 s, F ~0.6 s, C ~1.6 s)
    RATE_PER_S = 1.0
    KEYS_PER_LOOKUP = 6
    BUCKETS = 16
    DELTAS = 32  # each 1/128 of lineitem; the base is half of it
    PCTS = {"p50": (1, 2), "p90": (9, 10), "p99": (99, 100)}
    BM25 = "q151_persisted_bm25_serve"

    def __init__(self):
        self.spec = agg.RollupSpec(
            keys=("l_suppkey",),
            measures={"l_quantity": 2, "l_extendedprice": 2},
            extrema=("l_shipdate",),
        )
        self.hspec = agg.HistSpec(keys=("l_suppkey",), value="l_extendedprice", scale=-2)
        self.rollup_lock = threading.Lock()

    def make_inputs(self, tables: dict, run_dir: str, seed: int) -> None:
        """Split lineitem by a seeded hash of l_orderkey into a base half
        and DELTAS batches, one parquet file each."""
        li = tables["lineitem"]
        salt = np.uint64(np.random.default_rng(seed).integers(1, 2**63))
        with np.errstate(over="ignore"):
            h = (li.column("l_orderkey").to_numpy().astype(np.uint64) + salt) * np.uint64(0x9E3779B97F4A7C15)
        bucket = ((h >> np.uint64(33)) % np.uint64(4 * self.DELTAS)).astype(np.int64)
        folder = os.path.join(run_dir, "ingest")
        os.makedirs(folder)
        self.base = os.path.join(folder, "base.parquet")
        pq.write_table(li.filter(bucket < 2 * self.DELTAS), self.base)
        self.deltas = []
        for i in range(self.DELTAS):
            path = os.path.join(folder, f"delta_{i:03d}.parquet")
            pq.write_table(li.filter(bucket == 2 * self.DELTAS + i), path)
            self.deltas.append(path)

    def reference(self, con) -> None:
        # rollup references depend on how many deltas a read saw, so
        # they are computed at check time, outside every timed span
        self.con = con
        self.bm25 = duck_hash(con, ORACLE_SQL[self.BM25])
        self.served = con.execute(ORACLE_SQL["q96_prediction_upsert"]).df()
        self.n_users = int(con.execute("SELECT max(user_id) + 1 FROM events").fetchone()[0])

    def setup(self, ctx: Context, tracer: Tracer) -> None:
        spark = ctx.spark
        self.path = os.path.join(ctx.run_dir, "serving")
        self.rpath = os.path.join(ctx.run_dir, "rollup", "summary")
        self.hpath = os.path.join(ctx.run_dir, "rollup", "hist")
        self.folded = 0

        def build_rollups() -> None:
            base = spark.read.parquet(self.base)
            agg.build_rollup(base, self.spec, self.rpath)
            agg.build_hist_rollup(base, self.hspec, self.hpath)

        # the three builds are independent; overlapping them shortens set-up
        with ThreadPoolExecutor(3) as ex:
            futures = [
                ex.submit(write_serving_table, QUERIES["q96_prediction_upsert"](spark, ctx.sf_dir),
                          self.path, key_col="user_id", n_buckets=self.BUCKETS),
                ex.submit(self._request, ctx, tracer, "H", None),  # builds the text index
                ex.submit(build_rollups),
            ]
            results = [f.result() for f in futures]
        raise_failed([results[1]])
        # lookups dominate the read median: warm their code path past the
        # steep part of the JIT warm-up, where the median drifts by 20%
        raise_failed([self._request(ctx, tracer, k, self._keys(ctx)) for k in "L" * 16 + "FRCH"])

    def _keys(self, ctx: Context) -> list[int]:
        return sorted(int(k) for k in ctx.rng.choice(self.n_users, self.KEYS_PER_LOOKUP, replace=False))

    def _request(self, ctx: Context, tracer: Tracer, kind: str, keys: list[int] | None) -> Op:
        spark = ctx.spark
        if kind == "L":
            op = frame_op(tracer, "serve", "lookup", lambda: point_lookup(spark, self.path, keys))
            op.expect = keys
            return op
        if kind == "H":
            return frame_op(tracer, "serve", self.BM25, lambda: QUERIES[self.BM25](spark, ctx.sf_dir))
        root = os.path.dirname(self.rpath)
        with self.rollup_lock:
            if kind == "R":
                slices = len(agg.snapshot_slices(self.rpath))
                op = frame_op(tracer, "read", "read_rollup", lambda: agg.read_rollup(spark, self.rpath))
                op.counts["slices"] = slices
                op.expect = self.folded
                return op
            if kind == "F":
                delta_path, sid = self.deltas[self.folded], f"delta-{self.folded:03d}"
                before = dir_bytes(root)

                def fold() -> None:
                    delta = spark.read.parquet(delta_path)
                    agg.append_rollup(delta, self.rpath, sid=sid)
                    agg.append_hist_rollup(delta, self.hpath, sid=sid)

                op = write_op(tracer, "fold", sid, fold)
                self.folded += 1
                op.counts["bytes_in"] = os.path.getsize(delta_path)
                op.counts["bytes_written"] = dir_bytes(root) - before
                return op

            def compact() -> None:
                agg.compact_rollup(spark, self.rpath)
                agg.compact_rollup(spark, self.hpath)

            op = write_op(tracer, "compact", f"compact-{self.folded:03d}", compact)
            op.counts["bytes_written"] = dir_bytes(root)
            return op

    def window(self, ctx: Context, tracer: Tracer, seconds: float) -> list[Op]:
        n_blocks = max(1, round(seconds * self.RATE_PER_S / len(self.BLOCK)))
        if self.folded + n_blocks * self.BLOCK.count("F") > self.DELTAS:
            raise ValueError(f"{seconds} s of serve folds more than its {self.DELTAS} delta batches")
        # keys are drawn here, in schedule order, so a seed fixes them
        # whatever order the senders pick requests up in
        schedule = [(k, self._keys(ctx) if k == "L" else None) for k in self.BLOCK * n_blocks]
        todo: queue.Queue = queue.Queue()
        ops: list[Op] = []
        lock = threading.Lock()

        def sender() -> None:
            while (item := todo.get()) is not None:
                kind, keys, due, sent = item
                picked = time.perf_counter()
                op = self._request(ctx, tracer, kind, keys)
                done = time.perf_counter()
                op.counts.update(
                    due_at=due,
                    done_at=done,
                    latency_s=done - due,
                    generator_lag_s=sent - due,
                    queue_wait_s=picked - sent,
                )
                with lock:
                    ops.append(op)

        threads = [threading.Thread(target=sender) for _ in range(ctx.cpus)]
        for t in threads:
            t.start()
        t0 = time.perf_counter()
        for i, (kind, keys) in enumerate(schedule):
            due = t0 + i / self.RATE_PER_S
            while (now := time.perf_counter()) < due:
                ctx.sample_rss()
                time.sleep(min(0.05, max(0.0, due - time.perf_counter())))
            todo.put((kind, keys, due, now))
        for _ in threads:
            todo.put(None)
        for t in threads:
            t.join()
        return sorted(ops, key=lambda o: o.seq)

    def _prefix(self, n_deltas: int) -> str:
        files = ", ".join(f"'{p}'" for p in [self.base] + self.deltas[:n_deltas])
        return f"read_parquet([{files}])"

    def _rollup_sql(self, n_deltas: int) -> str:
        return f"""
            SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_rows,
                   {sql_dsum('l_quantity')} AS l_quantity_sum,
                   {sql_davg('l_quantity')} AS l_quantity_avg,
                   {sql_dsum('l_extendedprice')} AS l_extendedprice_sum,
                   {sql_davg('l_extendedprice')} AS l_extendedprice_avg,
                   min(l_shipdate) AS l_shipdate_min, max(l_shipdate) AS l_shipdate_max
            FROM {self._prefix(n_deltas)} GROUP BY l_suppkey"""

    def _quantile_sql(self, n_deltas: int) -> str:
        v = sql_scaled_long("l_extendedprice", self.hspec.scale)
        cols = ", ".join(
            f"CAST(quantile_disc({v}, {num}/{den}) AS BIGINT) AS {name}"
            for name, (num, den) in self.PCTS.items()
        )
        return f"""
            SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_rows, {cols}
            FROM {self._prefix(n_deltas)} GROUP BY l_suppkey"""

    def check(self, ctx: Context, ops: list[Op]) -> list[bool]:
        rollups: dict[int, str] = {}
        out = []
        for o in ops:
            if o.name == "lookup":
                out.append(hash_ok(o, canon_hash(self.served[self.served["user_id"].isin(o.expect)])))
            elif o.name == self.BM25:
                out.append(hash_ok(o, self.bm25))
            elif o.kind == "read":
                if o.expect not in rollups:
                    rollups[o.expect] = duck_hash(self.con, self._rollup_sql(o.expect))
                out.append(hash_ok(o, rollups[o.expect]))
            else:
                out.append(not isinstance(o.result, Exception))
        # the histogram rollup is only written in the window: check its
        # final state once, as one more attempted op
        final = frame_op(Tracer(ctx.spark, False), "check", "quantiles",
                         lambda: agg.quantiles_from_hist(ctx.spark, self.hpath, self.PCTS))
        out.append(hash_ok(final, duck_hash(self.con, self._quantile_sql(self.folded))))
        return out

    def latencies(self, ops: list[Op]) -> list[float]:
        return [o.counts["latency_s"] for o in ops if o.kind in ("serve", "read")]

    def summary(self, ctx: Context, ops: list[Op]) -> dict[str, float]:
        span = max(o.counts["done_at"] for o in ops) - min(o.counts["due_at"] for o in ops)
        writes = [o.counts["latency_s"] for o in ops if o.kind in ("fold", "compact")]
        rebuild = os.path.join(ctx.run_dir, "rebuild")
        data = ctx.spark.read.parquet(self.base, *self.deltas[: self.folded])
        agg.build_rollup(data, self.spec, os.path.join(rebuild, "summary"))
        agg.build_hist_rollup(data, self.hspec, os.path.join(rebuild, "hist"))
        return {
            "ops_per_s": len(ops) / span,
            "write_p50_s": statistics.median(writes),
            "space_amp": dir_bytes(os.path.dirname(self.rpath)) / dir_bytes(rebuild),
            "generator_lag_max_s": max(o.counts["generator_lag_s"] for o in ops),
            "rate_per_s": self.RATE_PER_S,
            "deltas_folded": self.folded,
        }


WORKLOADS = {"olap": Olap, "serve": Serve}
