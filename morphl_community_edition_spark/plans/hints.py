"""Size-gated join hints.

An unconditional ``F.broadcast`` on a *filtered fact-side* product is
a scale hazard: correct at fixture scale, a >8GB broadcast failure (or
driver OOM) at 100× (round-1 verdict on q03). The gate here derives
the decision from on-disk bytes — pure driver-side filesystem
metadata, no Spark job — using the invariant that a filtered/projected
subset of a table cannot exceed the table's own storage footprint:

- table file bytes ≤ limit → the hint is safe at THIS deployment's
  scale; apply it (bypasses Catalyst's pessimistic no-stats estimate,
  which would otherwise shuffle a 6M-row fact against a 30k-row side
  under the bench profile where AQE is off).
- beyond the limit → emit NO hint and let AQE's runtime statistics
  pick the strategy (it converts SMJ→broadcast after seeing actual
  shuffle sizes, and demotes just as happily at 1000 executors).

The default limit is deliberately far below Spark's 8GB broadcast
hard cap: parquet is compressed ~3-5× vs in-memory rows, and the
driver holds build-side copies during broadcast construction.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from morphl_community_edition_spark.session import memo

DEFAULT_BROADCAST_FILE_LIMIT = 64 << 20  # 64 MiB on disk


def dataset_file_bytes(path: str) -> int:
    """On-disk bytes of a parquet file or directory of part files.

    A missing path raises (round-9 review): returning 0 would make
    the broadcast gate fail OPEN — a typo'd table path would hint an
    arbitrarily large side, reproducing the exact >8GB-broadcast
    hazard this module exists to prevent."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    if not os.path.isdir(path):
        raise FileNotFoundError(
            f"dataset_file_bytes: {path!r} does not exist — refusing to "
            "report 0 bytes (the broadcast gate would fail open)"
        )
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def broadcast_if_small(
    df: DataFrame, source_bytes: int, limit_bytes: int = DEFAULT_BROADCAST_FILE_LIMIT
) -> DataFrame:
    """Apply a broadcast hint only when the hinted side's SOURCE table
    is small on disk; otherwise return the plan unhinted so AQE's
    runtime stats choose (and can demote) the join strategy."""
    return F.broadcast(df) if source_bytes <= limit_bytes else df


def fan_out_narrow_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition a scan whose physical split count is
    below the cluster's parallelism, so CPU-heavy per-row derivation
    (shingling, chunking, per-token hashing) runs on every core.

    A 100 TB table arrives as many thousands of row-group splits and
    this is a no-op — the gate reads the ACTUAL partition count of the
    physical scan, not a config. It fires exactly in the case Spark
    cannot help by itself: a small/medium file whose single row group
    pins the entire downstream explode to one task (maxPartitionBytes
    splits cannot cut INSIDE a row group, so the extra scan partitions
    come up empty). The shuffle it introduces moves only the narrow
    pre-explode rows, never the derived ones.

    The gate's probe (df.rdd.getNumPartitions — full physical planning
    + a DataFrame→RDD conversion) is memoized per (session, semantic
    plan, parallelism, split confs): hot query rebuilds (bench.py's
    honest-warm loops re-plan the same scans dozens of times) pay it
    once, not per build (ADVICE r5). Only df.semanticHash() — analysis,
    no physical planning — runs on a memo hit. The verdict lives in
    the session registry untagged (a semantic plan cannot be mapped
    back to a path), so any ``catalog.invalidate_tables`` drops it and
    a rewrite that changed a table's file count is re-probed."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    # columns ride in the key alongside the 32-bit semanticHash so a
    # hash collision between structurally different plans (possible
    # in a very long session — round-9 review) almost surely misses
    # the memo instead of serving the other plan's verdict; a residual
    # same-columns collision costs only a wrong repartition decision
    # (perf, never correctness)
    key = (
        df.semanticHash(),
        tuple(df.columns),
        target,
        _conf(spark, "spark.sql.files.maxPartitionBytes"),
        _conf(spark, "spark.sql.files.openCostInBytes"),
    )
    need = memo(spark, "hints.fanout", key, lambda: df.rdd.getNumPartitions() < target)
    return df.repartition(target) if need else df


def _conf(spark: SparkSession, key: str) -> str:
    """Effective conf value for the memo key. No fallback default is
    passed to conf.get: Spark 4 VALIDATES a non-None default against
    the conf's type (a '' sentinel raises INVALID_CONF_VALUE on a
    session that never set the key). get(key) alone returns the
    session's effective value, including the built-in default."""
    try:
        return spark.conf.get(key)
    except Exception:  # noqa: BLE001 — conf unreadable: exclude from key
        return "<unset>"


def pinned_order(df, *cols):
    """Presentation-sort a group-BOUNDED serve result without paying
    global-sort boundary sampling (round 14 — the unbounded-tail
    sibling of ``capped_order``).

    ``df.orderBy(...)`` plans Sort + RangeExchange, and the range
    partitioner's boundary sampling RE-EXECUTES the child subtree.
    ``capped_order`` fixes that for provably row-bounded results via
    TakeOrderedAndProject, but a rollup serve's row count is
    group-bounded (one row per group — sf-dependent), so no cap
    exists. Here the child is pinned with ``localCheckpoint`` (lazy:
    the sampling pass is the first action and materializes the
    checkpoint; the final pass and the sort then read the pinned
    rows) — the serve subtree executes exactly once. Measured on
    q168's histogram serve (window over ~600k histogram rows between
    the last exchange and the sort): plain 4.23 s vs lazy-pinned
    1.80 s in the same session.

    Contract: use ONLY where ``df`` is group/grid-bounded by
    construction (rollup serves, never fact-sized frames) — the pin
    materializes every row to executor storage. Cluster-durability
    caveat shared with the round-13 serve pins (see
    operators/triangles.py): checkpoint blocks are executor-local,
    so an executor loss fails the query instead of self-healing —
    re-run, or swap for reliable checkpointing on long-lived jobs.

    Pin lifetime: the checkpointed blocks stay pinned in executor
    storage until ContextCleaner collects the checkpointed RDD, i.e.
    after the returned frame is garbage-collected on the driver. Each
    pin is group-bounded, but in a long-lived session that re-runs
    these serves the pins accumulate until collection;
    ``perfbench/run.py --trace 1`` shows the count as
    ``storage.pinned_rdds``.

    The pre-pin child rides on the result as ``_morphl_pre_pin`` so
    plan gates can keep asserting scan-level evidence (states-only
    serves, broadcast joins) that the checkpoint's ExistingRDD scan
    would otherwise hide. It is a plain Python attribute, so any later
    transform drops it: ``pinned_order`` must be the OUTERMOST
    transform of a query's result."""
    out = df.localCheckpoint(eager=False).orderBy(*cols)
    out._morphl_pre_pin = df
    return out


def capped_order(df, *cols, cap: int):
    """Presentation-sort a provably row-BOUNDED frame without paying
    global-sort boundary sampling (round 13, the q150 grown-decade
    decomposition, SCALE.md):

    ``df.orderBy(...)`` alone plans Sort + RangeExchange, and the
    range partitioner's boundary sampling RE-EXECUTES the child
    subtree — for a serve query whose final stage streams a large
    table through a broadcast join, that is one full extra pass
    (measured +2.8 s on q150's 10x-grown serve: 6.85 s -> 4.02 s).
    ``orderBy().limit(cap)`` plans TakeOrderedAndProject instead —
    per-partition top-cap heaps merged on the driver, ONE pass, no
    sampling, no range exchange.

    ``cap`` must be a proven upper bound on the result's row count
    (e.g. q probes x k ranks for a top-k serve): at-or-above bounds
    never truncate, so the result set is unchanged — only the
    physical plan is. Use ONLY where such a bound exists by
    construction; this is a plan-shape device, not a sampler.
    ``cols`` accepts column names or Column expressions (e.g.
    ``F.col("x").desc()``), exactly like DataFrame.orderBy."""
    return df.orderBy(*cols).limit(int(cap))
