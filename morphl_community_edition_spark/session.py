"""SparkSession factory with the engine's standard configuration.

Every knob here is load-bearing:

- ``spark.sql.adaptive.enabled``: AQE re-plans at runtime (shuffle
  coalescing, skew-join splitting, dynamic join strategy). At 100 TB
  this is what turns a static 32-partition plan into a right-sized one.
- ``spark.sql.execution.arrow.pyspark.enabled``: Arrow batch transfer
  for pandas UDFs / toPandas — the only acceptable Python exchange path.
- ``spark.sql.session.timeZone=UTC``: fixture timestamps are naive
  (parquet isAdjustedToUTC=false); pinning UTC makes year()/datediff()
  and toPandas() deterministic and identical to DuckDB's naive reads.
- ``spark.sql.legacy.parquet.nanosAsLong``: events.parquet has
  shipped with INT64 TIMESTAMP(NANOS), which pyspark 4.x refuses to
  read by default (PARQUET_TYPE_ILLEGAL). With this flag a ns file's
  column arrives as a long and catalog.load_table() rebuilds a proper
  microsecond timestamp; for µs/ms fixture generations the flag is
  inert and the catalog reads TimestampType natively (footer-sniffed
  per file — see catalog.py).
- ``spark.sql.shuffle.partitions``: sized for the local test harness
  (32 cores); on a real cluster this is set per-job to ~2-3× total
  cores, and AQE coalesces down after each shuffle.

The module also owns the engine's session-state registry (``memo``,
``artifact``, ``invalidate``): every value the engine reuses across
query builds lives there, keyed by the live session, under one
invalidation rule.
"""

from __future__ import annotations

import hashlib
import os
import weakref
from typing import Any, Callable

from pyspark.sql import SparkSession

APP_NAME = "morphl-community-edition-spark"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 8)


def get_spark(app_name: str = APP_NAME, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Idempotent: if a session already exists it is reused and the
    runtime-settable confs are (re)applied, so the engine works even
    when a harness hands us a session it created itself.
    """
    cpus = default_parallelism()
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # CBO + join reordering pick up table/column stats when the
        # deployment runs ANALYZE TABLE on its managed tables
        # (SURVEY.md §5.1); no-ops without stats, so always-on is safe.
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # Fixture files are single ~5-20MB parquets; the 128MB default
        # split puts a whole table in ONE scan task and serializes the
        # partial aggregation. 2MB splits fan the scan out across the
        # local cores. On a real cluster with TB-scale inputs leave
        # this at the default — there the files outnumber the cores.
        .config("spark.sql.files.maxPartitionBytes", os.environ.get("SPARK_GRAFT_SPLIT", "2m"))
        .config("spark.sql.files.openCostInBytes", "524288")
        # static conf: managed-table location for the bucketing path
        # (bucketBy requires saveAsTable); keep it out of the repo tree
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/morphl_spark_warehouse"))
        # static conf: reclaim superseded reliable loop checkpoints
        # (loop_checkpoint(reliable=True) writes one durable dir per
        # iteration; without this ContextCleaner never deletes them
        # and long k-loops leak checkpoint storage — round-9 advice)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    spark = builder.getOrCreate()
    apply_runtime_conf(spark)
    return spark


def apply_runtime_conf(spark: SparkSession) -> None:
    """(Re)apply the confs that are safe to set on a live session.

    Called defensively from catalog.load_table too, because the driver
    harness may construct its own SparkSession without our builder —
    most critically the nanosAsLong flag, without which a
    ns-generation events.parquet is unreadable.
    """
    for key, value in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        # pin to the value the whole oracle contract was validated
        # under (Spark 4 default) — a harness session that flips it
        # would change cast/overflow semantics mid-contract
        ("spark.sql.ansi.enabled", "true"),
    ):
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - read-only conf on some builds
            pass


def index_root(spark: SparkSession) -> str:
    """Root directory for PERSISTED index artifacts (the q134 dedup
    postings, q150 ANN cells, q151 BM25 buckets). Resolution order:
    ``SPARK_GRAFT_INDEX_ROOT`` env var → ``spark.morphl.indexRoot``
    session conf → the local temp dir. Local mode works out of the
    box; a CLUSTER deployment must point this at shared storage —
    an unqualified /tmp resolves per-machine, so executors and the
    driver would write/read disjoint local directories and the
    build→serve chain silently breaks (round-9 advice)."""
    root = os.environ.get("SPARK_GRAFT_INDEX_ROOT")
    if not root:
        root = spark.conf.get("spark.morphl.indexRoot", None)
    if not root:
        import tempfile

        root = tempfile.gettempdir()
    return root


# session -> {(namespace, sf_dir, key) -> value}. Keyed WEAKLY by the
# live session object: an id()-based key could serve a stopped
# session's state to a new session allocated at the recycled address,
# and would never evict. Values assume the files under sf_dir are
# immutable until invalidate(spark, sf_dir) says otherwise.
_REGISTRY: "weakref.WeakKeyDictionary[SparkSession, dict[tuple, Any]]" = (
    weakref.WeakKeyDictionary()
)
_MISSING = object()


def memo(
    spark: SparkSession,
    ns: str,
    key: Any,
    compute: Callable[[], Any],
    sf_dir: str | None = None,
    valid: Callable[[Any], bool] | None = None,
) -> Any:
    """Get-or-compute one session-scoped value under ``(ns, sf_dir, key)``.

    ``sf_dir`` tags a value derived from that dataset's files, so
    ``invalidate(spark, sf_dir)`` drops it. Leave it None for values
    keyed by plan content (a semanticHash) that cannot be mapped back
    to a path; those drop on every invalidate. ``valid`` re-checks a
    hit (e.g. that a directory still exists) and recomputes on False.

    The registry takes no lock, so unrelated builds overlap across
    threads; two threads that miss on the SAME key both compute it and
    the later store wins. Harmless for plans and counts; a
    caller that builds one on-disk artifact from several threads must
    warm it from one thread first."""
    entries = _REGISTRY.setdefault(spark, {})
    k = (ns, sf_dir, key)
    value = entries.get(k, _MISSING)
    if value is _MISSING or (valid is not None and not valid(value)):
        value = compute()
        entries[k] = value
    return value


def artifact(
    spark: SparkSession,
    name: str,
    sf_dir: str,
    build: Callable[[str], None] | None = None,
    committed: Callable[[str], Any] | None = None,
) -> str:
    """Path of the persisted structure ``name`` derived from ``sf_dir``:
    ``index_root/name/applicationId/md5(sf_dir)[:10]``. The path is
    per-APPLICATION so two concurrent runs on one host never overwrite
    each other's artifact mid-read.

    With ``build``, also materialize it: ``build(path)`` runs once per
    (session, path) and again when ``committed(path)`` is falsy (a temp
    cleaner removed it in a long-lived session) or after
    ``invalidate(spark, sf_dir)`` (the source files were rewritten).
    Without ``build`` the caller owns the contents and rewrites them
    on every call."""
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = os.path.join(index_root(spark), name, spark.sparkContext.applicationId, tag)
    if build is not None:

        def _build() -> str:
            build(path)
            return path

        memo(spark, "artifact", path, _build, sf_dir=sf_dir, valid=committed)
    return path


def invalidate(spark: SparkSession, sf_dir: str | None = None) -> int:
    """Drop every registry entry tagged with ``sf_dir`` plus every
    untagged (plan-content-keyed) entry; ``sf_dir=None`` drops all of
    this session's entries. Returns the number dropped. This is the
    one rule that makes reuse sound after files under ``sf_dir`` are
    rewritten in-process (catalog.invalidate_tables)."""
    entries = _REGISTRY.get(spark)
    if not entries:
        return 0
    victims = [k for k in list(entries) if sf_dir is None or k[1] in (sf_dir, None)]
    for k in victims:
        entries.pop(k, None)
    return len(victims)
