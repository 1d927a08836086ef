"""Streaming source (A6): replay a fixture table as a file stream.

Structured Streaming's file source consumes a directory of files,
one-or-more per micro-batch. The fixture is a single parquet file, so
``stage_stream_input`` splits it into N chunk files ordered by ts —
replaying events roughly in event-time order, which is what a Kafka
topic would deliver — then ``read_table_stream`` consumes the staged
directory with maxFilesPerTrigger=1 (N micro-batches).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from morphl_community_edition_spark.catalog import SCHEMAS, load_table
from morphl_community_edition_spark.session import memo


def stage_stream_input(
    spark: SparkSession,
    sf_dir: str,
    name: str = "events",
    n_chunks: int = 8,
    out_dir: str | None = None,
    flush_horizon_hours: int | None = None,
    order_col: str = "ts",
) -> str:
    """Split a fixture table into n_chunks parquet files ordered by
    ``order_col`` (ts for events — Kafka-like event-time order; pass
    e.g. doc_id to replay a corpus table as an ingest stream).

    With ``flush_horizon_hours`` set, one extra file is written LAST
    (file-source batching is mtime-ordered) holding a dummy event per
    user far past max(ts). Append-mode stateful queries (session
    windows) need it: a session only emits once the watermark passes
    its end, and without a flush the tail sessions would sit in state
    forever when the input is finite.
    """
    out_dir = out_dir or tempfile.mkdtemp(prefix=f"stream_{name}_")
    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir, ignore_errors=True)
    df = load_table(spark, sf_dir, name)
    # range-partition on the order column → file i holds the i-th slice
    df.repartitionByRange(n_chunks, F.col(order_col)).write.mode("overwrite").parquet(out_dir)
    # FileStreamSource batches by modification time; the chunks are all
    # written at once, so stagger mtimes in part-number (= time-slice)
    # order or a later slice may be consumed first, advancing the
    # watermark and dropping earlier slices as late data.
    now = time.time()
    for i, part in enumerate(sorted(f for f in os.listdir(out_dir) if f.endswith(".parquet"))):
        os.utime(os.path.join(out_dir, part), (now + 2 * i, now + 2 * i))
    if flush_horizon_hours is not None:
        max_ts = df.agg(F.max("ts")).collect()[0][0]
        flush = (
            df.select("user_id")
            .distinct()
            .withColumn("event_id", F.lit(-1).cast("long"))
            .withColumn("ts", F.lit(max_ts) + F.expr(f"INTERVAL {flush_horizon_hours} HOURS"))
            .withColumn("event_type", F.lit("__flush__"))
            .withColumn("value", F.lit(0.0))
            .withColumn("props", F.lit("{}"))
            .select(*df.columns)
        )
        flush_dir = tempfile.mkdtemp(prefix="flush_")
        flush.coalesce(1).write.mode("overwrite").parquet(flush_dir)
        part = next(f for f in os.listdir(flush_dir) if f.startswith("part-"))
        # latest mtime → the file source schedules it last
        flush_path = os.path.join(out_dir, "part-zz-flush.parquet")
        shutil.copy(os.path.join(flush_dir, part), flush_path)
        os.utime(flush_path, (now + 2 * n_chunks + 10, now + 2 * n_chunks + 10))
        shutil.rmtree(flush_dir, ignore_errors=True)
    return out_dir


def read_stream_dir(spark: SparkSession, staged_dir: str, name: str = "events", max_files: int = 1) -> DataFrame:
    """Open the staged directory as a micro-batch stream (post-repair
    schema: ts is already a proper timestamp in the staged files).

    ``name`` is validated against the catalog: a staged dir whose
    columns don't match the named table's declared schema raises
    instead of silently streaming the wrong data (round-6 review
    finding: the parameter used to be accepted and ignored)."""
    from morphl_community_edition_spark.catalog import SCHEMAS

    df = spark.read.parquet(staged_dir)  # reuse the written schema (ts = timestamp)
    declared = SCHEMAS.get(name)
    if declared is not None:
        want = {f.name for f in declared.fields}
        got = set(df.columns)
        if got != want:
            raise ValueError(
                f"staged dir {staged_dir} columns {sorted(got)} do not match "
                f"table {name!r} schema {sorted(want)}"
            )
    return (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(staged_dir)
    )


def read_table_stream(spark: SparkSession, sf_dir: str, name: str = "events", max_files: int = 1) -> DataFrame:
    """Stage + open in one call (Engine.stream). The staged dir is a
    session-registry entry tagged with ``sf_dir``: repeated calls reuse
    it instead of rewriting the table into a fresh orphaned temp dir,
    a removed dir is restaged, and catalog.invalidate_tables drops it
    (it snapshots table content)."""
    staged = memo(
        spark, "stream.staged", name, lambda: stage_stream_input(spark, sf_dir, name),
        sf_dir=sf_dir, valid=os.path.isdir,
    )
    return read_stream_dir(spark, staged, name, max_files)
