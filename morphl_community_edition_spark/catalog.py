"""Fixture-table catalog: explicit schemas + events timestamp-unit repair.

The reference stores raw data in Cassandra wide rows keyed by
client_id and declares every table's schema in code (CQL DDL +
hardcoded column lists in its PySpark jobs — SURVEY.md §2.1). We keep
the same stance on Spark: schemas are code-declared ``StructType``s,
never inferred, because at 100 TB schema inference is a full extra
scan and a correctness hazard.

``events.parquet`` has shipped with two different ``ts`` encodings
across testdata generations, so the catalog sniffs the parquet footer
(one driver-side metadata read per table plan) and adapts:

- ``TIMESTAMP(NANOS)``: pyspark 4.x cannot read it by default
  (PARQUET_TYPE_ILLEGAL). With
  ``spark.sql.legacy.parquet.nanosAsLong=true`` the column arrives as
  a long holding epoch-nanoseconds; we rebuild a microsecond timestamp
  via integer division (``ts div 1000`` — floor, exact on longs; a
  float-division detour would lose sub-µs precision at 1.7e18 ns).
  DuckDB reads the same file as TIMESTAMP_NS and truncates to µs on
  CAST, so both engines see identical microsecond instants.
- ``TIMESTAMP(MICROS)`` / ``TIMESTAMP(MILLIS)``: read natively as
  ``TimestampType`` (vectorized, no repair needed) — exactly what
  DuckDB sees. Silently applying the ns repair here would shrink every
  instant 1000× (this exact bug produced round-2's q16/q21/q31/q40
  hash mismatches when the fixtures switched from ns to µs).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from morphl_community_edition_spark.session import apply_runtime_conf, invalidate, memo

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Code-declared schemas (FIXTURES.md §1, verified against the parquet
# footers). `events.ts` is declared TimestampType; load_table swaps it
# to LongType ONLY when the per-file footer sniff says the column is
# ns-encoded (nanosAsLong surfaces NANOS as int64, rebuilt to a µs
# timestamp) — µs/ms files read natively.
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    # events.ts type is resolved per-file by _events_ts_is_nanos (ns →
    # LongType via nanosAsLong + repair; µs/ms → native TimestampType).
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def _events_ts_is_nanos(path: str) -> bool:
    """Sniff the parquet footer: does ``ts`` need the ns→µs repair?

    Driver-side metadata-only read (no row data), paid once per table
    plan build — load_table's registry memo covers the reuse. Handles
    both a single parquet file and a directory of part files (sniffs
    the first part — a writer never mixes units within one dataset).
    A bare int64 ``ts`` is the legacy epoch-ns encoding."""
    import pyarrow.parquet as pq

    probe = path
    if os.path.isdir(path):
        parts = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet") or f.startswith("part-")
        )
        if not parts:
            raise FileNotFoundError(f"no parquet part files under {path}")
        probe = parts[0]
    ftype = pq.read_schema(probe).field("ts").type
    # a timestamp logical type carries its unit; bare int64 is epoch-ns
    # (SURVEY.md §5.3.3)
    return ftype.unit == "ns" if hasattr(ftype, "unit") else True


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with its declared schema.

    For ``events`` this resolves the on-disk ``ts`` unit from the
    parquet footer: ns files are read as long (nanosAsLong) and
    repaired to a µs TimestampType (floor-truncated — matching DuckDB's
    ns→µs cast); µs/ms files are read natively as TimestampType.

    The plan is memoized per (session, sf_dir, name) in the session
    registry: a DataFrame is an immutable logical plan, so reuse is
    safe, and a 56-query sweep skips the repeated file listing and
    footer read. ``invalidate_tables`` drops it after a rewrite."""
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    return memo(
        spark, "catalog.table", name, lambda: _read_table(spark, sf_dir, name), sf_dir=sf_dir
    )


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    apply_runtime_conf(spark)
    path = table_path(sf_dir, name)
    schema = SCHEMAS[name]
    repair_ns = name == "events" and _events_ts_is_nanos(path)
    if repair_ns:
        fields = [
            T.StructField("ts", T.LongType()) if f.name == "ts" else f
            for f in schema.fields
        ]
        schema = T.StructType(fields)
    df = spark.read.schema(schema).parquet(path)
    if repair_ns:
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view (for engine.sql())."""
    dfs = load_all(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def view_suffix(sf_dir: str) -> str:
    """Deterministic per-dataset view-name suffix, so two sf_dirs can
    coexist as temp views in one session (tests at sf0.01, bench at
    sf0.1) without clobbering each other."""
    import hashlib

    return hashlib.md5(sf_dir.encode()).hexdigest()[:8]


def ensure_views(spark: SparkSession, sf_dir: str) -> str:
    """Idempotently register ``<table>_<suffix>`` temp views for every
    fixture table; returns the suffix.

    This is the catalog half of the single-statement ``spark.sql``
    query builds (q01/q03/q05/q17): composing a 30-operator DataFrame
    chain costs one Py4J round trip + one incremental analysis pass
    PER OPERATOR (~65 ms/rebuild measured at q01's width), where one
    ``spark.sql(text)`` over pre-registered views costs one round trip
    total (~21 ms). Registration itself happens once per (session,
    sf_dir), memoized in the session registry like the table plans, so
    a fresh session re-registers on first use."""
    sfx = view_suffix(sf_dir)

    def _register() -> str:
        for name in TABLES:
            load_table(spark, sf_dir, name).createOrReplaceTempView(f"{name}_{sfx}")
        return sfx

    return memo(spark, "catalog.views", None, _register, sf_dir=sf_dir)


def invalidate_tables(spark: SparkSession, sf_dir: str) -> int:
    """Forget everything this session derived from the files under
    ``sf_dir`` — the escape hatch for files REWRITTEN in-process
    (``Engine.prepare(...).refresh()`` routes through here).

    Two steps: ``session.invalidate`` drops every registry entry
    tagged with ``sf_dir`` (table plans, view registrations, corpus
    counts, built index/serving artifacts, staged stream inputs) plus
    the plan-content-keyed ones (fan-out verdicts, valve counts); then
    Spark's cached file listings for the table paths are refreshed.
    Returns the number of registry entries dropped."""
    dropped = invalidate(spark, sf_dir)
    for name in TABLES:
        spark.catalog.refreshByPath(table_path(sf_dir, name))
    return dropped
