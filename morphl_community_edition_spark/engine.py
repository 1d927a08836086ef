"""Engine facade: the user-facing entry point.

Mirrors the reference's three entry points (SURVEY.md §4.2) in
idiomatic Spark:

- ``engine.table("lineitem")`` → DataFrame DSL → Catalyst
- ``engine.sql("SELECT ...")``  → Spark's ANTLR SQL front end (we do
  not write a parser; Spark SQL *is* the query language)
- ``engine.stream("events")``   → Structured Streaming micro-batches

No custom IR: Catalyst's LogicalPlan is the IR (SURVEY.md §4.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from morphl_community_edition_spark import catalog
from morphl_community_edition_spark.session import get_spark


class Engine:
    def __init__(self, spark: SparkSession | None = None, sf_dir: str | None = None):
        self.spark = spark or get_spark()
        self.sf_dir = sf_dir or catalog.DEFAULT_SF_DIR
        self._views_registered = False

    def table(self, name: str) -> DataFrame:
        return catalog.load_table(self.spark, self.sf_dir, name)

    def sql(self, query: str) -> DataFrame:
        if not self._views_registered:
            catalog.register_views(self.spark, self.sf_dir)
            self._views_registered = True
        return self.spark.sql(query)

    def stream(self, name: str, max_files_per_trigger: int = 1) -> DataFrame:
        """Streaming read of a fixture table (file micro-batch source)."""
        from morphl_community_edition_spark.sources.stream import read_table_stream

        return read_table_stream(self.spark, self.sf_dir, name, max_files_per_trigger)

    def run(self, query_name: str) -> DataFrame:
        """Run a registered contract query by name (see
        morphl_community_edition_spark.queries.QUERIES for the list)."""
        from morphl_community_edition_spark.queries import QUERIES

        if query_name not in QUERIES:
            raise KeyError(f"unknown query {query_name!r}; registered: {sorted(QUERIES)[:8]}...")
        return QUERIES[query_name](self.spark, self.sf_dir)

    def prepare(self, query_name: str) -> "PreparedQuery":
        """Build a registered query once and re-run it cheaply — see
        PreparedQuery for the exact reuse semantics."""
        return PreparedQuery(self, query_name)


class PreparedQuery:
    """A built-once, run-many handle for a registered query — the
    serving-layer shape for running the same parameterized report
    repeatedly (dashboards, per-batch scoring reads).

    Semantics, stated honestly: Spark has no server-side prepared
    statements; what a prepared handle reuses is (1) the Python-side
    DataFrame construction, (2) Catalyst analysis/optimization/codegen
    of the plan, and (3) any shuffle stages the scheduler finds
    already materialized from a previous run of THIS plan. Scan-side
    stages re-execute every run(), but the plan's FILE LISTING was
    snapshotted at build — and the session registry (session.memo)
    additionally keeps table plans, corpus counts and built index /
    serving artifacts per (session, sf_dir) — so an in-process rewrite
    of a source path is NOT picked up by run() alone, nor by
    rebuilding the query naively. refresh() therefore does both: it
    drops this handle's plan AND drops every registry entry for the
    engine's sf_dir plus Spark's cached file listings
    (catalog.invalidate_tables), so the next run() truly re-plans and
    rebuilds against the current files. (bench.py measures both tiers: the
    plan-reuse path is the queries_prepared column, never the
    headline.)"""

    def __init__(self, engine: "Engine", query_name: str):
        from morphl_community_edition_spark.queries import QUERIES

        if query_name not in QUERIES:
            raise KeyError(
                f"unknown query {query_name!r}; registered: {sorted(QUERIES)[:8]}..."
            )
        self._engine = engine
        self._name = query_name
        self._df: DataFrame | None = None

    @property
    def df(self) -> DataFrame:
        if self._df is None:
            from morphl_community_edition_spark.queries import QUERIES

            self._df = QUERIES[self._name](self._engine.spark, self._engine.sf_dir)
        return self._df

    def run(self) -> list:
        """Execute the prepared plan and return the collected rows."""
        return self.df.collect()

    def refresh(self) -> "PreparedQuery":
        """Drop the cached plan AND everything the session registry
        derived from this engine's sf_dir (plus Spark's file-listing
        caches), so the next run() re-plans from the current source
        files."""
        catalog.invalidate_tables(self._engine.spark, self._engine.sf_dir)
        self._df = None
        return self

    def explain(self) -> str:
        """The prepared physical plan, for inspection."""
        return self.df._jdf.queryExecution().executedPlan().toString()
