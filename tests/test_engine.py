"""Engine facade: the three entry points (SURVEY.md §4.2) — DataFrame
DSL, Spark SQL front end over registered views, and streaming."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from morphl_community_edition_spark import Engine
from tests.conftest import SF_DIR_SMOKE, canonicalize

import pandas as pd


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark, sf_dir=SF_DIR_SMOKE)


def test_sql_and_dsl_agree(engine):
    sql = engine.sql(
        """
        SELECT c_mktsegment, count(*) AS cnt
        FROM customer JOIN orders ON c_custkey = o_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment
        """
    )
    dsl = (
        engine.table("customer")
        .join(engine.table("orders"), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("c_mktsegment")
    )
    pd.testing.assert_frame_equal(
        canonicalize(sql.toPandas()), canonicalize(dsl.toPandas()), check_dtype=False
    )


def test_sql_sees_repaired_events_ts(engine):
    # the registered events view must carry the µs-repaired timestamp
    row = engine.sql("SELECT min(ts) AS lo, max(ts) AS hi FROM events").collect()[0]
    assert row["lo"].year == 2024 and row["hi"].year == 2024


def test_stream_entry_is_streaming(engine):
    df = engine.stream("events")
    assert df.isStreaming
    assert "ts" in df.columns


def test_ensure_views_multi_sf_coexist(spark):
    """ensure_views (the single-statement SQL builds' catalog half):
    two sf_dirs register side by side in one session via the suffix,
    re-registration is memoized/idempotent, and each view reads its
    own dataset."""
    from morphl_community_edition_spark.catalog import ensure_views

    s_small = ensure_views(spark, "/root/testdata/sf0.001")
    s_big = ensure_views(spark, "/root/testdata/sf0.01")
    assert s_small != s_big
    n_small = spark.table(f"lineitem_{s_small}").count()
    n_big = spark.table(f"lineitem_{s_big}").count()
    assert 0 < n_small < n_big
    assert ensure_views(spark, "/root/testdata/sf0.01") == s_big


def test_prepared_query_reruns_and_refreshes(spark):
    """Engine.prepare (round-6): the handle builds the plan once,
    run() re-executes it, refresh() forces a re-plan; results are
    identical across all three, and an unknown name raises."""
    import pytest as _pytest

    from morphl_community_edition_spark.engine import Engine
    from tests.conftest import SF_DIR_SMOKE

    eng = Engine(spark, SF_DIR_SMOKE)
    prep = eng.prepare("q01_pricing_summary")
    first = prep.run()
    built = prep.df
    assert prep.df is built, "second access must reuse the built plan"
    again = prep.run()
    assert again == first
    refreshed = prep.refresh().run()
    assert refreshed == first
    assert "Scan" in prep.explain() or "FileScan" in prep.explain()
    with _pytest.raises(KeyError, match="unknown query"):
        eng.prepare("nope")


def test_prepared_refresh_sees_rewritten_source_files(spark, tmp_path):
    """Round-6 review finding: refresh() promised a re-plan from
    changed source files, but both the prepared plan's snapshotted
    file listing AND the catalog's per-(session, sf_dir) table memo
    served the ORIGINAL files. refresh() now routes through
    catalog.invalidate_tables; this proves the contract end-to-end by
    overwriting a source parquet in-process and asserting the next
    run() reflects it."""
    import shutil

    import pandas as pd

    from morphl_community_edition_spark.engine import Engine
    from tests.conftest import SF_DIR_SMOKE

    shutil.copy(f"{SF_DIR_SMOKE}/documents.parquet", tmp_path / "documents.parquet")
    eng = Engine(spark, str(tmp_path))
    prep = eng.prepare("q24_exact_dedup")
    n_before = len(prep.run())
    assert n_before > 3

    pdf = pd.read_parquet(tmp_path / "documents.parquet").head(3)
    pdf.to_parquet(tmp_path / "documents.parquet")
    n_after = len(prep.refresh().run())
    assert n_after == 3, f"refresh did not re-plan: {n_after} vs expected 3"


def _registry(spark, ns: str, sf_dir: str | None) -> dict:
    """This session's registry entries of one namespace and sf_dir tag."""
    from morphl_community_edition_spark import session

    return {
        k[2]: v
        for k, v in session._REGISTRY.get(spark, {}).items()
        if k[0] == ns and k[1] == sf_dir
    }


def test_refresh_clears_valve_count_memos(spark, tmp_path):
    """refresh() must drop every session-registry entry derived from
    the rewritten sf_dir, not only the table plans. Two classes are
    result-affecting:

    - corpus row counts backing fractional df-valves (round-7 advice):
      the doc count is sf_dir-tagged, the semanticHash-keyed valve
      count is untagged; a valve resolved from a STALE count changes
      which shingles are cut;
    - built index artifacts: q153 used to memoize its compacted dedup
      index under a private key the hand-kept invalidation list never
      popped, so after a rewrite + refresh() it classified against the
      OLD corpus. Its result must equal q114's DuckDB oracle over the
      rewritten file."""
    import shutil

    import duckdb
    import pandas as pd

    from morphl_community_edition_spark.catalog import load_table
    from morphl_community_edition_spark.engine import Engine
    from morphl_community_edition_spark.operators import dedup as dedup_mod
    from morphl_community_edition_spark.queries import ORACLE_SQL
    from tests.conftest import SF_DIR_SMOKE
    from tools.localcheck import canon_hash

    docs_path = tmp_path / "documents.parquet"
    shutil.copy(f"{SF_DIR_SMOKE}/documents.parquet", docs_path)
    sf_dir = str(tmp_path)
    eng = Engine(spark, sf_dir)
    prep = eng.prepare("q114_incremental_dedup")
    prep.run()
    n_orig = _registry(spark, "pipeline_ops.doc_count", sf_dir)[None]
    assert n_orig > 10
    q153 = eng.prepare("q153_compacted_index_dedup")
    q153.run()
    assert _registry(spark, "artifact", sf_dir), "q153 index not a session artifact"

    # exercise the semanticHash-keyed valve memo too (exact_jaccard
    # with a fractional max_doc_freq resolves via _memo_count)
    dedup_mod._memo_count(load_table(spark, sf_dir, "documents"))
    assert _registry(spark, "dedup.frac_count", None)

    # rewrite the existing corpus: every non-src1 text becomes words
    # no src1 document shares, so no src1 doc stays a near/exact dup
    pdf = pd.read_parquet(docs_path)
    old = pdf["source"] != "src1"
    pdf.loc[old, "text"] = [
        " ".join(f"zz{d}w{i}" for i in range(12)) for d in pdf.loc[old, "doc_id"]
    ]
    pdf.to_parquet(docs_path)
    prep.refresh()
    for ns in ("pipeline_ops.doc_count", "artifact", "catalog.table"):
        assert not _registry(spark, ns, sf_dir), f"{ns} entries survived refresh"
    assert not _registry(spark, "dedup.frac_count", None), "frac-count memo survived refresh"

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
    want = canon_hash(con.execute(ORACLE_SQL["q153_compacted_index_dedup"]).df())
    got = canon_hash(q153.refresh().df.toPandas())
    assert got == want, "q153 classified against the pre-rewrite index"

    pdf.head(10).to_parquet(docs_path)
    prep.refresh().run()
    assert _registry(spark, "pipeline_ops.doc_count", sf_dir)[None] == 10, (
        "valve did not re-resolve from the rewritten corpus"
    )
